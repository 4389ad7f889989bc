"""Extension-sketch tests: HLL / count-min / Bloom.

Three layers per sketch (mirrors the DDSketch test strategy, SURVEY.md §5):
  1. numpy-core accuracy vs exact oracles (published error bounds);
  2. merge algebra: canonical state identical under merge reordering;
  3. Spark JVM path == numpy core bit-for-bit (hash/register/cell/bit
     parity between the codegen'd columns and the vectorized core).
"""

from __future__ import annotations

import math
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from ddsketch_spark.core import bloom as bloom_core
from ddsketch_spark.core import cms as cms_core
from ddsketch_spark.core import hll as hll_core
from ddsketch_spark.core.bloom import BloomConfig
from ddsketch_spark.core.cms import CMSConfig
from ddsketch_spark.core.hll import HLLConfig
from ddsketch_spark.functions.hashing import HASH_BITS, MERSENNE61, bitlen_np
from ddsketch_spark.operators import approx_agg as ops


def _values(n: int, distinct: int, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(0, distinct, size=n).astype(np.int64)


# ---------------------------------------------------------------------------
# HLL core
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("true_d", [100, 5_000, 200_000])
def test_hll_accuracy(true_d):
    cfg = HLLConfig(p=12)
    sk = hll_core.add(hll_core.empty(cfg), np.arange(true_d, dtype=np.int64))
    est = hll_core.estimate(sk)
    # 1.04/sqrt(m) ~= 1.6% rse at p=12; allow 5 sigma
    assert abs(est - true_d) / true_d < 5 * 1.04 / math.sqrt(cfg.m)


def test_hll_merge_reordering_byte_identical():
    cfg = HLLConfig()
    parts = [
        hll_core.add(hll_core.empty(cfg), _values(5000, 3000, seed=i))
        for i in range(8)
    ]
    orders = [list(range(8)), list(range(7, -1, -1))]
    random.Random(1).shuffle(order3 := list(range(8)))
    orders.append(order3)
    states = []
    for order in orders:
        acc = hll_core.empty(cfg)
        for i in order:
            acc = hll_core.merge(acc, parts[i])
        states.append(acc)
    for s in states[1:]:
        assert np.array_equal(s.idxs, states[0].idxs)
        assert np.array_equal(s.rhos, states[0].rhos)


def test_hll_merge_equals_single_build():
    cfg = HLLConfig()
    a, b = _values(10_000, 8_000, seed=1), _values(10_000, 8_000, seed=2)
    merged = hll_core.merge(
        hll_core.add(hll_core.empty(cfg), a), hll_core.add(hll_core.empty(cfg), b)
    )
    single = hll_core.add(hll_core.empty(cfg), np.concatenate([a, b]))
    assert np.array_equal(merged.idxs, single.idxs)
    assert np.array_equal(merged.rhos, single.rhos)


def test_hll_spark_matches_core(spark):
    cfg = HLLConfig()
    vals = _values(20_000, 9_000)
    df = spark.createDataFrame([(int(v),) for v in vals], "x long").repartition(6)
    rows = ops.hll_estimate(df, "x", cfg).collect()
    assert len(rows) == 1
    sk = hll_core.add(hll_core.empty(cfg), vals)
    assert rows[0]["estimate"] == pytest.approx(hll_core.estimate(sk), abs=0.0)
    assert rows[0]["v_zero"] == cfg.m - len(sk.idxs)
    assert rows[0]["checksum"] == hll_core.register_checksum(sk)


def test_hll_spark_state_grouped(spark, sf_correct):
    cfg = HLLConfig(p=10)
    ev = spark.read.parquet(f"{sf_correct}/events.parquet")
    states = {
        r["event_type"]: r
        for r in ops.hll_sketch(ev, "user_id", cfg, group_cols=("event_type",)).collect()
    }
    pdf = ev.select("event_type", "user_id").toPandas()
    for et, grp in pdf.groupby("event_type"):
        sk = hll_core.add(
            hll_core.empty(cfg), grp["user_id"].to_numpy().astype(np.int64)
        )
        assert list(states[et]["idxs"]) == sk.idxs.tolist()
        assert list(states[et]["rhos"]) == sk.rhos.tolist()


# ---------------------------------------------------------------------------
# HLL rank boundaries: values whose h >> p sits on a bit-length edge
# ---------------------------------------------------------------------------

def _hash_preimage(target: int, a: int, b: int) -> int | None:
    """An int64 ``x`` whose linear limb hash ``_hash_np(x, a, b)`` is
    ``target``, or None.

    The hash is ``a*lo + a2*mid + a3*hi + b (mod P)`` over the limbs of x.
    For each ``hi``, the (lo, mid) solutions form a coset of the lattice
    {(u, v): a*u + a2*v = 0 (mod P)}; a Lagrange-reduced basis and Babai
    rounding toward the centre of the 31-bit box find a member inside it
    when one is near."""
    from ddsketch_spark.functions.hashing import _hash_np, _limb_params

    P, half = MERSENNE61, 1 << 30
    a2, a3 = _limb_params(a, b)
    inv_a = pow(a, -1, P)
    u, v = (P, 0), ((-a2 * inv_a) % P, 1)
    while True:  # Lagrange reduction: |u| <= |v|, then v -= round(<u,v>/|u|^2) u
        if u[0] ** 2 + u[1] ** 2 > v[0] ** 2 + v[1] ** 2:
            u, v = v, u
        k = round((u[0] * v[0] + u[1] * v[1]) / (u[0] ** 2 + u[1] ** 2))
        if k == 0:
            break
        v = (v[0] - k * u[0], v[1] - k * u[1])
    det = u[0] * v[1] - u[1] * v[0]
    for hi in range(4):
        y0 = ((target - b - a3 * hi) * inv_a) % P - half
        y1 = -half
        cu = round((y0 * v[1] - y1 * v[0]) / det)
        cv = round((u[0] * y1 - u[1] * y0) / det)
        for du in (-1, 0, 1):
            for dv in (-1, 0, 1):
                lo = y0 + half - (cu + du) * u[0] - (cv + dv) * v[0]
                mid = -(cu + du) * u[1] - (cv + dv) * v[1]
                if 0 <= lo < 1 << 31 and 0 <= mid < 1 << 31:
                    x = lo | mid << 31 | hi << 62
                    x = x - (1 << 64) if x >= 1 << 63 else x
                    if int(_hash_np(np.array([x], np.int64), a, b)[0]) == target:
                        return x
    return None


def _rest_preimage(cfg: HLLConfig, idx: int, rest: int) -> int | None:
    """An int64 whose mixed hash is ``rest << p | idx`` (the mix squares
    mod P, so the linear hash is a square root of it), or None."""
    h = rest << cfg.p | idx
    root = pow(h, (MERSENNE61 + 1) // 4, MERSENNE61)  # P = 3 (mod 4)
    if h >= MERSENNE61 or root * root % MERSENNE61 != h:
        return None
    for r in (root, MERSENNE61 - root):
        x = _hash_preimage(r, *cfg.hash_ab)
        if x is not None:
            return x
    return None


def _rank_edge_values(cfg: HLLConfig) -> np.ndarray:
    """Values whose ``h >> p`` is 0, 1, 2^k - 1 and 2^k (k up to the top
    bit), several per register so ``min(h >> p)`` has to choose; checked
    against the ranks core.hll.idx_rho gives them."""
    top = HASH_BITS - cfg.p
    edges = {0, 1, (1 << top) - 1}
    for k in (1, 2, 30, 31, 52, 53, 54, top - 1):
        if k < top:
            edges |= {(1 << k) - 1, 1 << k}
    vals, rests = [], []
    for rest in sorted(edges):
        found = 0
        for idx in range(cfg.m):
            x = _rest_preimage(cfg, idx, rest)
            if x is not None:
                vals.append(x)
                rests.append(rest)
                found += 1
                if found == 3:
                    break
        assert found, rest
    vals = np.array(vals, np.int64)
    _, rho = hll_core.idx_rho(vals, cfg)
    assert np.array_equal(rho, top - bitlen_np(np.array(rests, np.int64)) + 1)
    return vals


def _edge_table(spark, vals: np.ndarray):
    """(g, x): the values spread over groups "a", "b" and NULL (each group
    sees every value at least once, so shared registers compete), plus a
    NULL value in each group and the int64 edges."""
    extremes = [0, -1, 2**31 - 1, 2**31, -(2**31), 2**62, -(2**63), 2**63 - 1]
    rows = [(g, int(v)) for i, v in enumerate(vals) for g in ("a", "b", None)[: 1 + i % 3]]
    rows += [(g, x) for g in ("a", "b", None) for x in [None, *extremes]]
    rows += [("a", int(v)) for v in vals]
    return spark.createDataFrame(rows, "g string, x long").repartition(3, "x"), rows


def _by_group(rows) -> dict:
    out: dict = {}
    for g, x in rows:
        if x is not None:
            out.setdefault(g, []).append(x)
    return {g: np.array(v, np.int64) for g, v in out.items()}


@pytest.mark.parametrize("p", [4, 10, 14])
def test_hll_rank_edges_match_core(spark, p):
    """``min(h >> p)`` per register, ranked after the shuffle, equals the
    core's per-value ``max(rho)`` on values that sit on every bit-length
    edge of ``h >> p`` -- through hll_registers, hll_sketch and
    hll_estimate_rollup, with NULL values and a NULL group mixed in."""
    cfg = HLLConfig(p=p)
    df, rows = _edge_table(spark, _rank_edge_values(cfg))
    want = {g: hll_core.add(hll_core.empty(cfg), v) for g, v in _by_group(rows).items()}

    regs: dict = {}
    for r in ops.hll_registers(df, "x", cfg, ("g",)).collect():
        regs.setdefault(r["g"], []).append((r["idx"], r["rho"]))
    assert {g: sorted(v) for g, v in regs.items()} == {
        g: list(zip(sk.idxs.tolist(), sk.rhos.tolist())) for g, sk in want.items()
    }
    states = {r["g"]: r for r in ops.hll_sketch(df, "x", cfg, ("g",)).collect()}
    assert set(states) == set(want)
    for g, sk in want.items():
        assert list(states[g]["idxs"]) == sk.idxs.tolist()
        assert list(states[g]["rhos"]) == sk.rhos.tolist()

    everything = hll_core.add(hll_core.empty(cfg), np.concatenate(list(_by_group(rows).values())))
    want_rollup = sorted(
        (g, hll_core.estimate(sk), cfg.m - len(sk.idxs), hll_core.register_checksum(sk))
        for g, sk in [*want.items(), ("__ALL__", everything)]
        if g is not None
    )
    got = ops.hll_estimate_rollup(df, "x", "g", cfg).collect()
    assert sorted(tuple(r) for r in got if r["g"] is not None) == want_rollup
    assert [r["checksum"] for r in got if r["g"] is None] == [
        hll_core.register_checksum(want[None])
    ]


def test_hll_rollup_keeps_a_group_named_like_the_global_label(spark):
    """A genuine group whose value is the global row's label keeps its own
    row: its estimate equals hll_estimate for that group, and the global
    row equals the ungrouped hll_estimate."""
    cfg = HLLConfig(p=10)
    rows = [("__ALL__", i) for i in range(300)] + [("x", 10_000 + i) for i in range(1000)]
    df = spark.createDataFrame(rows, "g string, v long")
    key = lambda r: (r["estimate"], r["v_zero"], r["checksum"])
    grouped = {r["g"]: key(r) for r in ops.hll_estimate(df, "v", cfg, ("g",)).collect()}
    glob = key(ops.hll_estimate(df, "v", cfg).collect()[0])
    got = ops.hll_estimate_rollup(df, "v", "g", cfg).collect()
    assert sorted(key(r) for r in got if r["g"] == "__ALL__") == sorted([grouped["__ALL__"], glob])
    assert [key(r) for r in got if r["g"] == "x"] == [grouped["x"]]


def test_hll_rollup_on_a_long_group_column(spark):
    """A non-string group column comes back as a string beside the global
    label; each group's v_zero and checksum equal hll_estimate's for that
    group, and the '__ALL__' row equals the global estimate."""
    cfg = HLLConfig(p=10)
    rows = [(g, g * 100_000 + i) for g in (1, 2, 3) for i in range(200 * g)]
    df = spark.createDataFrame(rows, "g long, v long")
    key = lambda r: (r["estimate"], r["v_zero"], r["checksum"])
    grouped = {str(r["g"]): key(r) for r in ops.hll_estimate(df, "v", cfg, ("g",)).collect()}
    grouped["__ALL__"] = key(ops.hll_estimate(df, "v", cfg).collect()[0])
    out = ops.hll_estimate_rollup(df, "v", "g", cfg)
    assert out.schema["g"].dataType.simpleString() == "string"
    assert {r["g"]: key(r) for r in out.collect()} == grouped


# ---------------------------------------------------------------------------
# count-min core
# ---------------------------------------------------------------------------

def test_cms_never_undercounts_and_bounds():
    cfg = CMSConfig(depth=4, width=2048)
    vals = _values(50_000, 500)  # heavy collisions impossible: 500 << 2048
    sk = cms_core.add(cms_core.empty(cfg), vals)
    items, true_counts = np.unique(vals, return_counts=True)
    est = cms_core.point_query(sk, items)
    assert np.all(est >= true_counts)  # structural guarantee
    # eps = e/width; overshoot > eps*N for a given item w.p. <= e^-depth
    eps_n = math.e / cfg.width * sk.n
    assert np.mean(est - true_counts > eps_n) < 0.05


def test_cms_merge_reordering():
    cfg = CMSConfig()
    parts = [cms_core.add(cms_core.empty(cfg), _values(5000, 100, seed=i)) for i in range(6)]
    acc1 = cms_core.empty(cfg)
    for p in parts:
        acc1 = cms_core.merge(acc1, p)
    acc2 = cms_core.empty(cfg)
    for p in reversed(parts):
        acc2 = cms_core.merge(acc2, p)
    assert np.array_equal(acc1.counters, acc2.counters)
    assert acc1.n == acc2.n == 30_000


def test_cms_spark_matches_core(spark):
    cfg = CMSConfig(depth=3, width=512)
    vals = _values(30_000, 400)
    df = spark.createDataFrame([(int(v),) for v in vals], "x long").repartition(5)
    probes = spark.createDataFrame([(int(v),) for v in np.unique(vals)], "item long")
    got = {
        r["probe"]: r["est"]
        for r in ops.cms_point_query(df, "x", probes, "item", cfg).collect()
    }
    sk = cms_core.add(cms_core.empty(cfg), vals)
    items = np.unique(vals)
    want = cms_core.point_query(sk, items)
    assert got == {int(i): int(w) for i, w in zip(items, want)}


@pytest.mark.parametrize("depth,width", [(1, 64), (4, 2048), (5, 100_003)])
def test_cms_counters_match_core_cells(spark, depth, width):
    """The flat-cell counters equal a bincount of core.cms.cells per group,
    and the dense cms_sketch states equal core.cms's, with NULL values, a
    NULL group and the int64 edges in the input."""
    cfg = CMSConfig(depth=depth, width=width)
    df, rows = _edge_table(spark, _values(3000, 700) - 350)
    got: dict = {}
    for r in ops.cms_counters(df, "x", cfg, ("g",)).collect():
        got.setdefault(r["g"], {})[(r["row"], r["col"])] = r["cnt"]
    want = {}
    for g, v in _by_group(rows).items():
        counts = np.bincount(cms_core.cells(v, cfg).ravel(), minlength=depth * width)
        want[g] = {
            (int(c) // width, int(c) % width): int(counts[c]) for c in np.flatnonzero(counts)
        }
    assert got == want
    states = {r["g"]: r.asDict() for r in ops.cms_sketch(df, "x", cfg, ("g",)).collect()}
    assert states == {
        g: {"g": g, **cms_core.to_dict(cms_core.add(cms_core.empty(cfg), v))}
        for g, v in _by_group(rows).items()
    }


def test_cms_heavy_hitters_spark(spark):
    # zipf-ish: item 0 is 30% of the stream
    rng = np.random.default_rng(3)
    vals = np.concatenate([np.zeros(3000, np.int64), rng.integers(1, 500, 7000)])
    df = spark.createDataFrame([(int(v),) for v in vals], "x long")
    hh = {r["item"]: r["est"] for r in ops.cms_heavy_hitters(df, "x", 0.1).collect()}
    assert 0 in hh and hh[0] >= 3000  # no false negative, never undercounts


# ---------------------------------------------------------------------------
# Bloom core
# ---------------------------------------------------------------------------

def test_bloom_no_false_negatives_and_fpr():
    cfg = BloomConfig(m_bits=1 << 14, k=5)
    inserted = np.arange(1000, dtype=np.int64)
    sk = bloom_core.add(bloom_core.empty(cfg), inserted)
    assert bool(np.all(bloom_core.might_contain(sk, inserted)))
    absent = np.arange(10_000, 30_000, dtype=np.int64)
    fpr = float(np.mean(bloom_core.might_contain(sk, absent)))
    # theory: (1 - e^{-kn/m})^k ~= 0.17% here; allow generous headroom
    k, n, m = cfg.k, len(inserted), cfg.m_bits
    assert fpr < 3 * (1 - math.exp(-k * n / m)) ** k + 0.002


def test_bloom_merge_reordering():
    cfg = BloomConfig()
    parts = [bloom_core.add(bloom_core.empty(cfg), _values(2000, 10_000, seed=i)) for i in range(5)]
    acc1, acc2 = bloom_core.empty(cfg), bloom_core.empty(cfg)
    for p in parts:
        acc1 = bloom_core.merge(acc1, p)
    for p in reversed(parts):
        acc2 = bloom_core.merge(acc2, p)
    assert np.array_equal(acc1.words, acc2.words)


def test_bloom_spark_matches_core(spark):
    cfg = BloomConfig(m_bits=1 << 13, k=4)
    vals = _values(5000, 3000)
    df = spark.createDataFrame([(int(v),) for v in vals], "x long").repartition(4)
    probe_vals = np.arange(0, 6000, dtype=np.int64)
    probes = spark.createDataFrame([(int(v),) for v in probe_vals], "p long")
    got = {
        r["probe"]: r["might_contain"]
        for r in ops.bloom_might_contain(df, "x", probes, "p", cfg).collect()
    }
    sk = bloom_core.add(bloom_core.empty(cfg), vals)
    want = bloom_core.might_contain(sk, probe_vals)
    assert got == {int(p): bool(w) for p, w in zip(probe_vals, want)}
    # every inserted value answers True through the Spark path
    assert all(got[int(v)] for v in np.unique(vals))


def test_bloom_spark_state_roundtrip(spark):
    cfg = BloomConfig(m_bits=1 << 12, k=3)
    vals = _values(2000, 1500)
    df = spark.createDataFrame([(int(v),) for v in vals], "x long")
    rows = ops.bloom_sketch(df, "x", cfg).collect()
    assert len(rows) == 1
    got = bloom_core.from_dict(rows[0].asDict())
    want = bloom_core.add(bloom_core.empty(cfg), vals)
    assert np.array_equal(got.words, want.words)
    assert got.n == want.n == 2000
    # grouped, with NULL values, a NULL group and the int64 edges
    df, rows = _edge_table(spark, vals)
    states = {r["g"]: r.asDict() for r in ops.bloom_sketch(df, "x", cfg, ("g",)).collect()}
    assert states == {
        g: {"g": g, **bloom_core.to_dict(bloom_core.add(bloom_core.empty(cfg), v))}
        for g, v in _by_group(rows).items()
    }


# ---------------------------------------------------------------------------
# local_topk_candidates Misra-Gries core (ADVICE r4: quantified guarantee)
# ---------------------------------------------------------------------------

def _mg_batches(spec):
    """spec: list of dicts {key: count}; yields one pandas batch each."""
    import pandas as pd

    for d in spec:
        items = []
        for k, c in d.items():
            items.extend([k] * c)
        yield pd.DataFrame({"item": items})


def test_local_topk_no_prune_is_exact_topk():
    from ddsketch_spark.operators.approx_agg import local_topk_pandas

    spec = [{1: 5, 2: 3}, {3: 4, 2: 2}, {4: 1}]
    got = set(local_topk_pandas(_mg_batches(spec), k_local=2, prune_factor=8))
    assert got == {1, 2}  # true counts 5, 5, 4, 1 -> top-2 = {1, 2}


def test_local_topk_mg_guarantee_under_adversarial_churn():
    """The Misra-Gries bound: any key with true within-partition count >=
    N/(cap+1) + max-other-count must be emitted no matter how its
    occurrences interleave with churning one-off keys. Key 0 arrives 10 per
    batch amid 12 fresh one-off keys per batch (dozens of prunes at
    cap=4); true(0)=500 >= N/5 + 1 = 221, so it must survive."""
    from ddsketch_spark.operators.approx_agg import local_topk_pandas

    spec = []
    uid = 10_000
    for _ in range(50):
        d = {0: 10}
        for j in range(12):
            d[uid + j] = 1
        uid += 12
        spec.append(d)
    got = local_topk_pandas(_mg_batches(spec), k_local=2, prune_factor=2)
    assert 0 in set(got)
    assert len(got) <= 2 * 2 * 2  # bounded by 2*cap even with floor widening


def test_local_topk_output_bounded_by_capacity():
    from ddsketch_spark.operators.approx_agg import local_topk_pandas

    # pure churn: every key is a one-off; emission must stay within the
    # prune capacity no matter how large the floor grows
    spec = [{i * 100 + j: 1 for j in range(20)} for i in range(40)]
    got = local_topk_pandas(_mg_batches(spec), k_local=2, prune_factor=2)
    assert len(got) <= 2 * 2 * 2
