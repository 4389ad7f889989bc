"""t-digest and KLL tests: accuracy vs exact order statistics, merge
canonicalization, and Spark two-stage equivalence."""

from __future__ import annotations

import numpy as np
import pytest

from ddsketch_spark.core import kll as kll_core
from ddsketch_spark.core import tdigest as td_core
from ddsketch_spark.core.kll import KLLConfig
from ddsketch_spark.core.tdigest import TDigestConfig
from ddsketch_spark.operators import quantile_agg as qa

Q_GRID = (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)


def _dists(n, seed=11):
    rng = np.random.default_rng(seed)
    return {
        "normal": rng.normal(10, 3, n),
        "exponential": rng.exponential(1 / 17, n),
        "uniform_neg": rng.uniform(-50, 0, n),
        "lognormal": rng.lognormal(6, 1, n),
    }


def _rank_err(vals: np.ndarray, est: float, q: float) -> float:
    """|rank(est) - q*n| / n (rank-accuracy, the published guarantee)."""
    n = len(vals)
    return abs(np.searchsorted(np.sort(vals), est, side="right") - q * n) / n


# ---------------------------------------------------------------------------
# t-digest
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("dist", sorted(_dists(1).keys()))
def test_tdigest_rank_accuracy(dist):
    vals = _dists(100_000)[dist]
    cfg = TDigestConfig(delta=200)
    sk = td_core.add(td_core.empty(cfg), vals)
    assert sum(sk.weights) == sk.n == len(vals)
    assert len(sk.means) <= 2 * cfg.delta
    for q in Q_GRID:
        err = _rank_err(vals, td_core.quantile(sk, q), q)
        assert err <= 6.0 / cfg.delta, (q, err)


def test_tdigest_merge_canonical_and_accurate():
    vals = _dists(80_000)["lognormal"]
    cfg = TDigestConfig()
    parts = [td_core.add(td_core.empty(cfg), p) for p in np.array_split(vals, 16)]
    import random

    orders = [list(range(16)), list(range(15, -1, -1))]
    random.Random(5).shuffle(o3 := list(range(16)))
    orders.append(o3)
    merged = [td_core.merge_many([parts[i] for i in o]) for o in orders]
    for m in merged[1:]:
        assert np.array_equal(m.means, merged[0].means)
        assert np.array_equal(m.weights, merged[0].weights)
    for q in Q_GRID:
        err = _rank_err(vals, td_core.quantile(merged[0], q), q)
        assert err <= 6.0 / cfg.delta, (q, err)


def test_tdigest_min_max_exact():
    vals = np.array([3.5, -2.0, 100.25, 7.0])
    sk = td_core.add(td_core.empty(), vals)
    assert td_core.quantile(sk, 0.0) == -2.0
    assert td_core.quantile(sk, 1.0) == 100.25


# ---------------------------------------------------------------------------
# KLL
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("dist", sorted(_dists(1).keys()))
def test_kll_rank_accuracy(dist):
    vals = _dists(100_000)[dist]
    cfg = KLLConfig(k=200)
    sk = kll_core.add(kll_core.empty(cfg), vals)
    eps = 2 * 2.9 / cfg.k  # 2x margin on the random-parity bound
    for q in Q_GRID:
        err = _rank_err(vals, kll_core.quantile(sk, q), q)
        assert err <= eps, (q, err)
    # retained items stay sublinear
    assert kll_core.size(sk) < 3 * cfg.k * np.log2(len(vals) / cfg.k)


def test_kll_merge_canonical_and_accurate():
    vals = _dists(60_000)["normal"]
    cfg = KLLConfig(k=256)
    parts = [kll_core.add(kll_core.empty(cfg), p) for p in np.array_split(vals, 8)]
    m1 = kll_core.merge_many(parts)
    m2 = kll_core.merge_many(parts[::-1])
    assert kll_core.to_dict(m1) == kll_core.to_dict(m2)
    eps = 2 * 2.9 / cfg.k
    for q in Q_GRID:
        err = _rank_err(vals, kll_core.quantile(m1, q), q)
        assert err <= eps, (q, err)


def test_kll_exact_when_small():
    vals = np.arange(100, dtype=np.float64)
    sk = kll_core.add(kll_core.empty(), vals)
    # nothing compacted: every quantile is the exact order statistic
    assert kll_core.quantile(sk, 0.5) == 49.0 or kll_core.quantile(sk, 0.5) == 50.0
    assert kll_core.rank(sk, 49.0) == 50


def test_kll_roundtrip():
    sk = kll_core.add(kll_core.empty(KLLConfig(k=64)), _dists(20_000)["normal"])
    back = kll_core.from_dict(kll_core.to_dict(sk))
    assert kll_core.to_dict(back) == kll_core.to_dict(sk)


# ---------------------------------------------------------------------------
# Spark two-stage path
# ---------------------------------------------------------------------------

def test_tdigest_spark_accuracy(spark, sf_correct):
    li = spark.read.parquet(f"{sf_correct}/lineitem.parquet")
    vals = li.select("l_extendedprice").toPandas()["l_extendedprice"].to_numpy()
    ops = qa.tdigest_ops()
    rows = qa.quantiles(li, "l_extendedprice", ops, Q_GRID).collect()
    assert len(rows) == len(Q_GRID)
    for r in rows:
        assert r["n"] == len(vals)
        err = _rank_err(vals, r["estimate"], r["q"])
        assert err <= 6.0 / 200.0, (r["q"], err)


def test_kll_spark_grouped_accuracy(spark, sf_correct):
    ev = spark.read.parquet(f"{sf_correct}/events.parquet")
    pdf = ev.select("event_type", "value").toPandas()
    ops = qa.kll_ops(KLLConfig(k=200))
    rows = qa.quantiles(ev, "value", ops, Q_GRID, group_cols=("event_type",)).collect()
    eps = 2 * 2.9 / 200
    by_type = {et: grp["value"].to_numpy() for et, grp in pdf.groupby("event_type")}
    assert {r["event_type"] for r in rows} == set(by_type)
    for r in rows:
        vals = by_type[r["event_type"]]
        assert r["n"] == len(vals)
        err = _rank_err(vals, r["estimate"], r["q"])
        assert err <= eps, (r["event_type"], r["q"], err)


def test_kll_weight_conservation_odd_compactions():
    """sum(retained weights) == n after many odd-size compactions (the
    round-1 compactor promoted ceil(s/2) items at double weight, drifting
    total weight by +-2^level per odd compaction -- ADVICE r1)."""
    rng = np.random.default_rng(3)
    sk = kll_core.empty(KLLConfig(k=8))  # tiny k -> constant compaction
    total = 0
    for chunk in (7, 9, 11, 13, 17, 23, 101, 997):
        sk = kll_core.add(sk, rng.normal(0, 1, chunk))
        total += chunk
        retained = sum(
            int(buf.size) << lv for lv, buf in enumerate(sk.levels)
        )
        assert retained == total == sk.n, (retained, total, sk.n)


# ---------------------------------------------------------------------------
# Compacting-regime registered queries (VERDICT r3 item 1)
# ---------------------------------------------------------------------------

def test_compacting_queries_bound_holds_at_sf01(spark):
    """The registered rank-bound queries (fixed delta=200 / k=200, real
    compaction) emit within_rank_bound == TRUE at sf0.1 too -- the scale the
    bench runs at, 10x the driver's oracle scale."""
    import __spark_entry__ as entry

    qs = entry.queries()
    for name in ("tdigest_quantiles_price_compacting", "kll_quantiles_events_compacting"):
        rows = qs[name](spark, "/root/testdata/sf0.1").collect()
        assert len(rows) >= len(Q_GRID)
        bad = [r.asDict() for r in rows if not r["within_rank_bound"]]
        assert not bad, (name, bad)


def test_compacting_regime_state_bounded(spark, sf_correct):
    """The fixed-parameter pipeline actually compacts: merged per-group
    state stays O(delta) centroids / O(k log(n/k)) items at sf0.01 -- unlike
    the exactness tier, whose state is one centroid per distinct value."""
    li = spark.read.parquet(f"{sf_correct}/lineitem.parquet")
    n = li.count()
    td_states = qa.sketch_agg(li, "l_extendedprice", qa.tdigest_ops(TDigestConfig(delta=200))).collect()
    assert len(td_states) == 1
    assert len(td_states[0]["means"]) <= 2 * 200 < n
    kll_states = qa.sketch_agg(li, "l_extendedprice", qa.kll_ops(KLLConfig(k=200))).collect()
    assert len(kll_states) == 1
    assert len(kll_states[0]["items"]) < 3 * 200 * np.log2(n / 200) < n


def test_compacting_rank_bound_partition_layout_independent(spark, sf_correct):
    """The rank-bound boolean the driver gate compares must hold for ANY
    partition layout: estimates vary with layout (inherent to compacting
    sketches) but every layout's estimate stays within eps*n ranks -- the
    property that makes the boolean a deterministic oracle."""
    ev = spark.read.parquet(f"{sf_correct}/events.parquet")
    pdf = ev.select("event_type", "value").toPandas()
    by_type = {et: np.sort(g["value"].to_numpy()) for et, g in pdf.groupby("event_type")}
    for kind, (mk, eps) in {
        "tdigest": (lambda: qa.tdigest_ops(TDigestConfig(delta=200.0)), 6.0 / 200.0),
        "kll": (lambda: qa.kll_ops(KLLConfig(k=200)), 2 * 2.9 / 200),
    }.items():
        for parts in (1, 5, 17):
            rows = qa.quantiles(
                ev.repartition(parts), "value", mk(), Q_GRID,
                group_cols=("event_type",),
            ).collect()
            for r in rows:
                vals = by_type[r["event_type"]]
                rank = np.searchsorted(vals, r["estimate"], side="right")
                assert abs(rank - r["q"] * len(vals)) <= eps * len(vals), (
                    kind, parts, r["event_type"], r["q"],
                )
