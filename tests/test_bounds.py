"""Bound tier: each approximate sketch against an exact numpy answer.

The oracle suite compares every registered query with a DuckDB mirror of
the same algorithm, and a mirror reproduces any flaw of the algorithm
itself.  These tests assert each family's documented bound against exact
answers instead, on seeded keys that are realistic but adversarial for a
weak hash: consecutive small ints (an affine hash maps them to an
arithmetic progression), Zipf tokens (a heavy head whose collisions show),
and runs at the +-2^62 int64 edges.  The Spark operators run where they
ship the sketch; cell addresses are checked on core.cms.cells, which the
Spark counters equal cell for cell (test_approx_sketches).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from ddsketch_spark.config import Q_GRID
from ddsketch_spark.core import cms as cms_core
from ddsketch_spark.core import kll as kll_core
from ddsketch_spark.core import tdigest as td_core
from ddsketch_spark.core.bloom import BloomConfig
from ddsketch_spark.core.cms import CMSConfig
from ddsketch_spark.core.hll import HLLConfig
from ddsketch_spark.core.kll import KLLConfig
from ddsketch_spark.core.tdigest import TDigestConfig
from ddsketch_spark.operators import approx_agg as aa
from ddsketch_spark.operators import dedup as dd
from ddsketch_spark.operators import similarity as sim

N_KEYS = 100_000


def _consecutive() -> np.ndarray:
    return np.arange(N_KEYS, dtype=np.int64)


def _edges() -> np.ndarray:
    """Runs of 10,000 consecutive keys from 2^62 and from -2^62."""
    run = np.arange(10_000, dtype=np.int64)
    return np.concatenate([np.int64(1 << 62) + run, np.int64(-(1 << 62)) + run])


def _zipf(seed: int = 11) -> np.ndarray:
    tok = np.random.default_rng(seed).zipf(1.2, N_KEYS)
    return tok[tok < 1 << 20].astype(np.int64)


KEYS = {"consecutive": _consecutive, "edges": _edges, "zipf": _zipf}


# ---------------------------------------------------------------------------
# count-min (Cormode & Muthukrishnan 2005): independent rows
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "cfg", [CMSConfig(), CMSConfig(depth=5, width=100_003)], ids=lambda c: f"d{c.depth}-w{c.width}"
)
@pytest.mark.parametrize("keys", ["consecutive", "edges"])
def test_cms_shifted_keys_share_rows_at_chance_rate(cfg, keys):
    """x and x + w share a row's cell with probability 1/w per row and all
    d cells with probability w^-d, if the rows address independently.  An
    affine address ``(a*x + b) mod w`` makes both rates 1."""
    x = KEYS[keys]()
    w, d = cfg.width, cfg.depth
    same = cms_core.cells(x, cfg) == cms_core.cells(x + w, cfg)
    chance = len(x) / w  # expected shared pairs per row
    per_row = same.sum(axis=0)
    assert per_row.max() <= chance + 6 * math.sqrt(chance) + 6, per_row
    assert same.all(axis=1).sum() <= 1, "pairs sharing every row"


def test_cms_zipf_tokens_within_documented_bound(spark):
    """The bound core.cms documents: a point estimate never undercounts, and
    overshoots by more than e/w * N with probability <= e^-d per key.  On a
    Zipf stream the linear address put every key congruent to the head
    token mod w above the bound (about 3 % of the distinct tokens, by about
    N/5)."""
    cfg = CMSConfig()
    tok = _zipf()
    items, true = np.unique(tok, return_counts=True)
    stream = spark.createDataFrame(pd.DataFrame({"token": tok}))
    probes = spark.createDataFrame(pd.DataFrame({"item": items}))
    got = aa.cms_point_query(stream, "token", probes, "item", cfg).toPandas()
    est = got.set_index("probe")["est"].reindex(items).to_numpy()
    over = est - true
    assert over.min() >= 0, "count-min undercounted"
    bound = math.e / cfg.width * len(tok)
    share = float((over > bound).mean())
    assert share <= math.exp(-cfg.depth), (share, int(over.max()), bound)


# ---------------------------------------------------------------------------
# HLL, Bloom, MinHash: the families already on the mixed hash
# ---------------------------------------------------------------------------

def test_hll_within_four_standard_errors(spark):
    """Flajolet et al.: relative standard error 1.04 / sqrt(m)."""
    cfg = HLLConfig(p=12)
    pdf = pd.concat([pd.DataFrame({"kind": k, "x": make()}) for k, make in KEYS.items()])
    est = aa.hll_estimate(spark.createDataFrame(pdf), "x", cfg, ("kind",)).toPandas()
    se = 1.04 / math.sqrt(cfg.m)
    for kind, e in zip(est["kind"], est["estimate"]):
        true = len(np.unique(KEYS[kind]()))
        assert abs(e - true) <= 4 * se * true, (kind, e, true)


def test_bloom_false_positive_rate(spark):
    """Bloom 1970: no false negatives, and a false-positive rate of about
    (1 - e^(-kn/m))^k over keys never inserted."""
    cfg = BloomConfig(m_bits=1 << 16, k=5)
    members = np.concatenate([np.arange(5_000), _edges()[::2]])
    outsiders = np.concatenate([np.arange(5_000, 25_000), _edges()[1::2]])
    probes = np.concatenate([members, outsiders])
    df = spark.createDataFrame(pd.DataFrame({"x": members}))
    pr = spark.createDataFrame(pd.DataFrame({"probe": probes}))
    got = aa.bloom_might_contain(df, "x", pr, "probe", cfg).toPandas()
    hit = dict(zip(got["probe"], got["might_contain"]))
    assert all(hit[int(v)] for v in members), "false negative"
    fp = np.mean([hit[int(v)] for v in outsiders])
    p = (1 - math.exp(-cfg.k * len(members) / cfg.m_bits)) ** cfg.k
    assert fp <= p + 4 * math.sqrt(p * (1 - p) / len(outsiders)), (fp, p)


def test_minhash_jaccard_error(spark):
    """The share of equal min-wise components estimates Jaccard with
    standard error sqrt(J (1 - J) / k), here on consecutive-int shingles."""
    k, size = 32, 300
    rows, want = [], {}
    for i, j in enumerate((0.1, 0.25, 0.5, 0.75, 0.9) * 6):
        # |A| = |B| = size, |A & B| = s: J = s / (2 size - s)
        s = round(2 * size * j / (1 + j))
        base = i * 10_000
        rows += [(2 * i, base + t) for t in range(size)]
        rows += [(2 * i + 1, base + size - s + t) for t in range(size)]
        want[i] = s / (2 * size - s)
    sh = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "shingle"]))
    sig = dd.minhash_signatures(sh, num_hashes=k).toPandas().set_index("doc_id")
    errs = []
    for i, jac in want.items():
        est = float(np.mean(sig.loc[2 * i].to_numpy() == sig.loc[2 * i + 1].to_numpy()))
        se = math.sqrt(jac * (1 - jac) / k)
        assert abs(est - jac) <= 4 * se, (i, est, jac)
        errs.append(est - jac)
    assert abs(np.mean(errs)) <= 0.04, errs  # no bias: 3 SE of the mean of 30


# ---------------------------------------------------------------------------
# hyperplane LSH (Charikar 2002): random planes
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("n_planes", [8, 16])
def test_hyperplanes_are_spread(n_planes):
    """Random planes in 64 dimensions are nearly orthogonal; the affine
    limb hash gave planes at pairwise cos 0.99999999."""
    p = sim.hyperplanes(n_planes, sim.EMB_DIM)
    u = p / np.linalg.norm(p, axis=1, keepdims=True)
    cos = np.abs(u @ u.T)
    np.fill_diagonal(cos, 0.0)
    assert cos.max() < 0.5, cos.max()


def test_lsh_cosine_pairs_candidate_share(spark, sf_correct):
    """At 16 planes in 4 bands, a pair is a candidate with probability
    1 - (1 - (1 - theta/pi)^4)^4; over the sf0.01 embeddings that keeps
    under a quarter of all pairs (0.229 measured) -- with two buckets per
    band, as the degenerate planes gave, it was half (0.499)."""
    emb = spark.read.parquet(f"{sf_correct}/embeddings.parquet")
    n = emb.count()
    cand = sim.lsh_cosine_pairs(emb, -1.0, n_planes=16, bands=4).count()
    assert cand <= 0.25 * n * (n - 1) / 2, (cand, n)


# ---------------------------------------------------------------------------
# quantile sketches: rank error on the Q grid
# ---------------------------------------------------------------------------

N_VALUES = 1_000_000
FEEDS = ("batches-100", "batches-1000", "one-batch", "merge-8")


def _values(dist: str) -> np.ndarray:
    rng = np.random.default_rng(11)
    return rng.normal(10, 3, N_VALUES) if dist == "normal" else rng.lognormal(6, 1, N_VALUES)


def _feed(core, cfg, vals: np.ndarray, feed: str):
    """A sketch of ``vals`` built the way ``feed`` names."""
    if feed == "merge-8":
        return core.merge_many([core.add(core.empty(cfg), p) for p in np.array_split(vals, 8)])
    step = int(feed.split("-")[1]) if feed.startswith("batches") else len(vals)
    sk = core.empty(cfg)
    for i in range(0, len(vals), step):
        core.add(sk, vals[i : i + step])
    return sk


def _worst_rank_error(vals: np.ndarray, estimates) -> float:
    """max |rank(estimate) - q n| / n over the Q grid, by exact ranks."""
    ranks = np.searchsorted(np.sort(vals), estimates, side="right")
    return float(np.max(np.abs(ranks - np.asarray(Q_GRID) * len(vals))) / len(vals))


@pytest.mark.parametrize("feed", FEEDS)
@pytest.mark.parametrize("dist", ["normal", "lognormal"])
def test_kll_rank_error_within_bound(dist, feed):
    """KLL (Karnin, Lang & Liberty 2016): rank error eps ~ 2.9 / k, asserted
    with a 2x margin.  A compaction coin that is not independent across a
    level's compactions lets the error grow with n (0.04-0.06 here when it
    was the low bit of the compaction counter)."""
    cfg = KLLConfig(k=200)
    vals = _values(dist)
    sk = _feed(kll_core, cfg, vals, feed)
    assert sk.n == N_VALUES
    err = _worst_rank_error(vals, kll_core.quantiles(sk, Q_GRID))
    assert err <= 2 * 2.9 / cfg.k, err


@pytest.mark.parametrize("feed", ["batches-1000", "one-batch", "merge-8"])
def test_tdigest_rank_error_within_bound(feed):
    """t-digest (Dunning & Ertl): rank error within 6 / delta."""
    cfg = TDigestConfig(delta=200)
    vals = _values("lognormal")
    err = _worst_rank_error(vals, td_core.quantiles(_feed(td_core, cfg, vals, feed), Q_GRID))
    assert err <= 6 / cfg.delta, err


# ---------------------------------------------------------------------------
# DDSketch (Masson, Rim & Lee 2019): relative error alpha at every q
# ---------------------------------------------------------------------------

def _dds_frames(spark):
    """``(df, {group: values})`` pairs, each row of ``df`` one group's chunk
    of its values in the array column ``v``: Zipf tokens as longs (the
    integer bincount path), then doubles -- one value repeated 100,000
    times, and mixed signs where every 7th value is an exact zero."""
    rng = np.random.default_rng(13)
    mixed = rng.normal(0, 50, 60_000)
    mixed[::7] = 0.0
    frames = []
    for ddl, groups in (("long", {"zipf": _zipf()}),
                        ("double", {"repeated": np.full(100_000, 3.25), "mixed": mixed})):
        chunks = [(g, v[i : i + 2000].tolist()) for g, v in groups.items() for i in range(0, len(v), 2000)]
        frames.append((spark.createDataFrame(chunks, f"g string, v array<{ddl}>"), groups))
    return frames


@pytest.mark.parametrize("bin_limit", [500, 32])
def test_ddsketch_within_alpha_of_exact(spark, bin_limit):
    """Every Q_GRID estimate of both Spark builds (the Arrow partials and the
    JVM histogram) and of an 8-way merge of partials lies within the state's
    own alpha -- the collapsed level's, at bin_limit 32 -- of the exact order
    statistic."""
    from ddsketch_spark.config import DDSketchConfig
    from ddsketch_spark.core import ddsketch as dds_core
    from ddsketch_spark.operators import ddsketch_agg as agg
    from ddsketch_spark.operators import sketch_agg as udaf
    from tests.reference_oracle import exact_quantile

    cfg = DDSketchConfig(bin_limit=bin_limit)
    levels = []
    for df, groups in _dds_frames(spark):
        builds = {
            "arrow": udaf.sketch_udaf(df, "v", cfg, ("g",), array_col=True),
            "native": agg.sketch(df, "v", cfg, ("g",), explode_array=True),
            "merge-8": udaf.merge_partials(
                udaf.build_partials(df.repartition(8), "v", cfg, ("g",), array_col=True), ("g",)),
        }
        for build, states in builds.items():
            rows = states.collect()
            assert sorted(r["g"] for r in rows) == sorted(groups), build
            for r in rows:
                sk, vals = dds_core.from_dict(r.asDict()), groups[r["g"]]
                assert sk.n == len(vals) and sk.size <= bin_limit
                levels.append(sk.level)
                for q, est in zip(Q_GRID, dds_core.quantiles(sk, Q_GRID)):
                    true = exact_quantile(vals, q)
                    assert abs(est - true) <= sk.alpha * abs(true) * (1 + 1e-12), (build, r["g"], q)
    assert max(levels) >= (1 if bin_limit == 32 else 0)
