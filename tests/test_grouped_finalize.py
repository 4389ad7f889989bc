"""The shared per-group finalize (operators._grouped): one collected row per
group, one Arrow pass per partition.  Pins the cases a list-offset slicer
gets wrong -- empty global input, groups spread over many Arrow batches,
null lists from the delete join -- and the merge guards it carries."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ddsketch_spark.config import Q_GRID, DDSketchConfig
from ddsketch_spark.core import ddsketch as core
from ddsketch_spark.core.bloom import BloomConfig
from ddsketch_spark.core.cms import CMSConfig
from ddsketch_spark.core.kll import KLLConfig
from ddsketch_spark.operators import _grouped
from ddsketch_spark.operators import approx_agg as aops
from ddsketch_spark.operators import ddsketch_agg as agg
from ddsketch_spark.operators import quantile_agg as qa
from ddsketch_spark.operators import sketch_agg as udaf

CFG = DDSketchConfig(bin_limit=64)
N_GROUPS = 23


@pytest.fixture(scope="module")
def values(spark):
    """(g, v): 23 groups of 40-400 lognormal values, shuffled over 5
    partitions so every group's rows spread across partitions and batches."""
    rng = np.random.default_rng(7)
    sizes = rng.integers(40, 400, N_GROUPS)
    g = np.repeat(np.arange(N_GROUPS), sizes)
    v = rng.lognormal(3.0, 1.5, g.size)
    order = rng.permutation(g.size)
    rows = [(int(a), float(b)) for a, b in zip(g[order], v[order])]
    df = spark.createDataFrame(rows, "g long, v double").repartition(5).cache()
    df.count()
    by_group = {k: v[g == k] for k in range(N_GROUPS)}
    yield df, by_group
    df.unpersist()


@pytest.fixture
def small_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    yield
    spark.conf.set(key, old)


def _by_group(rows, col="g"):
    return {r[col]: r.asDict() for r in rows}


def _core_state(vals, cfg=CFG) -> dict:
    return core.to_dict(core.add(core.empty(cfg), vals))


def test_global_ops_over_empty_input_return_no_rows(values):
    df, _ = values
    empty = df.where(F.col("g") < 0)
    kll = qa.kll_ops(KLLConfig(50))
    frames = {
        "sketch_udaf": udaf.sketch_udaf(empty, "v", CFG),
        "sketch_udaf_fanout": udaf.sketch_udaf(empty, "v", CFG, fanout=3),
        "ddsketch_agg.sketch": agg.sketch(empty, "v", CFG),
        "ddsketch_agg.quantiles": agg.quantiles(empty, "v", Q_GRID, CFG),
        "quantile_agg.sketch_agg": qa.sketch_agg(empty, "v", kll),
        "quantile_agg.quantiles": qa.quantiles(empty, "v", kll, Q_GRID),
        "hll_sketch": aops.hll_sketch(empty, "g"),
        "hll_estimate": aops.hll_estimate(empty, "g"),
        "cms_sketch": aops.cms_sketch(empty, "g", CMSConfig(depth=2, width=64)),
        "bloom_sketch": aops.bloom_sketch(empty, "g", BloomConfig(m_bits=256, k=2)),
    }
    for name, frame in frames.items():
        assert frame.collect() == [], name


def test_groups_over_many_batches_match_core(values, small_batches):
    """With 7-row Arrow batches every group's values cross many build
    batches and every finalize batch holds 7 collected groups: the state
    rows must still be byte-identical to the numpy core's one-shot build."""
    df, by_group = values
    udaf_rows = _by_group(udaf.sketch_udaf(df, "v", CFG, group_cols=("g",)).collect())
    native_rows = _by_group(agg.sketch(df, "v", CFG, group_cols=("g",)).collect())
    assert set(udaf_rows) == set(native_rows) == set(by_group)
    for k, vals in by_group.items():
        want = _core_state(vals)
        for rows in (udaf_rows, native_rows):
            got = dict(rows[k])
            assert got.pop("g") == k
            assert got == want, k


@pytest.mark.parametrize("qs", [Q_GRID, (0.99,)])
def test_evaluate_over_many_batches_matches_core(values, small_batches, qs):
    df, by_group = values
    states = udaf.sketch_udaf(df, "v", CFG, group_cols=("g",))
    for rows in (
        agg.quantiles_from_sketch(states, qs, ("g",)).collect(),
        agg.quantiles(df, "v", qs, CFG, ("g",)).collect(),
    ):
        assert len(rows) == N_GROUPS * len(qs)
        for r in rows:
            sk = core.add(core.empty(CFG), by_group[r["g"]])
            assert r["n"] == sk.n
            assert r["estimate"] == core.quantile(sk, r["q"])


def test_delete_only_touches_groups_with_deletes(values, small_batches):
    """A group found only in the delete frame gives no row; groups with no
    deletes come back exactly as stored; the rest lose exactly their
    deleted values."""
    df, by_group = values
    states = udaf.sketch_udaf(df, "v", CFG, group_cols=("g",)).cache()
    stored = _by_group(states.collect())
    hit = [k for k in by_group if k % 3 == 0]
    deletes = df.where(F.col("g") % 3 == 0).where(F.col("v") > 20.0)
    orphan = deletes.limit(5).withColumn("g", F.lit(999).cast("long"))
    out = _by_group(
        agg.delete_from_sketch(states, deletes.unionByName(orphan), "v", CFG, ("g",)).collect()
    )
    states.unpersist()
    assert set(out) == set(by_group)  # no row for the orphan group 999
    for k, vals in by_group.items():
        if k not in hit:
            assert out[k] == stored[k], k
            continue
        sk = core.add(core.empty(CFG), vals)
        gone = vals[vals > 20.0]
        keys = core.compute_keys(gone, CFG.ln_gamma, CFG.offset)
        core.delete_keyed(sk, keys, np.ones(gone.size, np.int64), keys_level=0)
        want = core.to_dict(sk)
        want["g"] = k
        assert out[k] == want, k


@pytest.mark.parametrize("field,cfgs", [
    ("alpha0", (DDSketchConfig(alpha=0.008), DDSketchConfig(alpha=0.02))),
    ("bin_limit", (DDSketchConfig(bin_limit=64), DDSketchConfig(bin_limit=128))),
])
def test_merge_rejects_mixed_configs(values, field, cfgs):
    df, _ = values
    a, b = (udaf.build_partials(df, "v", c, ("g",)) for c in cfgs)
    with pytest.raises(Exception) as ei:
        udaf.merge_partials(a.unionByName(b), ("g",)).collect()
    assert f"mixed '{field}'" in str(ei.value)
    assert "MergeError" in str(ei.value)


def test_fanout_merge_equals_one_level(values):
    df, _ = values
    parts = udaf.build_partials(df.repartition(11), "v", CFG, ("g",)).cache()
    flat = _by_group(udaf.merge_partials(parts, ("g",)).collect())
    tree = _by_group(udaf.merge_partials(parts, ("g",), fanout=3).collect())
    parts.unpersist()
    assert len(flat) == N_GROUPS
    assert tree == flat


def test_split_groups_matches_masks():
    """The build-side dispatch equals one boolean mask per group, for flat
    values and for list columns whose rows carry their elements."""
    rng = np.random.default_rng(3)
    codes = rng.integers(0, 6, 50)
    sizes = rng.integers(0, 5, 50)
    flat = rng.normal(size=sizes.sum())
    labels = np.repeat(codes, sizes)
    for got, k in zip(_grouped.split_groups(codes, 6, flat, sizes), range(6)):
        np.testing.assert_array_equal(got, flat[labels == k])
    vals = rng.normal(size=50)
    for got, k in zip(_grouped.split_groups(codes, 6, vals), range(6)):
        np.testing.assert_array_equal(got, vals[codes == k])
