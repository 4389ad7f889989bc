"""Spark e2e: the JVM-native DDSketch aggregation path vs the numpy core and
exact oracles, over real testdata and the F2 value-stream fixtures."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ddsketch_spark.config import Q_GRID, DDSketchConfig
from ddsketch_spark.core import ddsketch as core
from ddsketch_spark.functions.ddsketch_sql import dds_key
from ddsketch_spark.operators import ddsketch_agg as agg
from tests.reference_oracle import exact_quantile

CFG = DDSketchConfig()


@pytest.fixture(scope="module")
def lineitem(spark, sf_smoke):
    return spark.read.parquet(f"{sf_smoke}/lineitem.parquet").cache()


def test_dds_key_matches_core(spark):
    vals = [1.5, 2.5, -3.0, 0.0, 100.0, 1e-9, -1e-9, 0.5, -0.25]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = [r[0] for r in df.select(dds_key("v", CFG)).collect()]
    want = core.compute_keys(np.array(vals), CFG.ln_gamma, CFG.offset)
    assert got == list(want)


def test_dds_key_null_propagates(spark):
    df = spark.createDataFrame([(None,), (2.0,)], "v double")
    got = df.select(dds_key("v", CFG).alias("k")).collect()
    assert got[0]["k"] is None and got[1]["k"] is not None


def test_global_sketch_equals_core(lineitem):
    sk_rows = agg.sketch(lineitem, "l_extendedprice", CFG).collect()
    assert len(sk_rows) == 1
    row = sk_rows[0]
    vals = np.array([r[0] for r in lineitem.select("l_extendedprice").collect()])
    want = core.add(core.empty(CFG), vals)
    assert row["n"] == want.n == len(vals)
    assert list(row["keys"]) == list(want.keys)
    assert list(row["counts"]) == list(want.counts)
    assert row["level"] == want.level


def test_grouped_quantiles_within_alpha(lineitem):
    out = agg.quantiles(
        lineitem, "l_extendedprice", Q_GRID, CFG, group_cols=("l_returnflag",)
    ).collect()
    pdf = lineitem.select("l_returnflag", "l_extendedprice").toPandas()
    assert len(out) == 3 * len(Q_GRID)
    for r in out:
        grp = pdf[pdf["l_returnflag"] == r["l_returnflag"]]["l_extendedprice"].to_numpy()
        true = exact_quantile(grp, r["q"])
        assert abs(r["estimate"] - true) / abs(true) <= CFG.alpha + 1e-9
        assert r["n"] == len(grp)


def test_sketch_partitioning_invariance(lineitem):
    # same result irrespective of physical partitioning (merge algebra on the
    # JVM hash-agg path)
    a = agg.sketch(lineitem.repartition(1), "l_extendedprice", CFG).collect()[0]
    b = agg.sketch(lineitem.repartition(16), "l_extendedprice", CFG).collect()[0]
    assert list(a["keys"]) == list(b["keys"])
    assert list(a["counts"]) == list(b["counts"])
    assert a["n"] == b["n"]


def test_collapse_fires_in_spark(spark):
    rng = np.random.default_rng(21)
    vals = rng.uniform(10, 4e5, 20000)
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    cfg = DDSketchConfig(bin_limit=100)
    row = agg.sketch(df, "v", cfg).collect()[0]
    want = core.add(core.empty(cfg), vals)
    assert row["level"] == want.level >= 1
    assert list(row["keys"]) == list(want.keys)
    assert list(row["counts"]) == list(want.counts)


def test_explode_array_tokens(spark):
    data = [
        ("d1", [1, 2, 3], "web"),
        ("d2", [2, 2, 100], "web"),
        ("d3", [7], "code"),
    ]
    df = spark.createDataFrame(data, "doc_id string, tokens array<int>, source string")
    out = {
        r["source"]: r
        for r in agg.sketch(df, "tokens", CFG, group_cols=("source",), explode_array=True).collect()
    }
    assert out["web"]["n"] == 6
    assert out["code"]["n"] == 1
    flat = np.array([1, 2, 3, 2, 2, 100], dtype=np.float64)
    want = core.add(core.empty(CFG), flat)
    assert list(out["web"]["keys"]) == list(want.keys)


def test_delete_from_sketch(lineitem):
    sk_df = agg.sketch(lineitem, "l_quantity", CFG)
    deletes = lineitem.where(F.col("l_returnflag") == "R")
    out = agg.delete_from_sketch(sk_df, deletes, "l_quantity", CFG).collect()[0]
    keep = lineitem.where(F.col("l_returnflag") != "R")
    n_keep = keep.count()
    assert out["n"] == n_keep
    want_rows = agg.sketch(keep, "l_quantity", CFG).collect()[0]
    # quantity values of kept rows may share bins with deleted ones; n must
    # match exactly and the histogram must match because delete is per-bin
    assert list(out["keys"]) == list(want_rows["keys"])
    assert list(out["counts"]) == list(want_rows["counts"])


def test_quantiles_from_sketch_roundtrip(lineitem):
    sk_df = agg.sketch(lineitem, "l_extendedprice", CFG)
    q1 = agg.quantiles_from_sketch(sk_df, Q_GRID).collect()
    q2 = agg.quantiles(lineitem, "l_extendedprice", Q_GRID, CFG).collect()
    assert sorted((r["q"], r["estimate"]) for r in q1) == sorted(
        (r["q"], r["estimate"]) for r in q2
    )


@pytest.mark.parametrize("bad", [-2, 0, None])
def test_weighted_quantiles_reject_non_positive_weights(spark, bad):
    # the bad row shares its bin with a weight-4 row, so the bin's sum stays positive
    df = spark.createDataFrame([(1.0, 5), (2.0, 4), (2.0, bad), (3.0, 1)], "v double, w long")
    with pytest.raises(Exception, match="DDSketch weights must be positive"):
        agg.quantiles(df, "v", (0.5,), CFG, weight="w").collect()
    ok = agg.quantiles(df.where(F.col("w") > 0), "v", (0.5,), CFG, weight="w").collect()
    assert [r["n"] for r in ok] == [10]


def test_value_streams_fixture_spark(spark):
    from ddsketch_spark.sources.fixtures import generate_value_streams

    path = generate_value_streams(20000)
    df = spark.read.parquet(path)
    out = agg.quantiles(df, "value", (0.5, 0.99), CFG, group_cols=("stream_id",))
    rows = out.collect()
    pdf = df.toPandas()
    assert len(rows) == 12
    for r in rows:
        grp = pdf[pdf["stream_id"] == r["stream_id"]]["value"].to_numpy()
        true = exact_quantile(grp, r["q"])
        # accuracy gate is the ADAPTED alpha if the group collapsed
        want = core.add(core.empty(CFG), grp)
        assert abs(r["estimate"] - true) / abs(true) <= want.alpha + 1e-9, r
