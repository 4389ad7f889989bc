"""UDAF-path e2e: partial/merge two-stage aggregation over the north-rule
tokens table; equivalence with the JVM-histogram path and the numpy core."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ddsketch_spark.config import Q_GRID, DDSketchConfig
from ddsketch_spark.core import ddsketch as core
from ddsketch_spark.core.kll import KLLConfig
from ddsketch_spark.core.tdigest import TDigestConfig
from ddsketch_spark.operators import ddsketch_agg as agg
from ddsketch_spark.operators import quantile_agg as qa
from ddsketch_spark.operators import sketch_agg as udaf
from ddsketch_spark.plans.checkpoint import build_partials_resumable
from ddsketch_spark.sources.fixtures import generate_tokens_table
from tests.reference_oracle import exact_quantile

CFG = DDSketchConfig()


@pytest.fixture(scope="module")
def tokens(spark):
    path = generate_tokens_table(3000)
    return spark.read.parquet(path).cache()


def test_tokens_fixture_invariants(tokens):
    # FIXTURES.md F1 invariant: n_tok == size(tokens) on every row
    bad = tokens.where(F.col("n_tok") != F.size("tokens")).count()
    assert bad == 0
    assert tokens.select("source").distinct().count() == 8
    assert tokens.count() == 3000


def test_udaf_equals_native_path_ntok(tokens):
    a = udaf.sketch_udaf(tokens, "n_tok", CFG, group_cols=("source",))
    b = agg.sketch(tokens, "n_tok", CFG, group_cols=("source",))
    am = {r["source"]: r for r in a.collect()}
    bm = {r["source"]: r for r in b.collect()}
    assert set(am) == set(bm)
    for s in am:
        assert am[s]["n"] == bm[s]["n"]
        assert list(am[s]["keys"]) == list(bm[s]["keys"]), s
        assert list(am[s]["counts"]) == list(bm[s]["counts"]), s
        assert am[s]["level"] == bm[s]["level"]


def test_udaf_tokens_array_global(tokens):
    out = udaf.sketch_udaf(tokens, "tokens", CFG, array_col=True).collect()
    assert len(out) == 1
    row = out[0]
    pdf = tokens.select("tokens").toPandas()
    flat = np.concatenate(pdf["tokens"].to_list()).astype(np.float64)
    want = core.add(core.empty(CFG), flat)
    assert row["n"] == want.n == len(flat)
    assert list(row["keys"]) == list(want.keys)
    assert list(row["counts"]) == list(want.counts)
    # quantile accuracy vs exact over all tokens
    sk = core.from_dict(row.asDict())
    for q in (0.01, 0.5, 0.99):
        true = exact_quantile(flat, q)
        assert abs(core.quantile(sk, q) - true) / abs(true) <= sk.alpha + 1e-9


def test_udaf_fanout_tree_merge_identical(tokens):
    flat = udaf.sketch_udaf(tokens, "n_tok", CFG, group_cols=("source",))
    tree = udaf.sketch_udaf(tokens, "n_tok", CFG, group_cols=("source",), fanout=4)
    fm = {r["source"]: r for r in flat.collect()}
    tm = {r["source"]: r for r in tree.collect()}
    for s in fm:
        assert list(fm[s]["keys"]) == list(tm[s]["keys"])
        assert list(fm[s]["counts"]) == list(tm[s]["counts"])
        assert fm[s]["n"] == tm[s]["n"]


def test_udaf_repartition_invariance(tokens):
    a = udaf.sketch_udaf(tokens.repartition(2), "n_tok", CFG).collect()[0]
    b = udaf.sketch_udaf(tokens.repartition(13), "n_tok", CFG).collect()[0]
    assert list(a["keys"]) == list(b["keys"])
    assert list(a["counts"]) == list(b["counts"])


def test_partials_lineage(spark, tokens):
    parts = build_partials_resumable(
        spark, tokens.repartition(4), "n_tok", CFG, group_cols=("source",), checkpoint_dir=None
    ).collect()
    assert all(r["partition_id"] >= 0 for r in parts)
    assert all(len(r["input_files"]) >= 1 for r in parts)
    # partial rows: at most (#partitions x #groups)
    assert len(parts) <= 4 * 8


def test_merge_partials_rejects_mixed_alpha(spark, tokens):
    """Distributed merges must never mix sketch configs: a cross-alpha
    merge is order-dependent (the reference's pairwise tolerance loop), and
    shuffle delivery order is nondeterministic -- so core.merge_many, which
    merge_partials runs, raises the reference's MergeError (-5) instead.
    Config is fixed per job (one DDSketchConfig flows through sketch_udaf);
    this pins that invariant at the merge boundary."""
    a = udaf.build_partials(tokens, "n_tok", DDSketchConfig(alpha=0.008))
    b = udaf.build_partials(tokens, "n_tok", DDSketchConfig(alpha=0.02))
    mixed = a.unionByName(b)
    # surfaces as PythonException from the merge's Python worker
    with pytest.raises(Exception) as ei:
        udaf.merge_partials(mixed).collect()
    assert "mixed 'alpha0'" in str(ei.value)
    # same-config partials from differently-partitioned builds still merge
    ok = udaf.merge_partials(
        udaf.build_partials(tokens.repartition(3), "n_tok", CFG).unionByName(
            udaf.build_partials(tokens.repartition(5), "n_tok", CFG)
        )
    ).collect()
    assert len(ok) == 1 and ok[0]["n"] == 2 * tokens.count()


def test_collapse_pressure_udaf(spark):
    rng = np.random.default_rng(31)
    vals = rng.uniform(10, 4e5, 30000)
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    cfg = DDSketchConfig(bin_limit=100)
    row = udaf.sketch_udaf(df.repartition(8), "v", cfg).collect()[0]
    sk = core.from_dict(row.asDict())
    assert sk.size <= 100
    for q in (0.1, 0.5, 0.9):
        true = exact_quantile(vals, q)
        assert abs(core.quantile(sk, q) - true) / abs(true) <= sk.alpha + 1e-9


def test_incremental_update_byte_identical(spark, sf_correct, tmp_path):
    """Fold new data into a parquet-persisted sketch table: byte-identical
    to the full rebuild over old+new (merge associativity through a real
    storage round-trip -- the daily-update pattern at scale)."""
    li = spark.read.parquet(f"{sf_correct}/lineitem.parquet")
    old = li.where(F.col("l_orderkey") % 3 != 0)
    new = li.where(F.col("l_orderkey") % 3 == 0)
    cfg = DDSketchConfig()
    groups = ("l_returnflag",)
    stored_path = str(tmp_path / "sketch_states")
    udaf.sketch_udaf(old, "l_quantity", cfg, group_cols=groups).write.parquet(stored_path)
    stored = spark.read.parquet(stored_path)
    updated = {
        r["l_returnflag"]: r.asDict()
        for r in udaf.update_sketch_states(
            stored, new, "l_quantity", cfg, group_cols=groups
        ).collect()
    }
    full = {
        r["l_returnflag"]: r.asDict()
        for r in udaf.sketch_udaf(li, "l_quantity", cfg, group_cols=groups).collect()
    }
    assert set(updated) == set(full)
    for g in full:
        assert updated[g] == full[g], g


def test_decimal_values_sketch_as_doubles(spark, sf_correct):
    """A decimal value column is sketched as its doubles: the build casts
    it on the Arrow side, exactly as Spark's own cast to double does."""
    li = spark.read.parquet(f"{sf_correct}/lineitem.parquet")
    dec = li.select("l_returnflag", F.col("l_extendedprice").cast("decimal(12,2)").alias("p"))
    dbl = dec.select("l_returnflag", F.col("p").cast("double").alias("p"))
    by = ("l_returnflag",)
    key = lambda r: (r["l_returnflag"], r.asDict().get("q"))
    for name, run in {
        "sketch_udaf": lambda df: udaf.sketch_udaf(df, "p", CFG, by),
        "tdigest": lambda df: qa.quantiles(
            df, "p", qa.tdigest_ops(TDigestConfig(100.0)), Q_GRID, by),
        "kll": lambda df: qa.quantiles(df, "p", qa.kll_ops(KLLConfig(64)), Q_GRID, by),
    }.items():
        got, want = (sorted(run(df).collect(), key=key) for df in (dec, dbl))
        assert len(want) > 0
        assert got == want, name
