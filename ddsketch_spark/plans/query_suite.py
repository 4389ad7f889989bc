"""The oracle-checked DDSketch query suite.

Each row pairs a Spark DataFrame query (the product) with an ANSI-SQL
reproduction runnable by DuckDB on the same parquet tables (the oracle).
DDSketch is deterministic arithmetic, so even the sketch queries get
value-level oracles: the SQL reproduces the gamma-bucket keying, histogram,
rank walk, and midpoint estimator exactly (plans.shared, whose collapse-free
OCFG every row here uses unless it tests a collapse). Float estimates are
compared as 6-significant-digit integer mantissas (see
functions.ddsketch_sql.sig6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ddsketch_spark.config import Q_GRID, DDSketchConfig
from ddsketch_spark.functions.ddsketch_sql import dds_key, dds_strip_offset
from ddsketch_spark.operators import ddsketch_agg as agg
from ddsketch_spark.plans.shared import OCFG, graded, keyed_sql, quantile_oracle_sql, strip_sql
from ddsketch_spark.sources.tables import read_table


def _quantiles_spark(
    spark: SparkSession, sf_dir: str, table: str, value_col: str, group: str | None
) -> DataFrame:
    df = read_table(spark, sf_dir, table)
    groups = (group,) if group else ()
    return graded(agg.quantiles(df, value_col, Q_GRID, OCFG, group_cols=groups), *groups)


# ---------------------------------------------------------------------------
# histogram / collapse / delete queries
# ---------------------------------------------------------------------------

def _hist_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_table(spark, sf_dir, "lineitem")
    hist = agg.histogram(df, "l_extendedprice", OCFG)
    return hist.select(
        dds_strip_offset(F.col("key"), OCFG).alias("bucket_key"),
        F.col("cnt").alias("cnt"),
    )


def _hist_oracle_sql(value: str, where: str = "") -> str:
    return f"""
WITH {keyed_sql("lineitem", value, where=where)}
SELECT {strip_sql('key')} AS bucket_key, COUNT(*) AS cnt
FROM keyed GROUP BY key
"""


# collapsed histogram: Spark runs the real bounded-memory operator
# (bin_limit=80 -> exactly 2 gamma^2 collapses on this table); the oracle
# applies the integer key remap twice: positive stored keys ceil(s/2) per
# level, negative floor(s/2) (reference: DDS_CollapseKey, ddsketch.cc:183-209)
_COLLAPSE_LIMIT = 80
_COLLAPSE_LEVELS = 2


def _collapsed_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_table(spark, sf_dir, "lineitem")
    cfg = DDSketchConfig(bin_limit=_COLLAPSE_LIMIT)
    sk = agg.sketch(df, "l_extendedprice", cfg)
    return sk.select(
        F.col("level"),
        F.posexplode(F.arrays_zip(F.col("keys"), F.col("counts"))).alias("pos", "kc"),
    ).select(
        "level",
        dds_strip_offset(F.col("kc.keys"), cfg).alias("bucket_key"),
        F.col("kc.counts").alias("cnt"),
    )


def _collapsed_oracle_sql() -> str:
    off = OCFG.offset
    # all lineitem prices are positive -> stored keys positive; remap is
    # ceil(stripped/2) == floor((stripped+1)/2)
    expr = "key"
    for _ in range(_COLLAPSE_LEVELS):
        expr = f"CAST(floor((({expr}) - {off} + 1) / 2.0) AS BIGINT) + {off}"
    return f"""
WITH {keyed_sql("lineitem", "l_extendedprice")}
SELECT {_COLLAPSE_LEVELS} AS level, {strip_sql('ckey')} AS bucket_key, COUNT(*) AS cnt
FROM (SELECT {expr} AS ckey FROM keyed) GROUP BY 2
"""


def _delete_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_table(spark, sf_dir, "lineitem")
    sk = agg.sketch(df, "l_quantity", OCFG)
    deleted = agg.delete_from_sketch(
        sk, df.where(F.col("l_returnflag") == "R"), "l_quantity", OCFG
    )
    return deleted.select(
        F.posexplode(F.arrays_zip(F.col("keys"), F.col("counts"))).alias("pos", "kc")
    ).select(
        dds_strip_offset(F.col("kc.keys"), OCFG).alias("bucket_key"),
        F.col("kc.counts").alias("cnt"),
    )


# ---------------------------------------------------------------------------
# error bounds of the lossy collapse variants (getErrorBound parity,
# main.cpp:1108-1152) + rollup
# ---------------------------------------------------------------------------

_EB_LIMIT = 64


def _error_bound_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_table(spark, sf_dir, "lineitem")
    outs = []
    for collapse in ("last", "first"):
        cfg = DDSketchConfig(bin_limit=_EB_LIMIT, collapse=collapse)
        sk = agg.sketch(df, "l_extendedprice", cfg)
        fat = (
            F.element_at("counts", -1) if collapse == "last" else F.element_at("counts", 1)
        )
        lo = F.lit(0.0) if collapse == "last" else fat.cast("double") / F.col("n")
        hi = (
            F.lit(1.0) - fat.cast("double") / F.col("n")
            if collapse == "last"
            else F.lit(1.0)
        )
        outs.append(
            sk.select(
                F.lit(collapse).alias("collapse"),
                F.col("n"),
                fat.alias("fat_count"),
                lo.alias("q_lo"),
                hi.alias("q_hi"),
            )
        )
    return outs[0].unionByName(outs[1])


def _error_bound_oracle_sql() -> str:
    # lazy bulk collapse keeps the (bin_limit - 1) smallest (last-variant) /
    # largest (first-variant) bins and folds everything else into one fat
    # tail bin, so fat_count = n - sum(kept counts)
    keep = _EB_LIMIT - 1
    return f"""
WITH {keyed_sql("lineitem", "l_extendedprice")},
hist AS (SELECT key, COUNT(*) AS c FROM keyed GROUP BY key),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM hist),
keep_last AS (SELECT CAST(SUM(c) AS BIGINT) AS s FROM (SELECT c FROM hist ORDER BY key ASC LIMIT {keep})),
keep_first AS (SELECT CAST(SUM(c) AS BIGINT) AS s FROM (SELECT c FROM hist ORDER BY key DESC LIMIT {keep}))
SELECT 'last' AS collapse, n, n - keep_last.s AS fat_count,
       0.0 AS q_lo, 1.0 - (n - keep_last.s)::DOUBLE / n AS q_hi
FROM tot, keep_last
UNION ALL
SELECT 'first' AS collapse, n, n - keep_first.s AS fat_count,
       (n - keep_first.s)::DOUBLE / n AS q_lo, 1.0 AS q_hi
FROM tot, keep_first
"""


def _weighted_quantiles_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles of price where each row counts l_quantity times (the
    core's add_weighted semantics through the JVM histogram path)."""
    df = read_table(spark, sf_dir, "lineitem")
    return graded(agg.quantiles(
        df, "l_extendedprice", Q_GRID, OCFG, weight=F.col("l_quantity").cast("long")
    ))


def _rollup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level rollup (per-source + global) in one result -- the manual
    grouping-sets pattern (SURVEY.md §2.2)."""
    per = _quantiles_spark(spark, sf_dir, "documents", "n_chars", "source")
    glob = _quantiles_spark(spark, sf_dir, "documents", "n_chars", None).withColumn(
        "source", F.lit("ALL")
    )
    return per.unionByName(glob.select(*per.columns))


def _rollup_oracle_sql() -> str:
    per = quantile_oracle_sql("documents", "n_chars", "source")
    glob = quantile_oracle_sql("documents", "n_chars")
    return f"""
SELECT * FROM ({per})
UNION ALL
SELECT 'ALL' AS source, q, bucket_key, est_m6, n FROM ({glob})
"""


# ---------------------------------------------------------------------------
# sketch-DRIVEN filtering: trim per-source outliers above the DDSketch p99
# (the way a pipeline actually consumes the sketch -- compute once, broadcast
# the tiny threshold table, filter the fact table in the scan stage). The
# threshold is the p99 BUCKET KEY (exact integer in both engines -- the same
# keyed CTE every green dds_* query stands on), so the filter is
# value-level deterministic; estimates never enter a comparison.
# ---------------------------------------------------------------------------

_TRIM_Q = 0.99


def _incremental_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sketch maintenance under the driver gate: build states
    over 2/3 of lineitem, fold the remaining 1/3 in via
    update_sketch_states, evaluate the quantile grid. The canonical merge
    makes the updated states byte-identical to a one-shot build, so the
    oracle is the ordinary full-table quantile SQL -- the driver hash-match
    therefore proves the incremental path end-to-end."""
    from ddsketch_spark.operators import sketch_agg as udaf

    df = read_table(spark, sf_dir, "lineitem")
    old = df.where(F.col("l_orderkey") % 3 != 0)
    new = df.where(F.col("l_orderkey") % 3 == 0)
    groups = ("l_returnflag",)
    states = udaf.sketch_udaf(old, "l_extendedprice", OCFG, group_cols=groups)
    updated = udaf.update_sketch_states(
        states, new, "l_extendedprice", OCFG, group_cols=groups
    )
    return graded(agg.quantiles_from_sketch(updated, Q_GRID, group_cols=groups), *groups)


def _trim_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_table(spark, sf_dir, "documents")
    thr = agg.quantiles(
        df, "n_chars", (_TRIM_Q,), OCFG, group_cols=("source",)
    ).select("source", F.col("bucket_key").alias("__thr_key"))
    keyed = df.select(
        "source",
        "n_chars",
        dds_strip_offset(
            dds_key(F.col("n_chars").cast("double"), OCFG), OCFG
        ).alias("__key"),
    )
    keep = F.col("__key") <= F.col("__thr_key")
    return (
        keyed.join(F.broadcast(thr), "source")
        .groupBy("source")
        .agg(
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(~keep, 1).otherwise(0)).cast("long").alias("n_dropped"),
            F.sum(F.when(keep, F.col("n_chars")).otherwise(F.lit(0)))
            .cast("long")
            .alias("chars_kept"),
        )
    )


def _trim_oracle_sql() -> str:
    thr = quantile_oracle_sql("documents", "n_chars", "source", qs=(_TRIM_Q,))
    return f"""
WITH {keyed_sql("documents", "n_chars", ("source", "n_chars"))},
k AS (SELECT source, n_chars, {strip_sql('key')} AS skey FROM keyed),
thr AS (SELECT source, bucket_key AS thr_key FROM ({thr}))
SELECT k.source,
       CAST(SUM(CASE WHEN k.skey <= thr.thr_key THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN k.skey > thr.thr_key THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN k.skey <= thr.thr_key THEN k.n_chars ELSE 0 END) AS BIGINT) AS chars_kept
FROM k JOIN thr ON k.source = thr.source
GROUP BY k.source
"""


ROWS = (
    ("dds_quantiles_price",
     lambda s, d: _quantiles_spark(s, d, "lineitem", "l_extendedprice", None),
     lambda _: quantile_oracle_sql("lineitem", "l_extendedprice")),
    ("dds_quantiles_price_by_returnflag",
     lambda s, d: _quantiles_spark(s, d, "lineitem", "l_extendedprice", "l_returnflag"),
     lambda _: quantile_oracle_sql("lineitem", "l_extendedprice", "l_returnflag")),
    ("dds_quantiles_events_by_type",
     lambda s, d: _quantiles_spark(s, d, "events", "value", "event_type"),
     lambda _: quantile_oracle_sql("events", "value", "event_type")),
    ("dds_quantiles_nchars_by_source",
     lambda s, d: _quantiles_spark(s, d, "documents", "n_chars", "source"),
     lambda _: quantile_oracle_sql("documents", "n_chars", "source")),
    ("dds_histogram_price", _hist_spark, lambda _: _hist_oracle_sql("l_extendedprice")),
    ("dds_error_bound_collapse", _error_bound_spark, lambda _: _error_bound_oracle_sql()),
    ("dds_quantiles_rollup", _rollup_spark, lambda _: _rollup_oracle_sql()),
    ("dds_weighted_quantiles_price", _weighted_quantiles_spark,
     lambda _: quantile_oracle_sql("lineitem", "l_extendedprice", weight="l_quantity")),
    ("dds_histogram_price_collapsed", _collapsed_spark, lambda _: _collapsed_oracle_sql()),
    # deleting the 'R' multiset from the full sketch leaves exactly the
    # complement histogram (every deleted bin count <= inserted bin count)
    ("dds_delete_quantity", _delete_spark,
     lambda _: _hist_oracle_sql("l_quantity", where="l_returnflag <> 'R'")),
    ("dds_trim_outliers_by_source", _trim_spark, lambda _: _trim_oracle_sql()),
    # incremental update is byte-identical to the full build, so its oracle
    # is the ordinary full-table per-group quantile SQL
    ("dds_incremental_update_quantiles", _incremental_spark,
     lambda _: quantile_oracle_sql("lineitem", "l_extendedprice", "l_returnflag")),
)
