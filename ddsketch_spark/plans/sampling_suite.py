"""Deterministic sampling queries over the documents table, with value-level
DuckDB oracles: hash-Bernoulli sampling, per-source stratified sampling, and
train/val/test split assignment.

Every decision is a pure function of (doc_id, literal thresholds) via the
shared cross-engine hash family, so the oracles are exact -- same rows, same
splits, bit-for-bit -- not statistical checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ddsketch_spark.operators import sampling as smp
from ddsketch_spark.operators.sampling import threshold, unit_hash_sql
from ddsketch_spark.sources.tables import read_table

_BERNOULLI_FRACTION = 0.1
# stratified: keep all of a curated source, thin the crawl-like ones
_STRATA = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
_STRATA_DEFAULT = 0.1
_SPLIT_WEIGHTS = (0.8, 0.1, 0.1)
_SPLIT_NAMES = ("train", "val", "test")

_H = unit_hash_sql("doc_id")  # seed = sampling.SAMPLE_SEED, both engines


def _bernoulli_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return smp.hash_sample(docs, "doc_id", _BERNOULLI_FRACTION).select(
        "doc_id", "source"
    )


def _bernoulli_sql() -> str:
    return f"""
SELECT doc_id, source FROM documents WHERE {_H} < {threshold(_BERNOULLI_FRACTION)}
"""


def _stratified_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return smp.stratified_sample(
        docs, "doc_id", "source", _STRATA, default_fraction=_STRATA_DEFAULT
    ).select("doc_id", "source")


def _stratified_sql() -> str:
    whens = " ".join(
        f"WHEN source = '{g}' THEN {threshold(f)}"
        for g, f in sorted(_STRATA.items())
    )
    return f"""
SELECT doc_id, source FROM documents
WHERE {_H} < (CASE {whens} ELSE {threshold(_STRATA_DEFAULT)} END)
"""


def _split_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return smp.split_assign(docs, "doc_id", _SPLIT_WEIGHTS, _SPLIT_NAMES).select(
        "doc_id", "split"
    )


def _split_sql() -> str:
    cuts = smp.split_cuts(_SPLIT_WEIGHTS)
    whens = " ".join(
        f"WHEN {_H} < {cut} THEN '{name}'"
        for name, cut in zip(_SPLIT_NAMES[:-1], cuts)
    )
    return f"""
SELECT doc_id, (CASE {whens} ELSE '{_SPLIT_NAMES[-1]}' END) AS split FROM documents
"""


ROWS = (
    ("sample_bernoulli_docs", _bernoulli_spark, lambda _: _bernoulli_sql()),
    ("sample_stratified_by_source", _stratified_spark, lambda _: _stratified_sql()),
    ("sample_split_assignment", _split_spark, lambda _: _split_sql()),
)
