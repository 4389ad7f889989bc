"""Deterministic hash-based sampling for training-data pipelines:
Bernoulli sampling, per-group stratified sampling, and train/val/test
split assignment.

Why not ``df.sample``: Spark's built-in sampler draws per-partition from a
seeded RNG, so the selected rows change whenever the partition layout does
(repartition, AQE coalesce, file split sizing) -- unacceptable for
reproducible corpus construction at 100 TB, where the same document must
land in the same split on every run and on every cluster size.  Hashing a
stable key instead makes the decision a pure function of the row: keep
``row`` iff ``mixed_hash(key) < fraction * P``.  The mixed 61-bit hash
(functions.hashing) is uniform on [0, P), so the kept fraction concentrates
tightly around ``fraction``, and the same expression evaluates identically
in Spark codegen, numpy, and DuckDB SQL -- every sample here is value-level
oracle-checkable.

Everything is a single whole-stage-codegen filter/projection: no shuffle,
no UDF, no state.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ddsketch_spark.functions.hashing import (
    MERSENNE61,
    hash_params,
    mixed_hash_col,
    mixed_hash_sql,
)

SAMPLE_SEED = 101


def threshold(fraction: float) -> int:
    """fraction in [0,1] -> integer cutoff on the hash range [0, P)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return int(round(fraction * MERSENNE61))


def _unit_hash(key: Column, seed: int) -> Column:
    a, b = hash_params(1, seed)[0]
    return mixed_hash_col(key, a, b)


def unit_hash_sql(key: str, seed: int = SAMPLE_SEED) -> str:
    """DuckDB expression mirroring ``_unit_hash`` bit-for-bit."""
    a, b = hash_params(1, seed)[0]
    return mixed_hash_sql(key, a, b)


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, seed: int = SAMPLE_SEED
) -> DataFrame:
    """Deterministic Bernoulli sample: keep rows whose key hashes below
    ``fraction`` of the hash range.  Partition-layout independent."""
    return df.where(
        _unit_hash(F.col(key_col), seed) < F.lit(threshold(fraction))
    )


def stratified_sample(
    df: DataFrame,
    key_col: str,
    group_col: str,
    fractions: Mapping[str, float],
    default_fraction: float = 0.0,
    seed: int = SAMPLE_SEED,
) -> DataFrame:
    """Per-group sampling rates (e.g. downweight a crawl source, keep all of
    a curated one).  ``fractions`` maps group value -> fraction; groups not
    listed use ``default_fraction``.  The per-row threshold is a literal
    CASE over the (small) fractions map -- no join, no shuffle; for a
    fractions table too large to inline, broadcast-join a threshold column
    instead (same filter)."""
    thresh: Column = F.lit(threshold(default_fraction))
    for group, fraction in sorted(fractions.items()):
        thresh = (
            F.when(F.col(group_col) == F.lit(group), F.lit(threshold(fraction)))
            .otherwise(thresh)
        )
    return df.where(_unit_hash(F.col(key_col), seed) < thresh)


def split_assign(
    df: DataFrame,
    key_col: str,
    weights: Sequence[float] = (0.8, 0.1, 0.1),
    names: Sequence[str] = ("train", "val", "test"),
    split_col: str = "split",
    seed: int = SAMPLE_SEED,
) -> DataFrame:
    """Adds ``split_col``: partition the hash range by cumulative weights so
    every row lands in exactly one split, stable across runs and cluster
    layouts.  Weights are normalized; the last split absorbs rounding."""
    if len(weights) != len(names) or not names:
        raise ValueError("weights and names must be same nonzero length")
    if any(w < 0 for w in weights) or sum(weights) <= 0:
        raise ValueError("weights must be nonnegative with positive sum")
    h = _unit_hash(F.col(key_col), seed)
    expr: Column = F.lit(names[-1])
    for name, cut in zip(reversed(names[:-1]), reversed(split_cuts(weights))):
        expr = F.when(h < F.lit(cut), F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def split_cuts(
    weights: Sequence[float] = (0.8, 0.1, 0.1),
) -> list[int]:
    """The integer hash-range cutpoints ``split_assign`` uses, for SQL
    oracles (CASE WHEN h < cuts[0] THEN names[0] ...)."""
    total = float(sum(weights))
    cum = 0.0
    out = []
    for w in weights[:-1]:
        cum += w / total
        out.append(threshold(cum))
    return out
