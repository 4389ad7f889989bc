"""Two-stage partial/merge sketch aggregation (the UDAF-shaped path).

This is the distributed pattern the reference simulates in-process
(testMergeWithRandomValue, main.cpp:467-629): per-partition partial sketches
built vectorized over Arrow batches (``mapInArrow``), then a canonical
N-way merge per group: ``collect_list`` gathers each group's partials into
one row and one ``mapInArrow`` merges every group of a partition (the
shared engine of operators._grouped, run with DDSketch's ``SketchOps``).
Compared to the JVM-histogram path (operators.ddsketch_agg) this keeps
*bounded per-partition state* (bin_limit applies during the build, like the
reference's eager collapse), and plans.checkpoint tags the same build with
per-partition lineage (partition id + input files) for resume, at the cost
of moving raw values across the Arrow boundary once.

Scale notes:
- shuffle carries one ~KB sketch row per (partition x group), never data;
- skewed groups are irrelevant here (partials are uniform); a two-level
  tree merge (``fanout``) bounds the rows any single merge task sees;
- token arrays flatten zero-copy, and ``core.add`` counts small integers
  with ``np.bincount`` before keying -- one log() per *distinct* token
  value rather than per token.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame

from ddsketch_spark.config import DDSketchConfig
from ddsketch_spark.operators import _grouped
from ddsketch_spark.operators.ddsketch_agg import ddsketch_ops


def build_partials(
    df: DataFrame,
    value: str,
    cfg: DDSketchConfig | None = None,
    group_cols: Sequence[str] = (),
    array_col: bool = False,
) -> DataFrame:
    """One canonical sketch row per (input partition x group).

    Token arrays flatten zero-copy from the Arrow batch (no per-row Python
    objects anywhere), and integer values take core.add's bincount path.
    plans.checkpoint builds the same rows with their lineage.
    """
    return _grouped.build_partials(df, value, ddsketch_ops(cfg), group_cols, array_col)


def merge_partials(
    partials: DataFrame,
    group_cols: Sequence[str] = (),
    fanout: int | None = None,
) -> DataFrame:
    """Canonical N-way merge per group (core.merge_many: lift to max level,
    sum, collapse-to-limit -- byte-identical under reordering).

    ``fanout``: optional two-level tree merge -- partials are first merged
    within ``fanout`` salted sub-groups, bounding the row count any single
    task materializes; exact because the merge is associative+commutative.
    """
    return _grouped.merge_partials(partials, ddsketch_ops(), group_cols, fanout)


def update_sketch_states(
    states: DataFrame,
    new_df: DataFrame,
    value: str,
    cfg: DDSketchConfig | None = None,
    group_cols: Sequence[str] = (),
    array_col: bool = False,
    fanout: int | None = None,
) -> DataFrame:
    """Incremental sketch maintenance: fold NEW data into previously
    materialized per-group sketch states (e.g. yesterday's sketch table
    read back from parquet/Iceberg) WITHOUT rescanning the old data.

    Exact, not approximate-on-approximate: the canonical merge is
    associative and commutative (core.merge_many lifts to the max level,
    sums, collapses), so merge(stored states, partials(new data)) is
    byte-identical to rebuilding over old+new from scratch -- pinned by
    tests/test_sketch_udaf.py through a parquet round-trip. This is the
    operational pattern at 100 TB: the fact table is append-only, the
    sketch table is KBs per group, and a daily update touches only the new
    partition."""
    return _grouped.update_states(
        states, new_df, value, ddsketch_ops(cfg), group_cols, array_col, fanout
    )


def sketch_udaf(
    df: DataFrame,
    value: str,
    cfg: DDSketchConfig | None = None,
    group_cols: Sequence[str] = (),
    array_col: bool = False,
    fanout: int | None = None,
) -> DataFrame:
    """values -> per-group canonical sketch states, UDAF-style."""
    parts = build_partials(df, value, cfg, group_cols, array_col)
    return merge_partials(parts, group_cols, fanout)
