"""Two-stage t-digest / KLL aggregation over DataFrames.

The same two-stage engine as the DDSketch UDAF path (operators.sketch_agg),
through the shared operators._grouped: one ``mapInArrow`` builds one sketch
per (partition x group) with vectorized batch inserts, the shuffle carries
only KB-sized state rows, and ``collect_list`` gathers each group's
partials into one row for a canonical ``merge_many`` in one ``mapInArrow``
per partition.  ``quantiles`` merges and evaluates in that same pass;
stored states are evaluated with one ``mapInArrow`` over their rows.  Both
end in the family's quantile grid (``SketchOps.grid``), and take any
family's ``SketchOps``: ``quantiles_from_states`` also evaluates stored
DDSketch states (ddsketch_agg.quantiles_from_sketch).

In the compacting regime these sketches have no SQL-expressible oracle
(compaction is partition-order dependent within the rank bound), so those
queries are rows-only in the driver contract with pytest accuracy gates
(tests/test_quantile_sketches.py). Both do have a provable EXACT regime --
KLL below level-0 capacity, t-digest while every greedy step crosses the
k-limit -- and the exactness-tier queries in plans.approx_suite exercise
this whole pipeline against value-level SQL oracles there.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame

from ddsketch_spark.core import kll as kll_core
from ddsketch_spark.core import tdigest as td_core
from ddsketch_spark.core.kll import KLLConfig
from ddsketch_spark.core.tdigest import TDigestConfig
from ddsketch_spark.operators import _grouped
from ddsketch_spark.operators._grouped import SketchOps, finalize_groups, map_rows

TDIGEST_STATE_FIELDS = (
    "delta double, n long, min double, max double, "
    "means array<double>, weights array<long>"
)
KLL_STATE_FIELDS = (
    "k int, n long, parity long, level_of array<long>, items array<double>"
)


def tdigest_ops(cfg: TDigestConfig | None = None) -> SketchOps:
    return SketchOps(td_core, cfg or TDigestConfig(), TDIGEST_STATE_FIELDS)


def kll_ops(cfg: KLLConfig | None = None) -> SketchOps:
    return SketchOps(kll_core, cfg or KLLConfig(), KLL_STATE_FIELDS)


def build_partials(
    df: DataFrame,
    value: str,
    ops: SketchOps,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """One ``ops`` state row per (input partition x group)."""
    return _grouped.build_partials(df, value, ops, group_cols)


def sketch_agg(
    df: DataFrame,
    value: str,
    ops: SketchOps,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """values -> per-group merged sketch state rows."""
    return _grouped.merge_partials(build_partials(df, value, ops, group_cols), ops, group_cols)


def quantiles_from_states(
    states: DataFrame,
    ops: SketchOps,
    qs: Sequence[float],
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """(group_cols..., ``ops.grid_fields``) of stored state rows of any
    family, one ``mapInArrow`` over the rows."""
    qs = [float(q) for q in qs]
    return map_rows(
        states.select(*group_cols, *ops.state_cols),
        group_cols,
        lambda row: ops.grid(ops.core.from_dict(row), qs),
        ops.grid_fields,
        len(qs),
    )


def quantiles(
    df: DataFrame,
    value: str,
    ops: SketchOps,
    qs: Sequence[float],
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """(group_cols..., ``ops.grid_fields``): merge and evaluate in one pass."""
    qs = [float(q) for q in qs]
    parts = build_partials(df, value, ops, group_cols)
    return finalize_groups(
        parts, group_cols, ops.state_cols,
        lambda p: ops.grid(ops.merge(p), qs), ops.grid_fields, len(qs),
    )
