"""Two-stage partial/merge sketch aggregation (the UDAF-shaped path).

This is the distributed pattern the reference simulates in-process
(testMergeWithRandomValue, main.cpp:467-629): per-partition partial sketches
built vectorized over Arrow batches (``mapInArrow``), then a canonical
N-way merge per group: ``collect_list`` gathers each group's partials into
one row and one ``mapInArrow`` merges every group of a partition
(operators._grouped). Compared to the JVM-histogram path
(operators.ddsketch_agg) this keeps *bounded per-partition state*
(bin_limit applies during the build, like the reference's eager collapse)
and emits per-partition lineage (partition id + input files) for
checkpoint/resume, at the cost of moving raw values across the Arrow
boundary once.

Scale notes:
- shuffle carries one ~KB sketch row per (partition x group), never data;
- skewed groups are irrelevant here (partials are uniform); a two-level
  tree merge (``fanout``) bounds the rows any single merge task sees;
- the token fast path turns array<int32> columns into value histograms with
  ``np.bincount`` before keying -- one log() per *distinct* token value
  rather than per token.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ddsketch_spark.config import DDSketchConfig
from ddsketch_spark.core import ddsketch as core
from ddsketch_spark.operators._grouped import (
    Fields,
    arrow_schema,
    finalize_groups,
    schema_prefix,
    split_groups,
)
from ddsketch_spark.operators.ddsketch_agg import SKETCH_STATE_FIELDS, STATE_COLS

LINEAGE_FIELDS = ", partition_id int, input_files array<string>"

_INT_FASTPATH_MAX = 1 << 22  # bincount table cap (~32 MB of int64)


def _add_values(sk: core.DDSketch, vals: np.ndarray) -> None:
    vals = vals[~pd.isna(vals)] if vals.dtype == object else vals
    if vals.size == 0:
        return
    if np.issubdtype(vals.dtype, np.integer):
        vmin = vals.min()
        vmax = int(vals.max())
        if vmin >= 0 and vmax < _INT_FASTPATH_MAX:
            # one log() per DISTINCT value instead of per value. minlength +
            # int64 matter: np.bincount on int32 without minlength falls off
            # a fast path (~60x slower on skewed data).
            counts = np.bincount(
                vals.astype(np.int64, copy=False), minlength=vmax + 1
            )
            nz = np.nonzero(counts)[0]
            core.add_weighted(sk, nz.astype(np.float64), counts[nz])
            return
        vals = vals.astype(np.float64)
    else:
        vals = vals[~np.isnan(vals)]
    core.add(sk, vals)


def from_row(row) -> core.DDSketch:
    """Rehydrate a sketch from a state row (Spark Row / pandas row / dict)."""
    return core.from_dict(row)


def rows_to_arrow_batch(rows: list[dict], group_fields, schema):
    """Build a mapInArrow output batch with exact, positionally-ordered
    schema: group columns first (typed from the input batch), then the
    ``schema`` fields (``arrow_schema`` of the state and lineage DDL)."""
    import pyarrow as pa

    schema = pa.schema(list(group_fields) + list(schema))
    cols = [
        pa.array([r[f.name] for r in rows], type=f.type) for f in schema
    ]
    return pa.RecordBatch.from_arrays(cols, schema=schema)


def _batch_group_values(batch, value: str, group_cols, array_col: bool):
    """Yield (group_key_tuple, values_ndarray) for one Arrow RecordBatch,
    fully vectorized: list columns flatten zero-copy; group dispatch is a
    factorize + one stable argsort (``split_groups``), with each row's list
    length carrying its elements along."""
    import pyarrow as pa

    col = batch.column(batch.schema.get_field_index(value))
    if array_col:
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        vals = col.flatten().to_numpy(zero_copy_only=False)
        if not group_cols:
            yield (), vals
            return
        import pyarrow.compute as pc

        sizes = pc.list_value_length(col).to_numpy(zero_copy_only=False)
        sizes = np.nan_to_num(sizes, nan=0).astype(np.int64)
    else:
        vals, sizes = col.to_numpy(zero_copy_only=False), None
        if not group_cols:
            yield (), vals
            return

    gseries = [batch.column(batch.schema.get_field_index(g)).to_pandas() for g in group_cols]
    if len(gseries) == 1:
        codes, uniques = pd.factorize(gseries[0], use_na_sentinel=False)
        keys = [(u,) for u in uniques]
    else:
        zipped = pd.Series(list(zip(*gseries)))
        codes, uniques = pd.factorize(zipped, use_na_sentinel=False)
        keys = list(uniques)
    for gkey, part in zip(keys, split_groups(codes, len(keys), vals, sizes)):
        yield tuple(gkey), part


class SketchMetrics:
    """Per-job accumulator bundle (north rule: sketch-size/throughput
    metrics). Updated inside the build UDF on every partition; read on the
    driver after an action."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.rows = sc.accumulator(0)
        self.values = sc.accumulator(0)
        self.sketch_bins = sc.accumulator(0)
        self.build_secs = sc.accumulator(0.0)

    def as_dict(self) -> dict:
        secs = max(self.build_secs.value, 1e-9)
        return {
            "rows": self.rows.value,
            "values": self.values.value,
            "sketch_bins": self.sketch_bins.value,
            "partition_build_secs": round(self.build_secs.value, 3),
            "values_per_cpu_sec": int(self.values.value / secs),
        }


def build_partials(
    df: DataFrame,
    value: str,
    cfg: DDSketchConfig | None = None,
    group_cols: Sequence[str] = (),
    array_col: bool = False,
    with_lineage: bool = False,
    metrics: "SketchMetrics | None" = None,
) -> DataFrame:
    """One canonical sketch row per (input partition x group).

    Runs as ``mapInArrow``: token arrays flatten zero-copy from the Arrow
    batch (no per-row Python objects anywhere -- the input_hint requirement),
    and integer values take the bincount fast path in ``_add_values``.

    ``with_lineage`` adds ``partition_id`` and the distinct ``input_files``
    the partition consumed -- the resume key for plans.checkpoint.
    """
    cfg = cfg or DDSketchConfig()
    group_cols = list(group_cols)
    cols = group_cols + [value] + (["__file"] if with_lineage else [])
    src = df
    if with_lineage:
        src = src.withColumn("__file", F.input_file_name())
    src = src.select(*[F.col(c) for c in dict.fromkeys(cols)])

    out_ddl = SKETCH_STATE_FIELDS + (LINEAGE_FIELDS if with_lineage else "")
    out_fields = arrow_schema(out_ddl)

    def build(batches):
        import time as _time

        from pyspark import TaskContext

        t0 = _time.monotonic()
        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        n_rows = n_vals = 0
        sketches: dict[tuple, core.DDSketch] = {}
        files: set[str] = set()
        group_fields = None
        for batch in batches:
            if group_fields is None:
                group_fields = [batch.schema.field(g) for g in group_cols]
            n_rows += batch.num_rows
            if with_lineage:
                fcol = batch.column(batch.schema.get_field_index("__file"))
                files.update(fcol.unique().to_pylist())
            for gkey, vals in _batch_group_values(batch, value, group_cols, array_col):
                sk = sketches.get(gkey)
                if sk is None:
                    sk = sketches[gkey] = core.empty(cfg)
                n_vals += len(vals)
                _add_values(sk, vals)
        if metrics is not None:
            metrics.rows += n_rows
            metrics.values += n_vals
            metrics.sketch_bins += sum(s.size for s in sketches.values())
            metrics.build_secs += _time.monotonic() - t0
        rows = []
        for gkey, sk in sketches.items():
            row = core.to_dict(sk)
            for g, gv in zip(group_cols, gkey):
                row[g] = gv
            if with_lineage:
                row["partition_id"] = pid
                row["input_files"] = sorted(files)
            rows.append(row)
        if rows:
            yield rows_to_arrow_batch(rows, group_fields or [], out_fields)

    return src.mapInArrow(build, schema=schema_prefix(df, group_cols) + out_ddl)


def _require_uniform_config(parts: Fields) -> None:
    """Reject mixed sketch configs inside a distributed merge task.

    ``core.merge_many`` falls back to the reference's pairwise tolerance
    loop for cross-alpha inputs (ddsketch.cc:583-595) -- an ORDER-DEPENDENT
    result.  Shuffle delivery order is nondeterministic, so a mixed-config
    merge here would be silently nondeterministic run-to-run.  Config is
    fixed per job by construction (one DDSketchConfig flows into
    build_partials); this guard pins that invariant with the reference's
    MergeError (-5) instead of letting the fallback run distributed.
    Cross-config merges remain available driver-side via core.merge/
    merge_many, where the caller controls the order."""
    for colname in ("alpha0", "offset", "bin_limit", "collapse"):
        vals = np.unique(parts[colname])
        if len(vals) > 1:
            raise core.MergeError(
                f"mixed '{colname}' across partials in distributed merge: "
                f"{vals.tolist()} (reference error -5)"
            )


def _merge_states(parts: Fields) -> dict:
    _require_uniform_config(parts)
    return core.to_dict(core.merge_many([core.from_dict(parts.row(i)) for i in range(len(parts))]))


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
    group_cols = list(group_cols)
    if fanout and fanout > 1:
        salted = partials.withColumn(
            "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(fanout)).cast("int")
        )
        partials = finalize_groups(
            salted, group_cols + ["__salt"], STATE_COLS, _merge_states, SKETCH_STATE_FIELDS
        ).drop("__salt")
    return finalize_groups(partials, group_cols, STATE_COLS, _merge_states, SKETCH_STATE_FIELDS)


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
    parts = build_partials(new_df, value, cfg, group_cols, array_col)
    cols = list(group_cols) + STATE_COLS
    both = states.select(*cols).unionByName(parts.select(*cols))
    return merge_partials(both, group_cols, fanout)


def sketch_udaf(
    df: DataFrame,
    value: str,
    cfg: DDSketchConfig | None = None,
    group_cols: Sequence[str] = (),
    array_col: bool = False,
    fanout: int | None = None,
    metrics: SketchMetrics | None = None,
) -> DataFrame:
    """values -> per-group canonical sketch states, UDAF-style."""
    parts = build_partials(df, value, cfg, group_cols, array_col, metrics=metrics)
    return merge_partials(parts, group_cols, fanout)
