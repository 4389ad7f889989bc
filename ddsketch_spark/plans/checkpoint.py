"""Checkpointed, resumable sketch jobs with per-partition lineage.

North-rule requirement: long jobs must be resumable from checkpoint with
per-partition lineage + metrics. Mechanism:

  1. Stage 1 (build) emits one sketch row per (partition x group) tagged with
     ``partition_id`` + the distinct ``input_files`` that partition consumed
     (operators.sketch_agg.build_partials(with_lineage=True)).
  2. Partial rows are appended to a parquet checkpoint directory together
     with a job signature (input count, value column, sketch config). A
     sketch row is ~KBs, so checkpoints stay tiny at any input scale.
  3. On resume, partitions whose ids are already checkpointed under the same
     signature are skipped *inside* the build UDF (the Python worker returns
     without consuming the partition's batches, so the scan short-circuits);
     only missing partitions are rebuilt and appended.
  4. The final merge always runs over the checkpointed union -- exact,
     because the canonical merge is order-independent.

The reference has no persistence at all (its sketches live and die in one
process, main.cpp:402-465); this module is the distributed-operations layer
the north rule adds on top.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ddsketch_spark.config import DDSketchConfig
from ddsketch_spark.core import ddsketch as core
from ddsketch_spark.operators._grouped import arrow_schema, schema_prefix
from ddsketch_spark.operators.ddsketch_agg import SKETCH_STATE_FIELDS
from ddsketch_spark.operators.sketch_agg import LINEAGE_FIELDS, merge_partials


def _signature(df: DataFrame, value: str, cfg: DDSketchConfig, group_cols) -> dict:
    return {
        "value": value,
        "cfg": asdict(cfg),
        "groups": list(group_cols),
        "num_partitions": df.rdd.getNumPartitions(),
    }


def build_partials_resumable(
    spark: SparkSession,
    df: DataFrame,
    value: str,
    cfg: DDSketchConfig | None = None,
    group_cols: Sequence[str] = (),
    array_col: bool = False,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Stage-1 partials with checkpoint/resume. Returns ALL partial rows
    (previously checkpointed + newly built)."""
    cfg = cfg or DDSketchConfig()
    group_cols = list(group_cols)
    done_pids: frozenset[int] = frozenset()
    meta_path = sig = None
    if checkpoint_dir:
        meta_path = os.path.join(checkpoint_dir, "_signature.json")
        sig = _signature(df, value, cfg, group_cols)
        data_dir = os.path.join(checkpoint_dir, "partials")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                prev = json.load(f)
            if prev == sig and os.path.exists(data_dir):
                prev_rows = spark.read.parquet(data_dir)
                done_pids = frozenset(
                    r["partition_id"]
                    for r in prev_rows.select("partition_id").distinct().collect()
                )
    done_b = spark.sparkContext.broadcast(done_pids)

    cols = list(dict.fromkeys(group_cols + [value])) + ["__file"]
    src = df.withColumn("__file", F.input_file_name()).select(*cols)
    out_ddl = SKETCH_STATE_FIELDS + LINEAGE_FIELDS
    out_fields = arrow_schema(out_ddl)

    def build(batches):
        from pyspark import TaskContext

        from ddsketch_spark.operators.sketch_agg import (
            _add_values,
            _batch_group_values,
            rows_to_arrow_batch,
        )

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else -1
        if pid in done_b.value:
            return  # resume: this partition is already checkpointed
        sketches: dict[tuple, core.DDSketch] = {}
        files: set[str] = set()
        group_fields = None
        for batch in batches:
            if group_fields is None:
                group_fields = [batch.schema.field(g) for g in group_cols]
            fcol = batch.column(batch.schema.get_field_index("__file"))
            files.update(fcol.unique().to_pylist())
            for gkey, vals in _batch_group_values(batch, value, group_cols, array_col):
                sk = sketches.setdefault(gkey, core.empty(cfg))
                _add_values(sk, vals)
        rows = []
        for gkey, sk in sketches.items():
            row = core.to_dict(sk)
            for g, gv in zip(group_cols, gkey):
                row[g] = gv
            row["partition_id"] = pid
            row["input_files"] = sorted(files)
            rows.append(row)
        if rows:
            yield rows_to_arrow_batch(rows, group_fields or [], out_fields)

    fresh = src.mapInArrow(build, schema=schema_prefix(df, group_cols) + out_ddl)

    if not checkpoint_dir:
        return fresh

    data_dir = os.path.join(checkpoint_dir, "partials")
    if not done_pids:
        os.makedirs(checkpoint_dir, exist_ok=True)
        fresh.write.mode("overwrite").parquet(data_dir)
        with open(meta_path, "w") as f:
            json.dump(sig, f)
    else:
        fresh.write.mode("append").parquet(data_dir)
    return spark.read.parquet(data_dir)


def sketch_with_checkpoint(
    spark: SparkSession,
    df: DataFrame,
    value: str,
    cfg: DDSketchConfig | None = None,
    group_cols: Sequence[str] = (),
    array_col: bool = False,
    checkpoint_dir: str | None = None,
    fanout: int | None = None,
) -> DataFrame:
    """End-to-end resumable sketch: build-or-resume partials, merge."""
    parts = build_partials_resumable(
        spark, df, value, cfg, group_cols, array_col, checkpoint_dir
    )
    parts = parts.drop("partition_id", "input_files")
    return merge_partials(parts, group_cols, fanout)
