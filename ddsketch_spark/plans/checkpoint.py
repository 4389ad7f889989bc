"""Checkpointed, resumable sketch jobs with per-partition lineage.

North-rule requirement: long jobs must be resumable from checkpoint with
per-partition lineage + metrics. Mechanism:

  1. Stage 1 (build) emits one sketch row per (partition x group) tagged with
     ``partition_id`` + the distinct ``input_files`` that partition consumed
     (the shared operators._grouped.build_partials, ``with_lineage=True``).
  2. Partial rows are appended to a parquet checkpoint directory together
     with a job signature (input count, value column, sketch config). A
     sketch row is ~KBs, so checkpoints stay tiny at any input scale.
  3. On resume, the ids of the partitions already checkpointed under the
     same signature go to the build as ``skip``: those partitions return
     inside the build's ``mapInArrow`` before reading a batch, so their scan
     short-circuits; only missing partitions are rebuilt and appended.
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

from ddsketch_spark.config import DDSketchConfig
from ddsketch_spark.operators import _grouped
from ddsketch_spark.operators.ddsketch_agg import ddsketch_ops
from ddsketch_spark.operators.sketch_agg import merge_partials


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
    done_pids: frozenset[int] = frozenset()
    if checkpoint_dir:
        meta_path = os.path.join(checkpoint_dir, "_signature.json")
        data_dir = os.path.join(checkpoint_dir, "partials")
        sig = _signature(df, value, cfg, group_cols)
        if os.path.exists(meta_path) and os.path.exists(data_dir):
            with open(meta_path) as f:
                if json.load(f) == sig:
                    done = spark.read.parquet(data_dir).select("partition_id").distinct()
                    done_pids = frozenset(r["partition_id"] for r in done.collect())
    fresh = _grouped.build_partials(
        df, value, ddsketch_ops(cfg), group_cols, array_col, with_lineage=True, skip=done_pids
    )
    if not checkpoint_dir:
        return fresh
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
