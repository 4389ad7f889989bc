"""Structured Streaming DDSketch: the same mergeable state, incrementally.

Two paths, mirroring the batch architecture (SURVEY.md §2.2 'streaming'):

1. ``stream_histogram`` -- the JVM-native path: dds_key is an ordinary
   Catalyst expression, so a streaming ``groupBy(key).count()`` IS the
   sketch build; Spark's streaming state store keeps the (bounded,
   <= #groups x #bins rows) histogram and the sink sees updates per
   micro-batch. Optional event-time windowing + watermark for late data.

2. ``stream_sketch_states`` -- the custom-stateful path:
   ``applyInPandasWithState`` keeps one canonical sketch row per group in
   the state store (bin_limit bounds it), absorbs each micro-batch with
   the vectorized numpy core, and emits the refreshed quantile grid --
   the pattern for sketches that need collapse semantics (bounded bins)
   rather than an unbounded exact histogram.

Both produce states identical to the batch build over the same rows
(insertion order never matters for gamma^2-collapse-free configs, and the
canonical merge covers the rest) -- asserted in tests/test_streaming.py.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ddsketch_spark.config import DDSketchConfig
from ddsketch_spark.core import ddsketch as core
from ddsketch_spark.functions.ddsketch_sql import dds_key
from ddsketch_spark.operators._grouped import schema_prefix
from ddsketch_spark.operators.ddsketch_agg import SKETCH_STATE_FIELDS, STATE_COLS


def stream_histogram(
    stream_df: DataFrame,
    value: str,
    cfg: DDSketchConfig | None = None,
    group_cols: Sequence[str] = (),
    window: str | None = None,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming (group..., [window], key, cnt) bucket histogram.

    ``window`` (e.g. "1 minute") adds event-time tumbling windows with a
    watermark so late data merges into the right window and state is
    evicted once the watermark passes."""
    cfg = cfg or DDSketchConfig()
    keyed = stream_df.withColumn("__key", dds_key(F.col(value), cfg))
    keyed = keyed.where(F.col("__key").isNotNull())
    groups = [F.col(g) for g in group_cols]
    if window:
        # watermarks require TIMESTAMP (parquet often yields TIMESTAMP_NTZ)
        keyed = keyed.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        keyed = keyed.withWatermark(ts_col, watermark)
        groups = [F.window(F.col(ts_col), window).alias("window"), *groups]
    return keyed.groupBy(*groups, F.col("__key").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def stream_hll_registers(
    stream_df: DataFrame,
    value: str,
    cfg=None,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Streaming distinct-count sketch: the HLL register build is an
    ordinary streaming ``groupBy(idx).max(rho)`` over the codegen'd
    register columns -- state bounded by #groups x 2^p rows, monotone
    updates (max), so 'update' output mode emits only improved registers."""
    from ddsketch_spark.core.hll import HLLConfig
    from ddsketch_spark.operators.approx_agg import hll_idx_rho

    cfg = cfg or HLLConfig()
    idx, rho = hll_idx_rho(F.col(value), cfg)
    keyed = stream_df.select(*group_cols, idx.alias("idx"), rho.alias("rho"))
    return keyed.where(F.col("idx").isNotNull()).groupBy(*group_cols, "idx").agg(
        F.max("rho").alias("rho")
    )


def stream_sketch_states(
    stream_df: DataFrame,
    value: str,
    cfg: DDSketchConfig | None = None,
    group_cols: Sequence[str] = ("source",),
    qs: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Custom stateful operator: one canonical DDSketch per group in the
    streaming state store, updated per micro-batch, emitting the
    refreshed quantile grid (group..., q, estimate, n)."""
    cfg = cfg or DDSketchConfig()
    group_cols = list(group_cols)
    qs = [float(q) for q in qs]
    out_schema = schema_prefix(stream_df, group_cols) + "q double, estimate double, n long"

    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.exists:
            d = dict(zip(STATE_COLS, state.get))
            d["keys"] = list(d["keys"])
            d["counts"] = list(d["counts"])
            sk = core.from_dict(d)
        else:
            sk = core.empty(cfg)
        for pdf in pdfs:
            vals = pdf[value].to_numpy(dtype=np.float64, na_value=np.nan)
            vals = vals[~np.isnan(vals)]
            if vals.size:
                core.add(sk, vals)
        d = core.to_dict(sk)
        state.update(tuple(d[k] for k in STATE_COLS))
        ests = core.quantiles(sk, qs)
        out = pd.DataFrame({"q": qs, "estimate": ests, "n": sk.n})
        for g, kv in zip(group_cols, key):
            out[g] = kv
        yield out[group_cols + ["q", "estimate", "n"]]

    src = stream_df.select(*group_cols, value)
    return src.groupBy(*group_cols).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=SKETCH_STATE_FIELDS,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_quantile_sketch_states(
    stream_df: DataFrame,
    value: str,
    ops,
    group_cols: Sequence[str] = ("source",),
    qs: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """t-digest / KLL in the streaming state store: one bounded sketch per
    group (``ops`` is a quantile_agg adapter -- tdigest_ops()/kll_ops()),
    absorbed per micro-batch with the vectorized numpy core, emitting the
    refreshed quantile grid (group..., q, estimate, n).

    Unlike the DDSketch path, incremental absorption is NOT byte-identical
    to the one-shot batch build (both sketches compact as data arrives, so
    retained state depends on arrival chunking) -- but every emission
    honors the published rank bound, which is what the streaming test
    gates (same contract as the batch compacting tier in
    plans.approx_suite). State stays O(delta) / O(k log(n/k)) per group
    regardless of stream length."""
    group_cols = list(group_cols)
    qs = [float(q) for q in qs]
    state_schema, state_keys = ops.state_fields, ops.state_cols
    out_schema = (
        schema_prefix(stream_df, group_cols) + "q double, estimate double, n long"
    )

    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.exists:
            sk = ops.core.from_dict(dict(zip(state_keys, state.get)))
        else:
            sk = ops.empty()
        for pdf in pdfs:
            vals = pdf[value].to_numpy(dtype=np.float64, na_value=np.nan)
            ops.add(sk, vals)  # cores drop NaN internally
        d = ops.to_row(sk)
        state.update(tuple(d[k] for k in state_keys))
        ests = ops.core.quantiles(sk, qs)
        out = pd.DataFrame({"q": qs, "estimate": ests, "n": sk.n})
        for g, kv in zip(group_cols, key):
            out[g] = kv
        yield out[group_cols + ["q", "estimate", "n"]]

    src = stream_df.select(*group_cols, value)
    return src.groupBy(*group_cols).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
