"""Structured Streaming DDSketch: the same mergeable state, incrementally.

Two paths, mirroring the batch architecture (SURVEY.md §2.2 'streaming'):

1. ``stream_histogram`` -- the JVM-native path: dds_key is an ordinary
   Catalyst expression, so a streaming ``groupBy(key).count()`` IS the
   sketch build; Spark's streaming state store keeps the (bounded,
   <= #groups x #bins rows) histogram and the sink sees updates per
   micro-batch. Optional event-time windowing + watermark for late data.

2. ``stream_quantile_sketch_states`` -- the custom-stateful path, for any
   sketch family (its ``SketchOps``: DDSketch, t-digest, KLL):
   ``applyInPandasWithState`` keeps one canonical sketch row per group in
   the state store (bin_limit / delta / k bounds it), absorbs each
   micro-batch with the vectorized numpy core, and emits the refreshed
   quantile grid -- the pattern for sketches that need collapse semantics
   (bounded bins) rather than an unbounded exact histogram.
   ``stream_sketch_states`` is its DDSketch form.

Both DDSketch paths produce states identical to the batch build over the
same rows (insertion order never matters for gamma^2-collapse-free
configs, and the canonical merge covers the rest) -- asserted in
tests/test_streaming.py.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ddsketch_spark.config import DDSketchConfig
from ddsketch_spark.functions.ddsketch_sql import dds_key
from ddsketch_spark.operators._grouped import SketchOps, schema_prefix
from ddsketch_spark.operators.approx_agg import hll_registers
from ddsketch_spark.operators.sketch_agg import ddsketch_ops


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
    """Streaming distinct-count sketch: the batch register build
    (operators.approx_agg.hll_registers) over a stream.  Its streaming
    ``groupBy(group..., idx)`` keeps ``min(h >> p)`` per register -- state
    bounded by #groups x 2^p rows -- and the rank is derived from that
    minimum on the aggregated rows.  ``min`` is monotone like ``max``, so a
    register's state only ever improves: 'update' output mode emits the
    registers a micro-batch touched, each with its running rank, and
    'complete' mode equals the batch build over the same rows."""
    return hll_registers(stream_df, value, cfg, group_cols)


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
    return stream_quantile_sketch_states(stream_df, value, ddsketch_ops(cfg), group_cols, qs)


def stream_quantile_sketch_states(
    stream_df: DataFrame,
    value: str,
    ops: SketchOps,
    group_cols: Sequence[str] = ("source",),
    qs: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """One bounded sketch per group in the streaming state store (``ops``
    is a ``SketchOps`` -- sketch_agg.ddsketch_ops(), quantile_agg.tdigest_ops()
    or kll_ops()), absorbed per micro-batch with the vectorized numpy core,
    emitting the refreshed quantile grid (group..., q, estimate, n).

    For t-digest and KLL, incremental absorption is NOT byte-identical
    to the one-shot batch build (both sketches compact as data arrives, so
    retained state depends on arrival chunking) -- but every emission
    honors the published rank bound, which is what the streaming test
    gates (same contract as the batch compacting tier in
    plans.approx_suite). State stays O(delta) / O(k log(n/k)) per group
    regardless of stream length."""
    group_cols = list(group_cols)
    qs = [float(q) for q in qs]
    out_schema = schema_prefix(stream_df, group_cols) + "q double, estimate double, n long"

    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.exists:
            sk = ops.core.from_dict(dict(zip(ops.state_cols, state.get)))
        else:
            sk = ops.empty()
        for pdf in pdfs:
            ops.add(sk, pdf[value].to_numpy(dtype=np.float64, na_value=np.nan))
        d = ops.core.to_dict(sk)
        state.update(tuple(d[k] for k in ops.state_cols))
        ests = ops.core.quantiles(sk, qs)
        yield pd.DataFrame({**dict(zip(group_cols, key)), "q": qs, "estimate": ests, "n": sk.n})

    src = stream_df.select(*group_cols, value)
    return src.groupBy(*group_cols).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=ops.state_fields,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
