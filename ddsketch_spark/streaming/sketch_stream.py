"""Structured Streaming sketches: the batch operators, fed one micro-batch
at a time.

Every sketch here is mergeable, so a streaming sketch is the batch sketch
over the rows seen so far, and the batch operators already accept a
streaming DataFrame (SURVEY.md §2.2 'streaming'):

- DDSketch histogram: :func:`stream_histogram` is ``ddsketch_agg.histogram``
  on the stream, with an optional watermarked event-time ``window`` as its
  first group column.  Spark's streaming state store keeps the (bounded,
  <= #groups x #bins rows) histogram, and late rows merge into their window
  until the watermark evicts it.
- HLL registers: ``approx_agg.hll_registers`` on the stream (its docstring
  gives the output modes).
- Any quantile family (``SketchOps``: DDSketch, t-digest, KLL):
  :func:`stream_quantile_sketch_states` keeps one canonical sketch row per
  group in the state store with ``applyInPandasWithState`` (bin_limit /
  delta / k bound it), absorbs each micro-batch with the family's ``add``
  and emits its quantile grid, the columns the batch quantiles return --
  the pattern for sketches that need collapse semantics (bounded bins)
  rather than an unbounded exact histogram.

The DDSketch paths give the batch build's states over the same rows
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
from ddsketch_spark.operators._grouped import SketchOps, schema_prefix
from ddsketch_spark.operators.ddsketch_agg import histogram


def stream_histogram(
    stream_df: DataFrame,
    value: str,
    cfg: DDSketchConfig | None = None,
    group_cols: Sequence[str] = (),
    window: str | None = None,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming ([window], group..., key, cnt) bucket histogram.

    ``window`` (e.g. "1 minute") adds event-time tumbling windows with a
    watermark so late data merges into the right window and state is
    evicted once the watermark passes."""
    if window:
        # watermarks require TIMESTAMP (parquet often yields TIMESTAMP_NTZ)
        stream_df = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        stream_df = stream_df.withWatermark(ts_col, watermark)
        stream_df = stream_df.withColumn("window", F.window(ts_col, window))
        group_cols = ["window", *group_cols]
    return histogram(stream_df, value, cfg, group_cols)


def stream_quantile_sketch_states(
    stream_df: DataFrame,
    value: str,
    ops: SketchOps,
    group_cols: Sequence[str] = ("source",),
    qs: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """One bounded sketch per group in the streaming state store (``ops``
    is a ``SketchOps`` -- ddsketch_agg.ddsketch_ops(), quantile_agg.tdigest_ops()
    or kll_ops()), absorbed per micro-batch with the vectorized numpy core,
    emitting the refreshed quantile grid (group..., ``ops.grid_fields``).

    For t-digest and KLL, incremental absorption is NOT byte-identical
    to the one-shot batch build (both sketches compact as data arrives, so
    retained state depends on arrival chunking) -- but every emission
    honors the published rank bound, which is what the streaming test
    gates (same contract as the batch compacting tier in
    plans.approx_suite). State stays O(delta) / O(k log(n/k)) per group
    regardless of stream length."""
    group_cols = list(group_cols)
    qs = [float(q) for q in qs]

    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.exists:
            sk = ops.core.from_dict(dict(zip(ops.state_cols, state.get)))
        else:
            sk = ops.empty()
        for pdf in pdfs:
            ops.add(sk, pdf[value].to_numpy(dtype=np.float64, na_value=np.nan))
        d = ops.core.to_dict(sk)
        state.update(tuple(d[k] for k in ops.state_cols))
        yield pd.DataFrame({**dict(zip(group_cols, key)), **ops.grid(sk, qs)})

    src = stream_df.select(*group_cols, value)
    return src.groupBy(*group_cols).applyInPandasWithState(
        update,
        outputStructType=schema_prefix(stream_df, group_cols) + ops.grid_fields,
        stateStructType=ops.state_fields,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
