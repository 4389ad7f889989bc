"""Streaming-vs-batch equivalence: the streaming histogram and the custom
stateful sketch must converge to exactly the batch result over the same
rows (availableNow trigger over the events parquet as a file stream)."""

from __future__ import annotations

import os
import tempfile
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from ddsketch_spark.config import DDSketchConfig
from ddsketch_spark.operators import ddsketch_agg as agg
from ddsketch_spark.streaming import sketch_stream as ss

CFG = DDSketchConfig(bin_limit=4096)


@pytest.fixture(scope="module")
def events_dir(sf_correct, tmp_path_factory):
    # file streams read directories; stage the single parquet into one,
    # split into several files so availableNow exercises multiple batches
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("events_stream")
    t = pq.read_table(f"{sf_correct}/events.parquet")
    n = t.num_rows
    for i, lo in enumerate(range(0, n, n // 4 + 1)):
        path = str(d / f"part-{i}.parquet")
        pq.write_table(t.slice(lo, n // 4 + 1), path)
        # a file stream takes files in modification-time order: one second
        # apart, the micro-batches follow the table's ts order
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return str(d)


@pytest.fixture(scope="module")
def events_stream(spark, events_dir, sf_correct):
    schema = spark.read.parquet(f"{sf_correct}/events.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(events_dir)
    )


def _run_to_memory(df, name: str, output_mode: str):
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return q


def test_stream_histogram_equals_batch(spark, sf_correct, events_stream):
    out = ss.stream_histogram(events_stream, "value", CFG, group_cols=("event_type",))
    _run_to_memory(out, "hist_stream", "complete")
    got = {
        (r["event_type"], r["key"]): r["cnt"]
        for r in spark.sql("SELECT * FROM hist_stream").collect()
    }
    batch = spark.read.parquet(f"{sf_correct}/events.parquet")
    want = {
        (r["event_type"], r["key"]): r["cnt"]
        for r in agg.histogram(batch, "value", CFG, group_cols=("event_type",)).collect()
    }
    assert got == want


def test_stream_windowed_histogram_runs(spark, sf_correct, events_stream):
    """Append mode emits each window once the watermark has closed it, and
    then holds the batch histogram of that window's rows."""
    out = ss.stream_histogram(
        events_stream, "value", CFG, group_cols=("event_type",), window="1 hour"
    )
    q = _run_to_memory(out, "win_stream", "append")
    got = {
        (r["window"], r["event_type"], r["key"]): r["cnt"]
        for r in spark.sql("SELECT * FROM win_stream").collect()
    }
    watermark = datetime.fromisoformat(q.lastProgress["eventTime"]["watermark"])
    batch = spark.read.parquet(f"{sf_correct}/events.parquet")
    batch = batch.withColumn("window", F.window(F.col("ts").cast("timestamp"), "1 hour"))
    closed = batch.where(F.col("window.end").cast("double") <= watermark.timestamp())
    want = {
        (r["window"], r["event_type"], r["key"]): r["cnt"]
        for r in agg.histogram(closed, "value", CFG, group_cols=("window", "event_type")).collect()
    }
    assert want and got == want


def test_stream_stateful_sketch_equals_batch(spark, sf_correct, events_stream):
    qs = (0.5, 0.9, 0.99)
    out = ss.stream_quantile_sketch_states(
        events_stream, "value", agg.ddsketch_ops(CFG), group_cols=("event_type",), qs=qs
    )
    _run_to_memory(out, "state_stream", "update")
    # last update per (event_type, q) is the final converged estimate
    rows = spark.sql(
        "SELECT event_type, q, bucket_key, estimate, n FROM ("
        " SELECT *, row_number() OVER (PARTITION BY event_type, q ORDER BY n DESC) AS rn"
        " FROM state_stream) WHERE rn = 1"
    ).collect()
    got = {(r["event_type"], r["q"]): (r["bucket_key"], r["estimate"], r["n"]) for r in rows}
    batch = spark.read.parquet(f"{sf_correct}/events.parquet")
    want = {
        (r["event_type"], r["q"]): (r["bucket_key"], r["estimate"], r["n"])
        for r in agg.quantiles(batch, "value", qs, CFG, group_cols=("event_type",)).collect()
    }
    assert got == want


def test_stream_hll_equals_batch(spark, sf_correct, events_stream):
    from ddsketch_spark.core.hll import HLLConfig
    from ddsketch_spark.operators import approx_agg as aops

    cfg = HLLConfig(p=10)
    out = aops.hll_registers(events_stream, "user_id", cfg, group_cols=("event_type",))
    _run_to_memory(out, "hll_stream", "complete")
    got = {
        (r["event_type"], r["idx"]): r["rho"]
        for r in spark.sql("SELECT * FROM hll_stream").collect()
    }
    batch = spark.read.parquet(f"{sf_correct}/events.parquet")
    want = {
        (r["event_type"], r["idx"]): r["rho"]
        for r in aops.hll_registers(batch, "user_id", cfg, group_cols=("event_type",)).collect()
    }
    assert got == want


@pytest.mark.parametrize("kind", ["tdigest", "kll"])
def test_stream_quantile_sketches_rank_bound(spark, sf_correct, events_stream, kind):
    """Streaming t-digest/KLL (fixed delta=200 / k=200, real compaction in
    the state store): after the final micro-batch, every per-group estimate
    honors the published rank bound vs the exact values, and n is exact.
    Incremental absorption is not byte-identical to the batch build (both
    sketches compact as data arrives) -- the rank bound IS the contract,
    same as the batch compacting tier."""
    import numpy as np

    from ddsketch_spark.core.kll import KLLConfig
    from ddsketch_spark.core.tdigest import TDigestConfig
    from ddsketch_spark.operators import quantile_agg as qa

    if kind == "tdigest":
        ops, eps = qa.tdigest_ops(TDigestConfig(delta=200.0)), 6.0 / 200.0
    else:
        ops, eps = qa.kll_ops(KLLConfig(k=200)), 2 * 2.9 / 200
    qs = (0.1, 0.5, 0.9)
    out = ss.stream_quantile_sketch_states(
        events_stream, "value", ops, group_cols=("event_type",), qs=qs
    )
    _run_to_memory(out, f"qsketch_stream_{kind}", "update")
    rows = spark.sql(f"SELECT * FROM qsketch_stream_{kind}").collect()
    # 'update' mode appends one emission per group per micro-batch; the
    # final state is the row with the largest n per (group, q)
    final: dict = {}
    for r in rows:
        k = (r["event_type"], r["q"])
        if k not in final or r["n"] > final[k]["n"]:
            final[k] = r
    pdf = (
        spark.read.parquet(f"{sf_correct}/events.parquet")
        .select("event_type", "value")
        .toPandas()
    )
    by_type = {et: g["value"].to_numpy() for et, g in pdf.groupby("event_type")}
    assert {k[0] for k in final} == set(by_type)
    for (et, q), r in final.items():
        vals = np.sort(by_type[et])
        assert r["n"] == len(vals)
        rank = np.searchsorted(vals, r["estimate"], side="right")
        assert abs(rank - q * len(vals)) <= eps * len(vals), (et, q, r["estimate"])
