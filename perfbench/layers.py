"""Traced run: spans around every call into a layer, Spark's own plan and
stage metrics per action, and Spark-free timings of the numpy cores.

Everything here observes the library from outside.  Spark layers are timed
by running an action on one public function's output alone; their plan SQL
metrics come from ``queryExecution().executedPlan()`` and their stage run and
CPU time from the status store, found through the action's job group.
"""

from __future__ import annotations

import itertools
import time
from dataclasses import dataclass, field

import numpy as np

# SQL metric types whose values are durations, with their unit in seconds.
_TIME_UNITS = {"timing": 1e-3, "nsTiming": 1e-9}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory and written out once, at the end of the run."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    def start(self, name: str, **attrs) -> int:
        now = time.perf_counter() - self.t0
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, now, now, parent, attrs))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, sid: int, **attrs) -> Span:
        span = self.spans[sid]
        span.end = time.perf_counter() - self.t0
        span.attrs.update(attrs)
        self._stack.remove(sid)
        return span

    def as_json(self) -> list[dict]:
        return [
            {"id": i, "name": s.name, "start": round(s.start, 6), "end": round(s.end, 6),
             "parent": s.parent, **({"attrs": s.attrs} if s.attrs else {})}
            for i, s in enumerate(self.spans)
        ]


class SparkMetrics:
    """Runs actions under their own job group and reads back what Spark
    recorded for them."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self._ids = itertools.count()

    def action(self, df, collect: bool = True):
        """Run ``df`` to completion; returns (result, wall_s, metrics).

        ``collect=False`` executes the physical plan and counts its rows
        without moving them to the driver, like a noop write."""
        group = f"perfbench-{next(self._ids)}"
        self.sc.setJobGroup(group, group)
        try:
            t0 = time.perf_counter()
            if collect:
                result = df.collect()
            else:
                result = df._jdf.queryExecution().executedPlan().execute().count()
            wall = time.perf_counter() - t0
        finally:
            self.sc._jsc.clearJobGroup()
        self.jsc.listenerBus().waitUntilEmpty()
        metrics = {"plan": plan_metrics(df._jdf.queryExecution().executedPlan())}
        metrics.update(self._stage_metrics(group, wall))
        return result, wall, metrics

    def _stage_metrics(self, group: str, wall: float) -> dict:
        tracker = self.sc.statusTracker()
        store = self.jsc.statusStore()
        run_ms = cpu_ns = failed = 0
        job_ms = 0
        for job in tracker.getJobIdsForGroup(group):
            jd = store.job(job)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                job_ms += jd.completionTime().get().getTime() - jd.submissionTime().get().getTime()
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info else ():
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped stages have no attempt
                    continue
                run_ms += sd.executorRunTime()
                cpu_ns += sd.executorCpuTime()
                failed += sd.numFailedTasks()
        return {
            "stage_run_s": run_ms / 1e3,
            "stage_cpu_s": cpu_ns / 1e9,
            "task_failures": failed,
            # driver-side share of the call: planning, scheduling gaps and
            # moving the result into Python
            "driver_s": max(wall - job_ms / 1e3, 0.0),
        }


def plan_metrics(plan) -> list[dict]:
    """Every node of an executed plan with its SQL metrics, durations in
    seconds, descending into adaptive query stages."""
    out = []
    todo = [plan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.finalPhysicalPlan())
            continue
        ms = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metric = kv._2()
            ms[kv._1()] = metric.value() * _TIME_UNITS.get(metric.metricType(), 1)
        out.append({"node": node.nodeName(), "metrics": ms})
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return out


def metric_sum(metrics: dict, name: str, node_prefix: str = "") -> float:
    return sum(
        n["metrics"].get(name, 0.0)
        for n in metrics["plan"]
        if n["node"].startswith(node_prefix)
    )


def _process_seconds(fn, *args):
    t0 = time.process_time()
    out = fn(*args)
    return out, time.process_time() - t0


def core_layers(groups: list[np.ndarray], parts: int, cap: int) -> dict:
    """Spark-free core timings on the workload's own per-group values.

    Each group contributes an even sample of its values, ``cap`` values in
    all, split into ``parts`` partials, as Spark's partitions would split them;
    ``add`` is timed over all partials and ``merge_many`` over each group's
    partials, in CPU seconds."""
    from ddsketch_spark.config import DDSketchConfig
    from ddsketch_spark.core import ddsketch as dds
    from ddsketch_spark.core import kll, tdigest

    per_group = max(cap // len(groups), parts)
    rng = np.random.default_rng(0)
    chunks, used = [], 0
    for g in groups:
        # the values are sorted: an even stride keeps each group's shape
        take = g[:: max(g.size // per_group, 1)][:per_group].astype(np.float64)
        chunks.append(np.array_split(rng.permutation(take), parts))
        used += take.size
    cores = {
        "ddsketch": (lambda: dds.empty(DDSketchConfig()), dds.add, dds.merge_many),
        "tdigest": (lambda: tdigest.empty(), tdigest.add, tdigest.merge_many),
        "kll": (lambda: kll.empty(), kll.add, kll.merge_many),
    }
    out = {}
    for name, (empty, add, merge_many) in cores.items():
        add_s = merge_s = 0.0
        merged = []
        for group_parts in chunks:
            partials = []
            for part in group_parts:
                sk, s = _process_seconds(add, empty(), part)
                partials.append(sk)
                add_s += s
            m, s = _process_seconds(merge_many, partials)
            merged.append(m)
            merge_s += s
        out[f"core.{name}.add_vps"] = used / max(add_s, 1e-9)
        out[f"core.{name}.merge_many_s"] = merge_s
        if name == "ddsketch":
            out["core.ddsketch.bins"] = sum(m.size for m in merged)
            out["core.ddsketch.collapse_level"] = max(m.level for m in merged)
    return out


def _state_bytes(rows) -> int:
    """Bytes of the array payload of collected sketch-state rows."""
    return sum(8 * len(v) for r in rows for v in r.asDict().values() if isinstance(v, list))


def spark_layers(sm: SparkMetrics, li, tracer: Tracer) -> dict:
    """Time each module's public functions alone on the workload's inputs.

    Data-sized functions run without collecting (``collect=False``); the
    functions that consume their output run over a cached copy, so each
    timing covers one layer."""
    from pyspark.sql import functions as F

    from ddsketch_spark.config import Q_GRID, DDSketchConfig
    from ddsketch_spark.core.kll import KLLConfig
    from ddsketch_spark.operators import approx_agg, ddsketch_agg, quantile_agg, sketch_agg

    cfg, by = DDSketchConfig(), (li.group,)
    out: dict = {}
    cached = []

    def act(name, df, collect=True):
        sid = tracer.start(name)
        result, wall, m = sm.action(df, collect)
        tracer.end(sid, wall_s=wall, stage_run_s=m["stage_run_s"], stage_cpu_s=m["stage_cpu_s"])
        return result, wall, m

    def cache(df):
        df = df.persist()
        df.count()
        cached.append(df)
        return df

    try:
        # sources: the scan alone
        _, out["sources.scan_s"], m = act("sources.scan", li.df, collect=False)
        out["sources.rows_read"] = metric_sum(m, "numOutputRows", "Scan")
        out["sources.bytes_read"] = metric_sum(m, "filesSize", "Scan")

        # sketch_agg: build, merge over cached partials, update stored states
        build = sketch_agg.build_partials(li.df, li.value, cfg, by, li.array_col)
        _, out["sketch_agg.build_partials_s"], m = act("sketch_agg.build_partials", build, False)
        out["sketch_agg.python_data_sent_bytes"] = metric_sum(m, "pythonDataSent")
        out["sketch_agg.python_time_s"] = metric_sum(m, "pythonTotalTime")
        parts = cache(build)
        _, out["sketch_agg.merge_partials_s"], m = act(
            "sketch_agg.merge_partials", sketch_agg.merge_partials(parts, by))
        out["sketch_agg.partial_rows"] = parts.count()
        out["sketch_agg.shuffle_bytes"] = metric_sum(m, "shuffleBytesWritten")
        states = li.states if li.states is not None else cache(
            sketch_agg.merge_partials(parts, by))
        _, out["sketch_agg.update_s"], _ = act(
            "sketch_agg.update_sketch_states",
            sketch_agg.update_sketch_states(states, li.new, li.value, cfg, by, li.array_col))

        # ddsketch_agg: keyed histogram, finalize, delete, evaluate
        hist = ddsketch_agg.histogram(li.df, li.value, cfg, by, explode_array=li.array_col)
        _, out["ddsketch_agg.histogram_s"], m = act("ddsketch_agg.histogram", hist, False)
        out["ddsketch_agg.agg_time_s"] = metric_sum(m, "aggTime")
        hist = cache(hist)
        out["ddsketch_agg.hist_rows"] = hist.count()
        _, out["ddsketch_agg.finalize_s"], _ = act(
            "ddsketch_agg.sketch_from_histogram", ddsketch_agg.sketch_from_histogram(hist, cfg, by))
        _, out["ddsketch_agg.delete_s"], _ = act(
            "ddsketch_agg.delete_from_sketch",
            ddsketch_agg.delete_from_sketch(states, li.deleted, li.flat_value, cfg, by))
        _, out["ddsketch_agg.evaluate_s"], _ = act(
            "ddsketch_agg.quantiles_from_sketch", ddsketch_agg.quantiles_from_sketch(states, Q_GRID, by))

        # quantile_agg (KLL k=200): build, build+merge, evaluate
        ops = quantile_agg.kll_ops(KLLConfig(200))
        _, qbuild_s, _ = act("quantile_agg.build_partials",
                             quantile_agg.build_partials(li.flat, li.flat_value, ops, by), False)
        out["quantile_agg.build_partials_s"] = qbuild_s
        qstates = quantile_agg.sketch_agg(li.flat, li.flat_value, ops, by).persist()
        cached.append(qstates)
        rows, qagg_s, _ = act("quantile_agg.sketch_agg", qstates)
        out["quantile_agg.merge_s"] = max(qagg_s - qbuild_s, 0.0)
        out["quantile_agg.state_bytes"] = _state_bytes(rows)
        _, out["quantile_agg.evaluate_s"], _ = act(
            "quantile_agg.quantiles_from_states",
            quantile_agg.quantiles_from_states(qstates, ops, Q_GRID, by))

        # approx_agg: the three data-sized JVM stages
        flat = li.flat.select(F.col(li.group), F.col(li.flat_value))
        shuffle = 0.0
        for name, df in (
            ("hll_registers", approx_agg.hll_registers(flat, li.flat_value, group_cols=by)),
            ("cms_counters", approx_agg.cms_counters(flat, li.flat_value)),
            ("bloom_bits", approx_agg.bloom_bits(flat, li.flat_value)),
        ):
            _, out[f"approx_agg.{name}_s"], m = act(f"approx_agg.{name}", df, False)
            shuffle += metric_sum(m, "shuffleBytesWritten")
        out["approx_agg.shuffle_bytes"] = shuffle
    finally:
        for df in cached:
            df.unpersist()
    return out
