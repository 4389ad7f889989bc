#!/usr/bin/env python3
"""ddsketch_spark benchmark: one command, two closed-loop workloads.

Run from the root of a checkout:

    python3 perfbench/run.py --workload token-analytics --seed 1 --seconds 10 --trace 0

One process drives ``local[nproc]``; each op starts only after the previous
one has been collected.  The run starts Spark, sets up several times
(inputs, oracles, stored state) and reports the median, runs two untimed
warm-up passes, then repeats passes over the workload's ops for ``--seconds``
(at least two).  Every op is checked against exact answers outside its
timed region.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs rounds of an
untraced pass, an untraced pass over a quarter of the input (to split each
op into fixed and data-sized time) and a traced pass, times each module's
public functions alone, and prints the per-layer metrics.  Every metric is
printed by name and unit on its own line; the last line of standard output
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``.  Spans
and the full result are written to ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import host

SETUP_REPS = 3
# the first pass starts the Python workers and runs cold; the JIT keeps
# compiling through the second, whose CPU is still a fifth above the third's
WARMUP_PASSES = 2
MIN_PASSES = 2
PROBE_PASSES = 2  # traced runs: least rounds of untraced, probe and traced pass
CORE_VALUES = 100_000

# Reported on every workload and gated by BENCHMARK.json's bounds: whole-pass
# figures.  The per-module throughputs (values_per_s.*, values_per_cpu_s.*)
# are printed but not gated: each rests on one or two ops, whose times move
# by a tenth or more from run to run.
END_TO_END = {
    "setup_s": "s",
    "pass_s.p50": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}
MODULES = ("sketch_agg", "ddsketch_agg", "quantile_agg", "approx_agg")
MAINTENANCE_OPS = ("update", "delete", "evaluate")

PER_LAYER = {
    "sketch_agg.build_partials_s": "s",
    "sketch_agg.python_data_sent_bytes": "bytes",
    "sketch_agg.python_time_s": "s",
    "sketch_agg.merge_partials_s": "s",
    "sketch_agg.partial_rows": "count",
    "sketch_agg.shuffle_bytes": "bytes",
    "sketch_agg.update_s": "s",
    "ddsketch_agg.histogram_s": "s",
    "ddsketch_agg.agg_time_s": "s",
    "ddsketch_agg.hist_rows": "count",
    "ddsketch_agg.finalize_s": "s",
    "ddsketch_agg.delete_s": "s",
    "ddsketch_agg.evaluate_s": "s",
    "quantile_agg.build_partials_s": "s",
    "quantile_agg.merge_s": "s",
    "quantile_agg.evaluate_s": "s",
    "quantile_agg.state_bytes": "bytes",
    "approx_agg.hll_registers_s": "s",
    "approx_agg.cms_counters_s": "s",
    "approx_agg.bloom_bits_s": "s",
    "approx_agg.shuffle_bytes": "bytes",
    "core.ddsketch.add_vps": "1/s",
    "core.ddsketch.merge_many_s": "s",
    "core.ddsketch.bins": "count",
    "core.ddsketch.collapse_level": "count",
    "core.tdigest.add_vps": "1/s",
    "core.tdigest.merge_many_s": "s",
    "core.kll.add_vps": "1/s",
    "core.kll.merge_many_s": "s",
    "sources.scan_s": "s",
    "sources.rows_read": "count",
    "sources.bytes_read": "bytes",
    "spark.stage_run_s": "s",
    "spark.stage_cpu_s": "s",
    "spark.python_boot_s": "s",
    "spark.task_failures": "count",
    "driver.collect_s": "s",
    "trace.overhead_pct": "%",
    "pass.fixed_s": "s",
    "pass.data_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    p.add_argument("--corrupt-oracle", action="store_true",
                   help="skew every exact answer by 10%% (self-test only)")
    return p.parse_args(argv)


class Run:
    """One benchmark invocation: its Spark session, workload and tallies."""

    def __init__(self, args, root: str):
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        self.args = args
        self.root = root
        self.base = os.path.join(root, ".perfbench_work")
        self.work = os.path.join(self.base, f"run-{os.getpid()}")
        self.facts = host.host_facts()
        self.workload = WORKLOADS[args.workload](
            args.scale, args.seed, self.work, parts=2 * self.facts["nproc"],
            skew=1.1 if args.corrupt_oracle else 1.0)
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []

    # -- session -----------------------------------------------------------
    def _isolate(self) -> None:
        """Keep every file Spark and its workers write inside the work dir."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        # no hsperfdata files under /tmp from the launcher or Spark JVMs
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p)

    def start_session(self):
        from pyspark.sql import SparkSession

        n = self.facts["nproc"]
        tmp = os.path.join(self.work, "tmp")
        self.spark = (
            SparkSession.builder.master(f"local[{n}]")
            .appName(f"perfbench-{self.args.workload}")
            .config("spark.driver.memory", f"{self.facts['driver_memory_mb']}m")
            .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
            .config("spark.local.dir", os.path.join(self.work, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config("spark.sql.shuffle.partitions", str(n))
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.gateway_proc = self.spark.sparkContext._gateway.proc

    def stop(self) -> None:
        """Stop Spark, then the JVM it launched, and wait for both."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        proc = self.gateway_proc
        if proc is not None and proc.poll() is None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - escalate on any wait failure
                proc.kill()
                proc.wait()

    # -- passes ------------------------------------------------------------
    def run_op(self, op, timer=None, check=True):
        """Time one op, then check it unless ``check`` is false; returns
        (wall_s, cpu_s, metrics).

        ``timer(op, df)`` replaces the plain collect in traced passes and
        returns the rows with Spark's metrics for the action."""
        self.attempted += 1
        cpu0 = host.tree_cpu_seconds()
        metrics = None
        try:
            t0 = time.perf_counter()
            df = op.frame()
            if timer is None:
                rows = df.collect()
            else:
                rows, metrics = timer(op, df)
            wall = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 - a raising op is a failed op
            self.failures.append(f"{op.name}: raised {type(exc).__name__}: {exc}"[:500])
            return None, None, None
        cpu = host.tree_cpu_seconds() - cpu0
        problems = op.check(rows) if check else []
        if problems:
            self.failures.append(f"{op.name}: " + "; ".join(problems[:3]))
        return wall, cpu, metrics

    def run_pass(self, ops, timer=None, check=True) -> dict:
        rec = {"ops": {}, "op_cpu": {}, "cpu_s": 0.0, "metrics": []}
        for op in ops:
            wall, cpu, metrics = self.run_op(op, timer, check)
            if wall is None:
                continue
            rec["ops"][op.name] = wall
            rec["op_cpu"][op.name] = cpu
            rec["cpu_s"] += cpu
            if metrics is not None:
                rec["metrics"].append(metrics)
        rec["pass_s"] = sum(rec["ops"].values())
        return rec

    def run_passes(self, ops, seconds: float, min_passes: int = MIN_PASSES) -> list[dict]:
        passes = []
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or len(passes) < min_passes:
            passes.append(self.run_pass(ops))
        return passes

    # -- phases ------------------------------------------------------------
    def setup(self, reps: int) -> list[float]:
        """Start Spark, then set up ``reps`` times: inputs, oracles and
        stored state.  Returns each set-up's seconds; the session's start
        time is kept in ``session_s``."""
        t0 = time.perf_counter()
        self.start_session()
        self.session_s = time.perf_counter() - t0
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            self.workload.generate()
            self.workload.prepare(self.spark)
            self.ops = self.workload.ops()
            times.append(time.perf_counter() - t0)
        return times

    def warm_up(self) -> dict:
        """Checked passes that start the Python workers and let the JVM
        compile its hot code before anything is measured; returns the first
        (cold) pass's op times."""
        passes = [self.run_pass(self.ops)["ops"] for _ in range(WARMUP_PASSES)]
        return passes[0]

    def execute(self) -> tuple[dict, dict]:
        self._isolate()
        noise0 = host.noise_snapshot()
        setups = self.setup(1 if self.args.trace else SETUP_REPS)
        warm = self.warm_up()
        if self.args.trace:
            metrics, extra = self.traced()
        else:
            passes = self.run_passes(self.ops, self.args.seconds)
            metrics, extra = self.end_to_end(passes, setups)
        extra["warmup_op_s"] = warm
        extra["noise"] = host.noise_between(noise0, host.noise_snapshot())
        extra["host"] = self.facts
        return metrics, extra

    def end_to_end(self, passes, setups) -> tuple[dict, dict]:
        med = statistics.median
        pass_s = [p["pass_s"] for p in passes]
        tail_p, tail = tail_percentile(pass_s)
        m = {
            "setup_s": med(setups),
            "pass_s.p50": med(pass_s),
            "cpu_s": med(p["cpu_s"] for p in passes),
            "peak_rss_mb": host.tree_peak_rss_mb(),
        }
        ops = {op.name: op for op in self.ops}
        for module in MODULES:
            rated = [op for op in self.ops if op.module == module and op.values > 0]
            if not rated:
                continue
            done = [p for p in passes if all(o.name in p["ops"] for o in rated)]
            if not done:  # every pass lost one of these ops to a failure
                continue
            values = sum(o.values for o in rated)
            m[f"values_per_s.{module}"] = med(
                values / sum(p["ops"][o.name] for o in rated) for p in done)
            m[f"values_per_cpu_s.{module}"] = med(
                values / sum(p["op_cpu"][o.name] for o in rated) for p in done)
        for name in MAINTENANCE_OPS:
            if name in ops:
                m[f"{name}_s.p50"] = med(p["ops"][name] for p in passes if name in p["ops"])
        extra = {
            "pass_s.tail": {"value": tail, "percentile": tail_p, "samples": len(pass_s)},
            "failed_ops": len(self.failures) / self.attempted,
            "quantile_rel_err.max": self.workload.tally.quantile_rel_err,
            "setup_s.all": setups,
            "session_s": self.session_s,
            "passes": [{k: p[k] for k in ("pass_s", "cpu_s", "ops", "op_cpu")}
                       for p in passes],
            "op_s.p50": {name: med(p["ops"][name] for p in passes if name in p["ops"])
                         for name in ops},
        }
        if self.workload.tally.rank_err:
            extra["rank_err.max"] = self.workload.tally.rank_err
        return m, extra

    def traced(self) -> tuple[dict, dict]:
        import layers as tr

        tracer = tr.Tracer()
        sm = tr.SparkMetrics(self.spark)

        def timer(op, df):
            sid = tracer.start(f"op.{op.name}", module=op.module)
            rows, wall, m = sm.action(df)
            tracer.end(sid, wall_s=wall, stage_run_s=m["stage_run_s"],
                       stage_cpu_s=m["stage_cpu_s"], driver_s=m["driver_s"])
            return rows, m

        probe_ops, share = self.workload.probe(self.spark)
        plain, probes, traced = [], [], []

        def untraced_pass():
            plain.append(self.run_pass(self.ops))

        def probe_pass():
            probes.append(self.run_pass(probe_ops, check=False)["ops"])

        def traced_pass():
            sid = tracer.start("pass")
            traced.append(self.run_pass(self.ops, timer))
            tracer.end(sid)

        # rounds of the three kinds of pass, in reverse order every other
        # round, so that the JIT warm-up still under way lands on all alike
        steps = [untraced_pass, probe_pass, traced_pass]
        t_end = time.perf_counter() + self.args.seconds
        while time.perf_counter() < t_end or len(plain) < PROBE_PASSES:
            for step in steps:
                step()
            steps.reverse()
        out = self.split(plain, probes, share)
        sid = tracer.start("layers")
        out.update(tr.spark_layers(sm, self.workload.layer_inputs(), tracer))
        tracer.end(sid)
        sid = tracer.start("core")
        out.update(tr.core_layers(self.workload.core_groups, self.facts["nproc"], CORE_VALUES))
        tracer.end(sid)

        med = statistics.median

        def per_pass(fn):
            return med(sum(fn(m) for m in p["metrics"]) for p in traced)

        out["spark.stage_run_s"] = per_pass(lambda m: m["stage_run_s"])
        out["spark.stage_cpu_s"] = per_pass(lambda m: m["stage_cpu_s"])
        # worker boot is zero once workers are warm; init (unpickling the
        # UDF in each task) is paid by every task
        out["spark.python_boot_s"] = per_pass(
            lambda m: tr.metric_sum(m, "pythonBootTime") + tr.metric_sum(m, "pythonInitTime"))
        out["spark.task_failures"] = sum(
            m["task_failures"] for p in traced for m in p["metrics"])
        out["driver.collect_s"] = per_pass(lambda m: m["driver_s"])
        plain_p50 = med(p["pass_s"] for p in plain)
        out["trace.overhead_pct"] = 100.0 * (med(p["pass_s"] for p in traced) / plain_p50 - 1)
        path = os.path.join(self.base, f"trace-{self.args.workload}-s{self.args.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": self.args.workload, "seed": self.args.seed,
                       "spans": tracer.as_json(), "layers": out, "split": self.op_split},
                      f, indent=1)
        return out, {"trace_file": os.path.relpath(path, self.root),
                     "failed_ops": len(self.failures) / self.attempted,
                     "split": self.op_split}

    def split(self, plain, probes, share) -> dict:
        """Split each op's wall time into a fixed part and a data-sized
        part, from the untraced passes and the passes over ``share`` of the
        input: wall = fixed + data * input share, fitted through the medians
        of both."""
        self.op_split = {}
        for name in probes[0]:
            fulls = [p["ops"][name] for p in plain if name in p["ops"]]
            if not fulls:  # the op raised in every untraced pass
                continue
            full = statistics.median(fulls)
            small = statistics.median(p[name] for p in probes if name in p)
            data = (full - small) / (1 - share)
            self.op_split[name] = {"wall_s": full, "fixed_s": full - data, "data_s": data}
        return {
            "pass.fixed_s": sum(s["fixed_s"] for s in self.op_split.values()),
            "pass.data_s": sum(s["data_s"] for s in self.op_split.values()),
        }


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and its
    value.  With ten or fewer samples no percentile qualifies; the maximum is
    reported, as percentile 100."""
    n = len(samples)
    if n <= 10:
        return 100.0, max(samples)
    p = 100.0 * (n - 10) / n
    return p, statistics.quantiles(samples, n=100, method="inclusive")[max(int(p) - 1, 0)]


def _print_metrics(metrics: dict, units: dict) -> None:
    for name, value in metrics.items():
        print(f"metric {name} = {value:.6g} {units.get(name, '')}".rstrip())


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ddsketch_spark", "__init__.py")):
        print("perfbench: run from the root of a ddsketch_spark checkout "
              "(no ddsketch_spark/ package here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    run = Run(args, root)
    os.makedirs(run.work, exist_ok=True)
    try:
        metrics, extra = run.execute()
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result line
        traceback.print_exc()
        return 1
    finally:
        run.stop()
        shutil.rmtree(run.work, ignore_errors=True)

    units = {**END_TO_END, **PER_LAYER, "update_s.p50": "s",
             "delete_s.p50": "s", "evaluate_s.p50": "s"}
    units.update({f"{k}.{m}": "1/s" for k in ("values_per_s", "values_per_cpu_s")
                  for m in MODULES})
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"host nproc={run.facts['nproc']} mem={run.facts['mem_total_mb']}MB "
          f"pyspark={run.facts['pyspark']}")
    _print_metrics(metrics, units)
    if "pass_s.tail" in extra:
        t = extra["pass_s.tail"]
        print(f"metric pass_s.tail = {t['value']:.6g} s "
              f"(p{t['percentile']:.0f} of {t['samples']} passes)")
    for name in ("failed_ops", "quantile_rel_err.max", "rank_err.max"):
        if name in extra:
            print(f"metric {name} = {extra[name]:.6g} ratio")
    for name, v in extra.get("op_s.p50", {}).items():
        print(f"op {name} p50 = {v:.4f} s")
    if "setup_s.all" in extra:
        print("setup_s each = " + ", ".join(f"{x:.3f}" for x in extra["setup_s.all"])
              + f" s; session start {extra['session_s']:.3f} s")
    for name, v in extra.get("split", {}).items():
        print(f"split {name}: wall {v['wall_s']:.3f} s = fixed {v['fixed_s']:.3f} s"
              f" + data {v['data_s']:.3f} s")
    print("warmup_op_s = " + ", ".join(f"{k} {v:.3f}" for k, v in extra["warmup_op_s"].items()))
    n = extra["noise"]
    print(f"noise steal={n['steal_pct']}% load1 {n['load1_start']} -> {n['load1_end']}")
    for f in run.failures:
        print(f"FAILED {f}")

    wanted = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in wanted.items() if k in metrics},
    }
    with open(os.path.join(run.base, f"result-{args.workload}-s{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump({**result, "all_metrics": metrics, "extra": extra}, f, indent=1, default=str)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
