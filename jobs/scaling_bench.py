#!/usr/bin/env python
"""Two-cluster-size scaling evidence (BASELINE.json north rule): strong
and weak scaling of bench.py's two token queries, from the same rounds.

No real cluster exists in this sandbox, so the N -> 4N executor criterion
is evidenced by running the identical job at two parallelism levels and
reporting throughput at both.  Each round runs, for each workload,

    (N CPUs, n_docs/4 docs), (N CPUs, n_docs docs), (4N CPUs, n_docs docs)

and the shared 4N run gives both pairs:

    strong efficiency = t(N, n_docs) / (4 * t(4N, n_docs))
    weak efficiency   = t(N, n_docs/4) / t(4N, n_docs)   (same load per CPU)

Methodology notes (see BASELINE.md §3):

* Fresh session per measurement. A long-lived local session degrades run
  over run (Python-worker/JVM state accrual); a fresh `SparkSession` per
  timed run is stable to ~10%. Each measurement runs in a subprocess with
  bench.py's session, query and warm-up-then-timed protocol.

* Granted cores. Each measurement's ENTIRE process tree (driver, JVM,
  Python workers, Arrow feeder threads) is bound to its level's CPUs with
  `taskset`, not just `local[N]` task slots: in local mode the JVM
  parquet-scan/Arrow-feeder threads are not bounded by local[N], so an
  unbound local[2] Arrow-UDAF job really uses ~3 host cores.  CPU affinity
  is inherited by every child, so N granted cores vs 4N granted cores is
  the sandbox analog of N vs 4N executor containers.  A level larger than
  the CPUs this process may use is refused: taskset would accept it and
  the run would measure overcommit.

* Interleaved rounds. Steal bursts on this microVM last minutes, so the
  levels alternate within each round and both sample the same steal
  regime; per-round pairs are reported beside the best-of-runs
  efficiencies, with each round's host steal (/proc/stat).

Run:  python jobs/scaling_bench.py [--n-docs 300000] [--n 2] [--runs 3]
      [--probe] [--wait-quiet]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

WORKLOADS = tuple(bench.TOKEN_QUERIES)


def _spin(_):
    import numpy as np

    a = np.arange(200_000, dtype=np.float64)
    t0 = time.monotonic()
    it = 0
    while time.monotonic() - t0 < 2.0:
        np.log(a + 1.0).sum()
        it += 1
    return it


def probe_capacity(points=(1, 2, 8, 32)) -> dict:
    """Pure-numpy multiprocessing throughput at several worker counts --
    the machine's real (host-granted) CPU capacity curve."""
    import multiprocessing as mp

    out = {}
    for w in points:
        with mp.Pool(w) as p:
            t0 = time.monotonic()
            its = p.map(_spin, range(w))
            out[w] = round(sum(its) / (time.monotonic() - t0), 1)
    return out


def measure_once(cpus: int, tokens_path: str, workload: str) -> list[float]:
    """Three timed runs after one warm-up, in THIS process (invoked as a
    subprocess).  The table is re-scanned each run, not ``.cache()``d:
    reading wide token-array rows back out of the block-manager cache
    measured 41-212s at local[8] where the vectorized parquet re-scan
    takes 7.7s, and executors at scale re-scan columnar storage too."""
    from ddsketch_spark.config import DDSketchConfig

    spark = bench.session(cpus, split_size="8m")
    tokens = spark.read.parquet(tokens_path)
    query = bench.TOKEN_QUERIES[workload]
    _, secs = bench.warm_then_timed(lambda: query(tokens, DDSketchConfig()).collect(), 3)
    spark.stop()
    return secs


def _cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of /proc/stat's cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7]


def _steal_between(start: tuple[int, int], end: tuple[int, int]) -> float:
    return 100.0 * (end[1] - start[1]) / max(end[0] - start[0], 1)


def steal_pct(window: float = 8.0) -> float:
    """Host-steal percentage over ``window`` seconds. Firecracker steal
    storms inflate identical runs 3-10x, so measurements taken above ~2%
    steal are untrustworthy."""
    t0 = _cpu_ticks()
    time.sleep(window)
    return _steal_between(t0, _cpu_ticks())


def wait_quiet(threshold: float = 2.0, max_wait: float = 1800.0) -> float:
    """Block until host steal drops below ``threshold`` percent (or
    max_wait elapses); returns the last observed steal."""
    waited = 0.0
    while True:
        s = steal_pct()
        print(f"# steal={s:.2f}%", file=sys.stderr)
        if s < threshold or waited >= max_wait:
            return s
        waited += 30.0
        time.sleep(22.0)


def _one_subprocess(cpus: int, tokens_path: str, workload: str) -> list[float]:
    """One measurement in a fresh process tree bound to the first ``cpus``
    CPUs this process may use."""
    granted = ",".join(map(str, sorted(os.sched_getaffinity(0))[:cpus]))
    cmd = ["taskset", "-c", granted, sys.executable, os.path.abspath(__file__),
           "--single", "--cpus", str(cpus), "--tokens-path", tokens_path,
           "--workload", workload]
    r = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO, timeout=1800)
    if r.returncode:
        tail = "\n".join(r.stderr.splitlines()[-20:])
        raise RuntimeError(f"{workload} at local[{cpus}] exited {r.returncode}:\n{tail}")
    return json.loads(r.stdout.strip().splitlines()[-1])["secs"]


def run_rounds(levels: tuple, paths: dict, runs: int) -> tuple[dict, list[dict], list[float]]:
    """``runs`` rounds over every (cpus, n_docs) level and workload,
    interleaved (lo, hi, lo, hi, ...) so all levels sample the same
    host-steal regime.  Returns every timed run per (cpus, n_docs,
    workload), each round's best per key, and each round's host steal
    percentage."""
    secs: dict = {(c, d, w): [] for c, d in levels for w in WORKLOADS}
    round_best: list[dict] = []
    steal: list[float] = []
    for _ in range(runs):
        start, best = _cpu_ticks(), {}
        for c, d in levels:
            for w in WORKLOADS:
                s = _one_subprocess(c, paths[d], w)
                secs[c, d, w].extend(s)
                best[c, d, w] = min(s)
        steal.append(round(_steal_between(start, _cpu_ticks()), 2))
        round_best.append(best)
    return secs, round_best, steal


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=300_000,
                    help="docs at the strong pair and at 4N; N also runs n_docs/4")
    ap.add_argument("--n", type=int, default=2, help="N; 4N is run too")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--probe", action="store_true")
    ap.add_argument("--wait-quiet", action="store_true",
                    help="block until host steal < 2%% before measuring")
    ap.add_argument("--single", action="store_true", help="internal: one measurement")
    ap.add_argument("--cpus", type=int)
    ap.add_argument("--tokens-path")
    ap.add_argument("--workload")
    args = ap.parse_args()

    if args.single:
        secs = measure_once(args.cpus, args.tokens_path, args.workload)
        print(json.dumps({"secs": secs}))
        return

    n, granted = args.n, len(os.sched_getaffinity(0))
    if 4 * n > granted:
        ap.error(f"--n {n} needs 4N = {4 * n} CPUs, but this process may use {granted}")

    import pyarrow.parquet as pq

    from ddsketch_spark.sources.fixtures import generate_tokens_table

    quarter, full = args.n_docs // 4, args.n_docs
    paths = {d: generate_tokens_table(d) for d in (quarter, full)}
    tokens = {
        d: int(pq.read_table(p, columns=["n_tok"])["n_tok"].to_numpy().sum())
        for d, p in paths.items()
    }
    levels = ((n, quarter), (n, full), (4 * n, full))

    result: dict = {"n": n, "n_docs": full, "total_tokens": tokens[full]}
    if args.wait_quiet:
        result["steal_pct_at_start"] = round(wait_quiet(), 2)
    if args.probe:
        result["cpu_capacity_probe_iters_per_sec"] = probe_capacity()
    secs, round_best, steal = run_rounds(levels, paths, args.runs)
    result["round_steal_pct"] = steal
    result["levels"] = [
        {
            "cpus": c, "n_docs": d, "tokens": tokens[d],
            **{
                w: {
                    "runs_sec": [round(s, 3) for s in secs[c, d, w]],
                    "median_sec": round(statistics.median(secs[c, d, w]), 3),
                    "best_sec": round(min(secs[c, d, w]), 3),
                }
                for w in WORKLOADS
            },
        }
        for c, d in levels
    ]
    best = {k: min(v) for k, v in secs.items()}
    result["summary"] = {}
    for w in WORKLOADS:
        lo_q, lo, hi = ((c, d, w) for c, d in levels)
        summary: dict = {
            f"tokens_per_sec@local[{n}]": int(tokens[full] / best[lo]),
            f"tokens_per_sec@local[{4 * n}]": int(tokens[full] / best[hi]),
        }
        for kind, eff in (
            ("strong", lambda t: t[lo] / (4 * t[hi])),
            ("weak", lambda t: t[lo_q] / t[hi]),
        ):
            # best-of-runs efficiency, and per-round adjacent pairs: robust
            # to steal bursts that span a whole level
            pairs = [round(eff(b), 3) for b in round_best]
            summary[kind] = {
                "efficiency": round(eff(best), 3),
                "pairs": pairs,
                "best_pair": max(pairs),
                "median_pair": round(statistics.median(pairs), 3),
            }
        result["summary"][w] = summary
    print(json.dumps(result))


if __name__ == "__main__":
    main()
