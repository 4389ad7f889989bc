#!/usr/bin/env python
"""Run the ENTIRE query registry via spark-submit and report per-query wall
clock + row counts -- the one-command drive of every operator the engine
ships (SURVEY.md §9).

    spark-submit [--master local[N]] jobs/run_suite.py \
        [--sf-dir /root/testdata/sf0.01] [--only substr] [--metrics]

--metrics additionally runs the flagship UDAF build over the token arrays
and reports the values it sketched (sum of ``n``) and the bins it kept
(sum of ``len(keys)``), read from the collected state rows.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None, help="substring filter on query names")
    ap.add_argument("--metrics", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("ddsketch-run-suite").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    qs = entry.queries()
    timings: dict[str, float] = {}
    counts: dict[str, int] = {}
    failures: dict[str, str] = {}
    for name, fn in sorted(qs.items()):
        if args.only and args.only not in name:
            continue
        t0 = time.monotonic()
        try:
            counts[name] = len(fn(spark, args.sf_dir).collect())
            timings[name] = round(time.monotonic() - t0, 3)
        except Exception as exc:  # keep driving the rest; report at the end
            failures[name] = f"{type(exc).__name__}: {exc}"[:200]
        # several plan functions persist a shared subtree that outlives
        # their returned DataFrame (documented at each site); clear between
        # queries so a full-suite run has bounded block-manager footprint
        spark.catalog.clearCache()
        print(
            f"{name:38s} {timings.get(name, -1):8.3f}s "
            f"{counts.get(name, -1):7d} rows"
            + (f"  FAILED {failures[name]}" if name in failures else ""),
            flush=True,
        )

    out = {
        "metric": "full query-suite wall-clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "rows": counts,
        "failures": failures,
        "n_queries": len(timings),
        "sf": args.sf_dir,
    }

    if args.metrics:
        from ddsketch_spark.operators.sketch_agg import sketch_udaf
        from jobs.quantiles_ntok import tokens_from_documents

        tokens = tokens_from_documents(spark, args.sf_dir)
        states = sketch_udaf(tokens, "tokens", group_cols=("source",), array_col=True).collect()
        out["build_metrics"] = {
            "values": sum(r["n"] for r in states),
            "sketch_bins": sum(len(r["keys"]) for r in states),
        }

    print(json.dumps(out))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
