#!/usr/bin/env python
"""Flagship job (north-star query #1): per-source + global DDSketch
quantiles of n_tok over the pre-tokenized sequence table.

Run:
    spark-submit [--master local[N]] jobs/quantiles_ntok.py \
        [--tokens-path DIR | --sf-dir DIR | --n-docs N] \
        [--group source] [--checkpoint-dir DIR] [--verify] [--json]

Inputs: a tokens table (doc_id string, tokens array<int>, n_tok int,
source string) -- either a fixture (ddsketch_spark.sources.fixtures,
generated when --n-docs is given / by default), an existing parquet path
(--tokens-path), or derived on the fly from a testdata dir's `documents`
table (--sf-dir; tokens = vocabulary-coded words of `text`).

Pipeline (SURVEY.md §3.3): scan -> mapInArrow partial sketches per
(partition x group) with lineage -> collect_list of each group's partials
and one mapInArrow canonical merge per partition -> quantile grid
evaluation; --verify cross-checks every estimate against the
exact order statistic (gate: rel err <= alpha, reference main.cpp:971-976).

Prints the quantile rows, then one JSON line: the values sketched per
second (one n_tok value per document, through the per-group and the
global sketch), the wall clock and sketch-size metrics.  The scan reads
n_tok, never the token arrays; the tokens/sec headline is bench.py's
``tokens_per_sec``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ddsketch_spark.config import Q_GRID, DDSketchConfig
from ddsketch_spark.operators import ddsketch_agg as agg
from ddsketch_spark.operators import sketch_agg as udaf
from ddsketch_spark.plans.checkpoint import sketch_with_checkpoint


def tokens_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a tokens-shaped table from testdata `documents`: the token
    arrays of plans.shared.docs_tokens (words -> vocabulary ids via the
    deterministic coding), with a string doc_id and n_tok."""
    from ddsketch_spark.plans.shared import docs_tokens

    toked, _ = docs_tokens(spark, sf_dir)
    return toked.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "tokens",
        F.size("tokens").cast("int").alias("n_tok"),
        "source",
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tokens-path", default=None)
    ap.add_argument("--sf-dir", default=None)
    ap.add_argument("--n-docs", type=int, default=20_000)
    ap.add_argument("--group", default="source")
    ap.add_argument("--alpha", type=float, default=0.008)
    ap.add_argument("--bin-limit", type=int, default=500)
    ap.add_argument("--collapse", default="gamma2")
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--verify", action="store_true")
    ap.add_argument("--shuffle-partitions", default=None)
    args = ap.parse_args()

    builder = SparkSession.builder.appName("ddsketch-quantiles-ntok")
    if args.shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions", args.shuffle_partitions)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    cfg = DDSketchConfig(
        alpha=args.alpha, bin_limit=args.bin_limit, collapse=args.collapse
    )

    if args.tokens_path:
        tokens = spark.read.parquet(args.tokens_path)
    elif args.sf_dir:
        tokens = tokens_from_documents(spark, args.sf_dir)
    else:
        from ddsketch_spark.sources.fixtures import generate_tokens_table

        tokens = spark.read.parquet(generate_tokens_table(args.n_docs))
    group_cols = (args.group,) if args.group else ()

    t0 = time.monotonic()
    if args.checkpoint_dir:
        states = sketch_with_checkpoint(
            spark, tokens, "n_tok", cfg, group_cols, checkpoint_dir=args.checkpoint_dir
        )
    else:
        states = udaf.sketch_udaf(tokens, "n_tok", cfg, group_cols)
    states = states.cache()
    per_source = agg.quantiles_from_sketch(states, Q_GRID, group_cols).collect()
    global_q = agg.quantiles(tokens, "n_tok", Q_GRID, cfg).collect()
    build_secs = time.monotonic() - t0

    state_rows = states.collect()
    total_tokens = tokens.agg(F.sum("n_tok")).collect()[0][0]
    n_rows = sum(r["n"] for r in state_rows)

    print(f"== per-{args.group} quantiles (first 12 rows) ==")
    for r in per_source[:12]:
        print({k: r[k] for k in (args.group, "q", "estimate", "n") if k in r.asDict()})
    print("== global quantiles ==")
    for r in global_q:
        print({"q": r["q"], "estimate": round(r["estimate"], 4), "n": r["n"]})

    gate_ok = None
    if args.verify:
        # exact oracle = order statistic at idx = floor(1 + q(n-1)), 1-based
        # (reference: main.cpp:971-976) -- NOT an interpolated percentile.
        # n_tok is integer-valued with bounded distinct count, so the exact
        # value histogram is tiny regardless of row count.
        import numpy as np

        hist = tokens.groupBy("n_tok").count().orderBy("n_tok").collect()
        vals = np.array([r["n_tok"] for r in hist], dtype=np.float64)
        cum = np.cumsum([r["count"] for r in hist])
        n = int(cum[-1])
        worst = 0.0
        for r in global_q:
            idx = int(1 + r["q"] * (n - 1))  # floor, 1-based
            true = vals[np.searchsorted(cum, idx, side="left")]
            if true:
                worst = max(worst, abs(r["estimate"] - true) / abs(true))
        gate_ok = bool(worst <= cfg.alpha)
        print(f"accuracy gate: worst rel err {worst:.6f} <= alpha {cfg.alpha}: {gate_ok}")

    out = {
        "metric": "n_tok values (documents) sketched/sec (build+merge+quantile grid)",
        "value": int(n_rows / build_secs) if build_secs else None,
        "unit": "values/sec",
        "wall_sec": round(build_secs, 3),
        "total_tokens": int(total_tokens),
        "rows": int(n_rows),
        "groups": len(state_rows),
        "sketch_bins": {
            (r[args.group] if args.group else "global"): len(r["keys"])
            for r in state_rows
        },
        "accuracy_gate": gate_ok,
        "alpha": cfg.alpha,
        "collapse": cfg.collapse,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
