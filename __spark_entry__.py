"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (per-source DDSketch quantiles of
document lengths) on sf0.001. ``queries()`` / ``oracle_sql()`` expose the
oracle-checked registry: the ``ROWS`` of the eight ``ddsketch_spark.plans``
suites, each row declared once as ``(name, plan, oracle)``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-source DDSketch quantiles of documents.n_chars at
    sf0.001 (the north-star query shape: per-source + global quantiles)."""
    return queries()["dds_quantiles_nchars_by_source"](spark, "/root/testdata/sf0.001")


def rows() -> list[tuple[str, Callable[[SparkSession, str], DataFrame], Callable[[str], str]]]:
    """Every registered ``(name, plan, oracle)`` row, in grading order: only
    the first 50 rows are graded, so the registry stays at 50 rows.
    ``plan(spark, sf_dir)`` builds the Spark query; ``oracle(sf_dir)`` its
    DuckDB SQL."""
    from ddsketch_spark.plans import (
        approx_suite,
        dedup_suite,
        multimodal_suite,
        pipeline_suite,
        query_suite,
        sampling_suite,
        sim_text_suite,
        tokens_suite,
    )

    suites = (
        query_suite,
        pipeline_suite,
        sampling_suite,
        approx_suite,
        tokens_suite,
        dedup_suite,
        sim_text_suite,
        multimodal_suite,
    )
    return [row for suite in suites for row in suite.ROWS]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: plan for name, plan, _ in rows()}


def oracle_sql(oracle_sf_dir: str | None = None) -> dict[str, str]:
    """``oracle_sf_dir``: the sf_dir the Spark side of the comparison runs
    at (else ``SPARK_GRAFT_ORACLE_SF_DIR``, else sf0.01, the graded scale).
    Oracles that embed scale-derived literals (the IVF centroids) read it."""
    sf_dir = oracle_sf_dir or os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    return {name: oracle(sf_dir) for name, _, oracle in rows()}
