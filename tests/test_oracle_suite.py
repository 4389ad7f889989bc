"""Driver-mimic: run every queries() entry on Spark and its oracle_sql() on
DuckDB over the same sf0.01 parquet, compare row count + column names +
order-insensitive values (the same contract CORRECTNESS_r{N}.json grades)."""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

from ddsketch_spark.sources.tables import TABLES


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = []
    for tup in pdf.itertuples(index=False):
        canon = []
        for v in tup:
            if isinstance(v, float):
                canon.append(round(v, 9))
            elif hasattr(v, "item"):
                canon.append(v.item())
            else:
                canon.append(v)
        rows.append(tuple(canon))
    return sorted(rows, key=repr)


def _entries():
    import __spark_entry__ as entry

    from tests.conftest import SF_CORRECT

    qs = entry.queries()
    # thread the comparison scale explicitly so scale-derived oracle
    # literals (IVF centroids) are trained from the SAME parquet the Spark
    # side reads (ADVICE r3)
    oracles = entry.oracle_sql(oracle_sf_dir=SF_CORRECT)
    return qs, oracles


def test_registry_declares_each_row_once():
    """Exactly the 50 graded rows, no name twice (a repeated name would
    silently drop a row from the queries()/oracle_sql() dicts), and each
    row with a plan and an oracle SQL string."""
    import __spark_entry__ as entry

    from tests.conftest import SF_CORRECT

    rows = entry.rows()
    names = [name for name, _, _ in rows]
    assert len(names) == 50, len(names)
    assert len(set(names)) == len(names), sorted(n for n in names if names.count(n) > 1)
    for name, plan, oracle in rows:
        assert callable(plan), name
        sql = oracle(SF_CORRECT)
        assert isinstance(sql, str) and sql.strip(), name


@pytest.mark.parametrize("name", sorted(_entries()[0].keys()))
def test_query_vs_oracle(spark, sf_correct, name):
    qs, oracles = _entries()
    spark_df = qs[name](spark, sf_correct)
    got = spark_df.toPandas()
    assert len(got) > 0, f"{name}: empty Spark result"
    con = _duck(sf_correct)
    want = con.execute(oracles[name]).fetchdf()
    assert sorted(got.columns) == sorted(want.columns), (
        f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: rows {len(got)} != {len(want)}"
    # driver-mimic dtype gate: the driver hashes serialized values, so an
    # integer column surfacing as float64 on one side (e.g. DuckDB HUGEINT
    # from an uncast SUM) hash-mismatches even when values are equal
    for c in got.columns:
        gk, wk = got[c].dtype.kind, want[c].dtype.kind
        num = {"i", "u", "f"}
        if gk in num or wk in num:
            assert (gk in {"i", "u"}) == (wk in {"i", "u"}), (
                f"{name}.{c}: dtype kind {got[c].dtype} != {want[c].dtype} "
                "(int/float mismatch would break the driver value hash)"
            )
    g, w = _canon(got), _canon(want)
    mism = [i for i, (a, b) in enumerate(zip(g, w)) if a != b]
    assert not mism, f"{name}: first mismatch {g[mism[0]]} != {w[mism[0]]}"


@pytest.mark.parametrize("n", [1, 2, 3])
def test_shingles_sql_matches_doc_shingles(spark, sf_correct, n):
    """The SQL shingle set every token-shingle oracle stands on equals the
    Spark operator's, in full: every (doc_id, shingle) of n-grams over the
    docs_tokens arrays."""
    from ddsketch_spark.operators import dedup
    from ddsketch_spark.plans.shared import docs_tokens, shingles_sql

    toks, vsize = docs_tokens(spark, sf_correct)
    got = sorted(
        (r["doc_id"], r["shingle"])
        for r in dedup.doc_shingles(toks, "tokens", n, vsize).collect()
    )
    want = sorted(
        _duck(sf_correct).execute(f"SELECT doc_id, shingle FROM ({shingles_sql(n)})").fetchall()
    )
    assert len(got) > 0
    assert got == want
