"""Cross-engine hash tests (VERDICT r1 items 2 / ADVICE).

The mixed hash, the one sketch address, must (a) agree bit-for-bit across
Spark Column, the two-projection Spark helper, numpy, and DuckDB SQL on the
FULL int64 domain (negatives included), and (b) distinguish keys that are
congruent mod 2^31-1 -- the round-1 fold made every such pair collide under
the entire family, breaking HLL / Bloom / CMS / MinHash guarantees for
64-bit ids.  The sketch bounds themselves are checked in test_bounds.py.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from ddsketch_spark.functions.hashing import (
    FOLD31,
    bitlen_col,
    bitlen_np,
    hash_params,
    mixed_hash_col,
    mixed_hash_np,
    mixed_hash_sql,
    with_mixed_hashes,
)

# full-domain exercise: 0, small, fold-aliases, 31/32-bit edges, 62-bit
# range, negatives (two's-complement limbs)
PROBE_KEYS = [
    0,
    1,
    7,
    7 + FOLD31,
    7 + 2 * FOLD31,
    FOLD31 - 1,
    FOLD31,
    FOLD31 + 1,
    1 << 31,
    (1 << 31) + 5,
    (1 << 62) + 12345,
    (1 << 63) - 1,
    -1,
    -5,
    -FOLD31,
    -(1 << 62),
    -(1 << 63),
    123456789012345,
    -123456789012345,
]


@pytest.mark.parametrize("which", [0, 1, 2])
def test_three_engine_agreement(spark, which):
    params = hash_params(3)
    a, b = params[which]
    np_mix = mixed_hash_np(np.array(PROBE_KEYS, np.int64), a, b)

    df = spark.createDataFrame([(int(k),) for k in PROBE_KEYS], "x long")
    got = (
        with_mixed_hashes(df, "x", params, ["x"])
        .select(f"__h{which}", mixed_hash_col(F.col("x"), a, b).alias("hm"))
        .toPandas()
    )
    assert got[f"__h{which}"].tolist() == np_mix.tolist()
    assert got["hm"].tolist() == np_mix.tolist()

    con = duckdb.connect()
    for k, hm in zip(PROBE_KEYS, np_mix):
        row = con.execute(f"SELECT {mixed_hash_sql(str(k), a, b)}").fetchone()
        assert row == (int(hm),), f"duckdb mismatch at {k}"


def test_fold_aliases_distinguished():
    """x and x + (2^31-1) must hash differently under (essentially) every
    member -- with the old pre-fold they collided under ALL members."""
    a_b = hash_params(8)
    for base in (7, 1 << 40, -(1 << 45)):
        xs = np.array([base, base + FOLD31], np.int64)
        distinct = sum(
            mixed_hash_np(xs, a, b)[0] != mixed_hash_np(xs, a, b)[1] for a, b in a_b
        )
        assert distinct == len(a_b), f"alias collision for base {base}"


def test_bitlen_exact_all_widths():
    xs = []
    for k in range(63):
        for d in (-1, 0, 1):
            v = (1 << k) + d
            if 0 <= v < (1 << 63):
                xs.append(v)
    got = bitlen_np(np.array(xs, np.int64))
    want = [int(v).bit_length() for v in xs]
    assert got.tolist() == want


def test_bitlen_col_matches_np(spark):
    xs = [0, 1, 2, 3, (1 << 52) - 1, 1 << 52, (1 << 53) - 1, 1 << 53, (1 << 61) - 1]
    df = spark.createDataFrame([(int(x),) for x in xs], "x long")
    got = df.select(bitlen_col(F.col("x")).alias("bl")).toPandas()["bl"].tolist()
    assert got == bitlen_np(np.array(xs, np.int64)).tolist()


def test_hll_64bit_ids_within_sigma():
    """HLL over ids spread across the full 64-bit range (including exact
    2^31-1 alias pairs) stays within 3 sigma -- the round-1 fold collapsed
    aliases and undercounted."""
    from ddsketch_spark.core import hll

    cfg = hll.HLLConfig(p=12)
    rng = np.random.default_rng(7)
    n = 20000
    base = rng.integers(0, 1 << 62, n, dtype=np.int64)
    # plant alias pairs: base and base+FOLD31 are distinct ids
    ids = np.concatenate([base, base + FOLD31])
    sk = hll.add(hll.empty(cfg), ids)
    est = hll.estimate(sk)
    true = len(np.unique(ids))
    sigma = 1.04 / np.sqrt(cfg.m)
    assert abs(est - true) / true < 3 * sigma, (est, true)
