"""Cross-engine deterministic hash shared by HLL / count-min / Bloom /
MinHash / SimHash / sampling: every sketch address is the MIXED hash
``mixed_hash_{np,col,sql}(x, a, b)``, and :func:`with_mixed_hashes` adds k of
them to a Spark frame as columns.

The extension sketches (SURVEY.md §2.3) need a hash that is (a) vectorizable
JVM-side so sketch builds stay inside whole-stage codegen, (b) reproducible
bit-for-bit in numpy, and (c) expressible in ANSI SQL so DuckDB oracles can
re-derive every register/counter/bit exactly.  It is built in two steps,
both exact in signed int64 (Spark long, numpy int64, DuckDB BIGINT).

1. A multilinear limb hash over the Mersenne prime P = 2^61 - 1, applied to
   the three 31/31/2-bit limbs of the key's 64-bit two's-complement pattern:

       lo(x)  = x         & (2^31 - 1)     # nonnegative limbs; arithmetic
       mid(x) = (x >> 31) & (2^31 - 1)     # shift + mask semantics agree
       hi(x)  = (x >> 62) & 3              # in Spark (Java), numpy, DuckDB
       g(x)   = (a*lo + a'*mid + a''*hi + b) mod P

   with a, a', a'' < 2^30, so each product is < 2^61 and the whole sum
   is < 3*2^61 + 2^32 < 2^63: one reduction mod P at the end is exact.
   The (a, b) constants come
   from a fixed-seed splitmix64 and (a', a'') are derived from (a, b), so
   every engine sees the same family.  The limbs are injective on the full
   int64 domain, so distinct keys always differ in some limb.

2. The nonlinear mix h = g^2 mod P (see the block above :func:`_mix_np`).

Step 1 alone is NOT a usable address.  Because the multipliers are below
2^30, ``a*lo + b`` never wraps mod P for keys below 2^31: g is an affine
function of small keys.  Consecutive keys then land on an arithmetic
progression, and ``x`` and ``x + w`` share all d count-min cells for any
width w (every row's column is ``(a*x + b) mod w``), so the rows of a
sketch are one row repeated.  The same structure leaves the high bits of g
nearly constant (fatal for HLL's rank, read from the bits above the low
p index bits) and biases min-wise hashing.  The mix breaks it, so the
linear form and the mix are private to this module.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MERSENNE61 = (1 << 61) - 1
FOLD31 = (1 << 31) - 1
HASH_BITS = 61  # h in [0, 2^61 - 1)


def _splitmix64(seed: int):
    state = seed & 0xFFFFFFFFFFFFFFFF

    def nxt() -> int:
        nonlocal state
        state = (state + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        return z ^ (z >> 31)

    return nxt


def hash_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """k deterministic (a, b) pairs: 1 <= a < 2^30 (odd), 0 <= b < P."""
    nxt = _splitmix64(seed)
    out = []
    for _ in range(k):
        a = (nxt() % ((1 << 30) - 2)) | 1  # odd, < 2^30
        b = nxt() % MERSENNE61
        out.append((a, b))
    return out


def splitmix_uniform(n: int, seed: int) -> np.ndarray:
    """n float64s in [0, 1): the top 53 bits of successive splitmix64
    outputs, so the values are exact and the same on every platform."""
    nxt = _splitmix64(seed)
    return np.array([nxt() >> 11 for _ in range(n)], np.float64) * 2.0**-53


# ---------------------------------------------------------------------------
# step 1: the linear limb hash (private -- see the module docstring)
# ---------------------------------------------------------------------------

def _limb_params(a: int, b: int) -> tuple[int, int]:
    """Deterministic (a', a'') multipliers for the mid/hi limbs, derived
    from (a, b) so the hash signature stays 2-parameter and every engine
    embeds the same literals."""
    nxt = _splitmix64(((a & 0xFFFFFFFF) << 32) ^ (b & 0xFFFFFFFF) ^ 0x5851F42D)
    a2 = (nxt() % ((1 << 30) - 2)) | 1
    a3 = (nxt() % ((1 << 30) - 2)) | 1
    return a2, a3


def _hash_col(x: Column, a: int, b: int) -> Column:
    """Spark Column: all long arithmetic inside whole-stage codegen (no
    UDF). Arithmetic >> then & with a positive mask yields the nonnegative
    limbs on any int64 input."""
    a2, a3 = _limb_params(a, b)
    xl = x.cast("long")
    lo = xl.bitwiseAND(F.lit(FOLD31))
    mid = F.shiftright(xl, 31).bitwiseAND(F.lit(FOLD31))
    hi = F.shiftright(xl, 62).bitwiseAND(F.lit(3))
    g = F.lit(a) * lo + F.lit(a2) * mid + F.lit(a3) * hi + F.lit(b)
    return F.pmod(g, F.lit(MERSENNE61))


def _hash_np(x: np.ndarray, a: int, b: int) -> np.ndarray:
    """numpy int64: identical to _hash_col / _hash_sql."""
    a2, a3 = _limb_params(a, b)
    xl = np.asarray(x).astype(np.int64)
    lo = xl & np.int64(FOLD31)
    mid = (xl >> np.int64(31)) & np.int64(FOLD31)
    hi = (xl >> np.int64(62)) & np.int64(3)
    return np.mod(a * lo + a2 * mid + a3 * hi + b, MERSENNE61)


def _hash_sql(x: str, a: int, b: int) -> str:
    """DuckDB BIGINT expression string; >> on BIGINT is arithmetic shift,
    matching Java/numpy, so the limbs agree bit-for-bit on any int64."""
    a2, a3 = _limb_params(a, b)
    xe = f"CAST(({x}) AS BIGINT)"
    lo = f"({xe} & {FOLD31})"
    mid = f"(({xe} >> 31) & {FOLD31})"
    hi = f"(({xe} >> 62) & 3)"
    g = f"{a}::BIGINT * {lo} + {a2}::BIGINT * {mid} + {a3}::BIGINT * {hi} + {b}"
    return f"(({g}) % {MERSENNE61})"


# ---------------------------------------------------------------------------
# step 2: nonlinear mix h -> h^2 mod P (private)
#
# Squaring mod the Mersenne prime breaks the affine structure of step 1.
# Splitting h into 31-bit halves and the Mersenne identity 2^61 === 1
# (mod P) keep every intermediate below 2^63, so the same expression is
# exact in Spark long arithmetic, numpy int64, and DuckDB BIGINT:
#
#   h = h1*2^31 + h0          (h1 < 2^30, h0 < 2^31)
#   h^2 mod P = ( 2*h1^2  +  rot31(2*h1*h0 mod P)  +  h0^2 ) mod P
#   rot31(t) = t*2^31 mod P = (t & (2^30-1)) << 31  |  t >> 30
#
# 2*h1*h0 < 2^62; rot31 of a t < P is < P; 2*h1^2 < 2^61 and h0^2 < 2^62,
# so the final sum is < 2^63: two reductions in all.
# ---------------------------------------------------------------------------

def _mix_np(h: np.ndarray) -> np.ndarray:
    h1 = h >> 31
    h0 = h & FOLD31
    t = (2 * h1 * h0) % MERSENNE61
    cross = (t >> 30) + ((t & ((1 << 30) - 1)) << 31)
    return (2 * h1 * h1 + cross + h0 * h0) % MERSENNE61


def _mix_col(h: Column) -> Column:
    P = F.lit(MERSENNE61)
    h1 = F.shiftright(h, 31)
    h0 = h.bitwiseAND(F.lit(FOLD31))
    t = F.pmod(F.lit(2) * h1 * h0, P)
    cross = F.shiftright(t, 30) + F.shiftleft(t.bitwiseAND(F.lit((1 << 30) - 1)), 31)
    return F.pmod(F.lit(2) * h1 * h1 + cross + h0 * h0, P)


def _mix_sql(h: str) -> str:
    h1, h0 = f"(({h}) >> 31)", f"(({h}) & {FOLD31})"
    t = f"((2 * {h1} * {h0}) % {MERSENNE61})"
    cross = f"(({t} >> 30) + (({t} & {(1 << 30) - 1}) << 31))"
    return f"((2 * {h1} * {h1} + {cross} + {h0} * {h0}) % {MERSENNE61})"


# ---------------------------------------------------------------------------
# the public hash: mix(linear) in each engine
# ---------------------------------------------------------------------------

def mixed_hash_np(x: np.ndarray, a: int, b: int) -> np.ndarray:
    """numpy int64 in [0, P): identical to mixed_hash_col / mixed_hash_sql."""
    return _mix_np(_hash_np(x, a, b))


def mixed_hash_col(x: Column, a: int, b: int) -> Column:
    """One Spark Column (null for a null ``x``).  To hash a frame's column
    under several (a, b) pairs, or to read a hash more than once, use
    :func:`with_mixed_hashes`."""
    return _mix_col(_hash_col(x, a, b))


def mixed_hash_sql(x: str, a: int, b: int) -> str:
    """DuckDB BIGINT expression string (the mix repeats its argument, so
    ``x`` is best a plain column name)."""
    return _mix_sql(_hash_sql(x, a, b))


def with_mixed_hashes(
    df: DataFrame,
    value: Column | str,
    params: Sequence[tuple[int, int]],
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """(keep_cols..., __h0 .. __h{k-1}): the mixed hash of ``value`` under
    each (a, b) in ``params``, one column per pair (null for a null value).

    Two projections, not one: the k linear limb hashes first, then the mix
    over those ATTRIBUTES.  The mix references its argument eight times, so
    Catalyst keeps the split (CollapseProject refuses to inline a non-cheap
    alias referenced many times) and each projection stays small enough for
    whole-stage codegen.  Inlined into one expression -- worse, into an
    aggregate's update path, as ``F.min(mixed_hash_col(...))`` would be -- k
    hashes fall out of codegen past the method-size limit (about 20x slower,
    measured on MinHash).  Read the ``__h{j}`` columns from a following
    projection or aggregate; the DuckDB mirrors compute the same values."""
    x = F.col(value) if isinstance(value, str) else value
    lin = df.select(
        *keep_cols, *[_hash_col(x, a, b).alias(f"__h{j}") for j, (a, b) in enumerate(params)]
    )
    return lin.select(
        *keep_cols, *[_mix_col(F.col(f"__h{j}")).alias(f"__h{j}") for j in range(len(params))]
    )


# ---------------------------------------------------------------------------
# bit-length (MSB position), for HLL rho
# ---------------------------------------------------------------------------

def bitlen_np(x: np.ndarray) -> np.ndarray:
    """Exact bit length of non-negative int64 values; bitlen(0) = 0.

    frexp on float64 can be off by one near powers of two for inputs
    >= 2^53, so the estimate is corrected with exact integer compares
    against 2^(e-1) and 2^e (mirrors bitlen_col's correction so the numpy
    core and the Spark/SQL engines agree on HLL rho for every p)."""
    xl = np.asarray(x).astype(np.int64)
    _, e = np.frexp(xl.astype(np.float64))
    e = np.clip(e.astype(np.int64), 1, 62)
    p_lo = np.left_shift(np.int64(1), e - 1)  # 2^(e-1)
    p_hi = np.left_shift(np.int64(2), e - 1)  # 2^e (max 2^62, no overflow)
    e_fixed = np.where(xl < p_lo, e - 1, np.where(xl >= p_hi, e + 1, e))
    return np.where(xl == 0, 0, e_fixed).astype(np.int64)


def bitlen_sql(x: str) -> str:
    """DuckDB: length(bin(x)) gives the MSB position for x > 0."""
    return f"(CASE WHEN ({x}) = 0 THEN 0 ELSE length(bin({x})) END)"


def bitlen_col(x: Column) -> Column:
    """Spark Column bit length via floor(log2) on values < 2^53.

    Exactness: log2 of an int64 < 2^53 is computed on an exactly-
    representable double; floor(log2(x)) can only err when x is within a few
    ulps of a power of two, so we correct with an exact integer compare
    against pow(2, e)."""
    e = F.floor(F.log2(x.cast("double"))).cast("long")
    p = F.pow(F.lit(2.0), e.cast("double")).cast("long")
    e_fixed = F.when(x < p, e - 1).when(x >= p * 2, e + 1).otherwise(e)
    return F.when(x == 0, F.lit(0).cast("long")).otherwise(e_fixed + 1)
