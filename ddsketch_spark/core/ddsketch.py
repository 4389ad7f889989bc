"""DDSketch core: vectorized numpy re-implementation of the reference semantics.

This is a from-scratch, batch/columnar implementation of the data model in
gmorleo/DDSketch (reference: ddsketch.h:26-49, ddsketch.cc:22-991). The
reference inserts one double at a time into a ``std::map<int,int>``; here the
state is a pair of sorted parallel int64 arrays (keys, counts) and ingestion
is whole-ndarray vectorized (``np.log`` / ``np.bincount``), which is what lets
the Spark layer stay Arrow-batched with no per-row Python.

Key math (reference: ddsketch.cc:83-103):
    v > 0  -> key =  ceil(ln(v)/ln_gamma) + offset
    v < 0  -> key = -ceil(ln(-v)/ln_gamma) - offset
    v == 0 -> key = 0
Stored keys keep the +-offset shift so that integer order of stored keys ==
numeric order of values across signs (the reference's ordered-map invariant).

Deliberate deviations from the reference, each documented in SURVEY.md §8:
  Q1: min_value = gamma^(2^29) overflows to +inf in the reference; we
      implement the *effective* behavior (sign branches + exact 0 -> key 0).
  Q4: value(key=0) is 0.0 here (reference returns -gamma^-offset ~ -0.0).
  Q5: deleting an item whose bin is absent is a silent no-op and does NOT
      decrement n (replicated exactly).
  Q6: n and counters are int64 (reference: int32; overflows at our scale).
  Q8: merge alpha-alignment is by discrete gamma^2 level (both sketches share
      alpha0 by construction) instead of the reference's 1e-4 float tolerance.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from ddsketch_spark.config import (
    FIRST,
    GAMMA2,
    LAST,
    DDSketchConfig,
    alpha_at_level,
    gamma_at_level,
)

_INT64_MAX = np.iinfo(np.int64).max
_INT64_MIN = np.iinfo(np.int64).min

# Sentinels for the absorbed-key range of the last/first collapse variants
# (reference: ddsketch.cc:48-49 uses numeric_limits<int>::max/min).
MIN_SENTINEL = _INT64_MAX
MAX_SENTINEL = _INT64_MIN


class SketchError(ValueError):
    """Generic sketch usage error (reference: error.h:10-19)."""


class MergeError(SketchError):
    """Incompatible sketches for merge (reference: error code -5)."""


class QuantileRangeError(SketchError):
    """q outside [0, 1.01] (reference: ddsketch.cc:528, quirk Q2)."""


@dataclass
class DDSketch:
    """Mutable sketch state: sorted sparse integer histogram + config.

    ``level`` counts how many gamma^2 collapses have been applied; the
    effective gamma is gamma0^(2^level) (reference: ddsketch.cc:849-852).
    """

    cfg: DDSketchConfig
    keys: np.ndarray = field(default_factory=lambda: np.empty(0, np.int64))
    counts: np.ndarray = field(default_factory=lambda: np.empty(0, np.int64))
    n: int = 0
    level: int = 0
    min_key: int = MIN_SENTINEL
    max_key: int = MAX_SENTINEL

    # -- derived parameters ------------------------------------------------
    @property
    def alpha(self) -> float:
        return alpha_at_level(self.cfg.alpha, self.level)

    @property
    def gamma(self) -> float:
        return gamma_at_level(self.cfg.alpha, self.level)

    @property
    def ln_gamma(self) -> float:
        return math.log(self.gamma)

    @property
    def size(self) -> int:
        """Number of bins (reference: DDS_Size, ddsketch.cc:70-81)."""
        return int(len(self.keys))

    def sum_bins(self) -> int:
        """Sigma counts; invariant sum_bins == n (reference: ddsketch.cc:951-965)."""
        return int(self.counts.sum())

    def copy(self) -> "DDSketch":
        return DDSketch(
            cfg=self.cfg,
            keys=self.keys.copy(),
            counts=self.counts.copy(),
            n=self.n,
            level=self.level,
            min_key=self.min_key,
            max_key=self.max_key,
        )


def empty(cfg: DDSketchConfig | None = None) -> DDSketch:
    """Zero state of the aggregation (reference: DDS_Init, ddsketch.cc:22-54)."""
    return DDSketch(cfg=cfg or DDSketchConfig())


# ---------------------------------------------------------------------------
# key <-> value math (vectorized)
# ---------------------------------------------------------------------------

def compute_keys(values: np.ndarray, ln_gamma: float, offset: int) -> np.ndarray:
    """Vectorized value->bucket-key (reference: DDS_GetKey, ddsketch.cc:83-103).

    NaNs are rejected: in the reference they'd leave the key uninitialized.
    """
    v = np.asarray(values, dtype=np.float64)
    if np.isnan(v).any():
        raise SketchError("NaN values cannot be inserted into a DDSketch")
    with np.errstate(divide="ignore"):  # log(0) unused: masked by v==0 branch
        mag = np.ceil(np.log(np.abs(v)) / ln_gamma)
    mag = np.where(np.isfinite(mag), mag, 0.0).astype(np.int64)
    keys = np.zeros(v.shape, dtype=np.int64)
    pos = v > 0
    neg = v < 0
    np.copyto(keys, mag + offset, where=pos)
    np.copyto(keys, -mag - offset, where=neg)
    return keys


def key_to_estimate(keys: np.ndarray, gamma: float, offset: int) -> np.ndarray:
    """Bucket key -> relative-midpoint value estimate 2*gamma^k/(gamma+1)
    (reference: DDS_GetRank, ddsketch.cc:105-126)."""
    k = np.asarray(keys, dtype=np.int64)
    stripped = np.where(k > 0, k - offset, np.where(k < 0, k + offset, 0))
    mag = np.where(k > 0, stripped, -stripped).astype(np.float64)
    est = (2.0 * np.power(gamma, mag)) / (gamma + 1.0)
    return np.where(k > 0, est, np.where(k < 0, -est, 0.0))


def key_to_bound(keys: np.ndarray, gamma: float, offset: int) -> np.ndarray:
    """Bucket key -> upper bound +-gamma^k (reference: DDS_GetValue,
    ddsketch.cc:128-149). value(0) := 0.0 (deviation Q4)."""
    k = np.asarray(keys, dtype=np.int64)
    stripped = np.where(k > 0, k - offset, np.where(k < 0, k + offset, 0))
    mag = np.where(k > 0, stripped, -stripped).astype(np.float64)
    bound = np.power(gamma, mag)
    return np.where(k > 0, bound, np.where(k < 0, -bound, 0.0))


def collapse_keys(keys: np.ndarray, offset: int) -> np.ndarray:
    """gamma -> gamma^2 key remap (reference: DDS_CollapseKey,
    ddsketch.cc:183-209, with the even/odd ``of`` adjustment resolved).

    On the offset-stripped SIGNED key s: positive stored keys map via
    ceil(s/2), negative stored keys via floor(s/2) (the stripped key of a
    negative stored key is -m for bucket magnitude m, so floor(-m/2) ==
    -ceil(m/2)). This equals re-keying every value directly at gamma^2
    (ceil(ceil(x)/2) == ceil(x/2)), which is what makes eager and lazy
    collapse produce identical histograms. Integer-exact via floor division:
    ceil(s/2) == (s+1)//2, floor(s/2) == s//2.
    """
    k = np.asarray(keys, dtype=np.int64)
    stripped = np.where(k > 0, k - offset, np.where(k < 0, k + offset, 0))
    new_stripped = np.where(k > 0, (stripped + 1) // 2, stripped // 2)
    return np.where(k > 0, new_stripped + offset, np.where(k < 0, new_stripped - offset, 0))


# ---------------------------------------------------------------------------
# histogram primitives
# ---------------------------------------------------------------------------

def _combine(keys_a, counts_a, keys_b, counts_b):
    """Sorted-key union with summed counts; drops zero/negative-count bins."""
    allk = np.concatenate([keys_a, keys_b])
    allc = np.concatenate([counts_a, counts_b])
    uk, inv = np.unique(allk, return_inverse=True)
    # counts fit exactly in float64 up to 2^53; we stay far below that per bin
    uc = np.bincount(inv, weights=allc.astype(np.float64), minlength=len(uk))
    uc = np.rint(uc).astype(np.int64)
    keep = uc > 0
    return uk[keep], uc[keep]


def _values_to_histogram(sk: DDSketch, values: np.ndarray):
    keys = compute_keys(values, sk.ln_gamma, sk.cfg.offset)
    uk, uc = np.unique(keys, return_counts=True)
    return uk, uc.astype(np.int64)


# ---------------------------------------------------------------------------
# collapse strategies
# ---------------------------------------------------------------------------

def collapse_gamma2(sk: DDSketch) -> None:
    """Square gamma, remap every key, rebuild the histogram
    (reference: DDS_Collapse, ddsketch.cc:828-906)."""
    new_keys = collapse_keys(sk.keys, sk.cfg.offset)
    uk, inv = np.unique(new_keys, return_inverse=True)
    uc = np.bincount(inv, weights=sk.counts.astype(np.float64), minlength=len(uk))
    sk.keys = uk
    sk.counts = np.rint(uc).astype(np.int64)
    sk.level += 1


def collapse_last(sk: DDSketch) -> None:
    """Fold the 2nd-last bin into the last; track absorbed key range
    (reference: DDS_CollapseLastBucket, ddsketch.cc:779-801)."""
    if sk.size < 2:
        return
    second_last_key = int(sk.keys[-2])
    last_key = int(sk.keys[-1])
    if second_last_key < sk.min_key:
        sk.min_key = second_last_key
    if last_key > sk.max_key:
        sk.max_key = last_key
    sk.counts[-1] += sk.counts[-2]
    sk.keys = np.delete(sk.keys, -2)
    sk.counts = np.delete(sk.counts, -2)


def collapse_first(sk: DDSketch) -> None:
    """Fold the 2nd bin into the first (reference: DDS_CollapseFirstBucket,
    ddsketch.cc:803-826; comments in the reference are swapped, quirk Q7 --
    the code is authoritative)."""
    if sk.size < 2:
        return
    first_key = int(sk.keys[0])
    second_key = int(sk.keys[1])
    if first_key < sk.min_key:
        sk.min_key = first_key
    if second_key > sk.max_key:
        sk.max_key = second_key
    sk.counts[0] += sk.counts[1]
    sk.keys = np.delete(sk.keys, 1)
    sk.counts = np.delete(sk.counts, 1)


def _collapse_to_limit(sk: DDSketch) -> None:
    """``while size > bin_limit`` collapse loop (reference: ddsketch.cc:239-252
    for gamma2; for last/first this matches the reference's *merge* path
    ddsketch.cc:684-696, which folds repeatedly after a bulk addition)."""
    if sk.cfg.collapse == GAMMA2:
        while sk.size > sk.cfg.bin_limit:
            collapse_gamma2(sk)
    elif sk.cfg.collapse == LAST:
        while sk.size > sk.cfg.bin_limit:
            collapse_last(sk)
    else:
        while sk.size > sk.cfg.bin_limit:
            collapse_first(sk)


# ---------------------------------------------------------------------------
# insert / delete
# ---------------------------------------------------------------------------

def add(sk: DDSketch, values: np.ndarray) -> DDSketch:
    """Batch insert (reference: DDS_AddCollapse{,LastBucket,FirstBucket},
    ddsketch.cc:212-340, vectorized).

    For the gamma2 strategy batch-then-collapse is *provably identical* to the
    reference's per-item eager collapse, because the gamma^2 key remap
    commutes with insertion (ceil(ceil(x)/2) == ceil(x/2)) and the final
    level is the minimal one whose histogram fits bin_limit in both schemes.
    For last/first the batch fold order matches the reference's merge path
    (bulk add then fold-until-fit); per-item parity for those is covered by
    :func:`add_one`.
    """
    values = np.asarray(values, dtype=np.float64)
    if values.size == 0:
        return sk
    uk, uc = _values_to_histogram(sk, values)
    sk.keys, sk.counts = _combine(sk.keys, sk.counts, uk, uc)
    sk.n += int(values.size)
    _collapse_to_limit(sk)
    return sk


def add_weighted(sk: DDSketch, values: np.ndarray, weights: np.ndarray) -> DDSketch:
    """Insert ``weights[i]`` copies of ``values[i]`` (vectorized multiset
    insert). Semantically identical to ``add`` on the expanded multiset; used
    by the Spark operators to ingest pre-aggregated histograms (e.g. token
    value counts) without materializing the expansion."""
    values = np.asarray(values, dtype=np.float64)
    weights = np.asarray(weights, dtype=np.int64)
    if values.size == 0:
        return sk
    keys = compute_keys(values, sk.ln_gamma, sk.cfg.offset)
    uk, inv = np.unique(keys, return_inverse=True)
    uc = np.rint(
        np.bincount(inv, weights=weights.astype(np.float64), minlength=len(uk))
    ).astype(np.int64)
    sk.keys, sk.counts = _combine(sk.keys, sk.counts, uk, uc)
    sk.n += int(weights.sum())
    _collapse_to_limit(sk)
    return sk


def add_one(sk: DDSketch, item: float) -> DDSketch:
    """Single-item insert with the reference's exact eager-collapse timing
    (one fold per overflowing insert for last/first: ddsketch.cc:285-294 is an
    ``if``, not a ``while``). Used by the parity test-suite."""
    uk, uc = _values_to_histogram(sk, np.array([item], dtype=np.float64))
    sk.keys, sk.counts = _combine(sk.keys, sk.counts, uk, uc)
    sk.n += 1
    if sk.size > sk.cfg.bin_limit:
        if sk.cfg.collapse == GAMMA2:
            while sk.size > sk.cfg.bin_limit:
                collapse_gamma2(sk)
        elif sk.cfg.collapse == LAST:
            collapse_last(sk)
        else:
            collapse_first(sk)
    return sk


def delete(sk: DDSketch, values: np.ndarray) -> DDSketch:
    """Batch turnstile delete (reference: DDS_DeleteCollapse{,LastBucket,
    FirstBucket}, ddsketch.cc:342-517).

    Per-key semantics: deleting m items that map to a bin holding c removes
    min(m, c) and decrements n by the same; deletes of absent bins are silent
    no-ops that do NOT decrement n (quirk Q5, replicated). For last/first,
    keys inside the absorbed [min_key, max_key] range redirect to the
    last/first bin respectively (reference: ddsketch.cc:414-422, 478-486).
    """
    values = np.asarray(values, dtype=np.float64)
    return delete_weighted(sk, values, np.ones(values.shape, dtype=np.int64))


def delete_weighted(sk: DDSketch, values: np.ndarray, weights: np.ndarray) -> DDSketch:
    """Delete ``weights[i]`` copies of ``values[i]`` (vectorized multiset
    delete, same per-key min(c, m) semantics as :func:`delete`)."""
    keys = compute_keys(np.asarray(values, dtype=np.float64), sk.ln_gamma, sk.cfg.offset)
    return delete_keyed(sk, keys, weights, keys_level=sk.level)


def delete_keyed(
    sk: DDSketch, keys: np.ndarray, weights: np.ndarray, keys_level: int = 0
) -> DDSketch:
    """Delete a pre-keyed histogram: ``weights[i]`` items whose stored bucket
    key (computed at gamma-level ``keys_level``) is ``keys[i]``.

    Used by the distributed delete path, where the deletion multiset is
    reduced to a (key, count) histogram JVM-side before reaching Python.
    Keys are lifted to the sketch's current level via the exact gamma^2
    remap, then the same min(c, m) per-bin semantics as :func:`delete` apply.
    """
    keys = np.asarray(keys, dtype=np.int64)
    weights = np.asarray(weights, dtype=np.int64)
    if keys.size == 0 or sk.size == 0:
        return sk
    if keys_level > sk.level:
        raise SketchError("delete histogram keyed at finer level than sketch")
    for _ in range(sk.level - keys_level):
        keys = collapse_keys(keys, sk.cfg.offset)

    if sk.cfg.collapse in (LAST, FIRST) and sk.min_key <= sk.max_key:
        in_range = (keys >= sk.min_key) & (keys <= sk.max_key)
        redirect = int(sk.keys[-1]) if sk.cfg.collapse == LAST else int(sk.keys[0])
        keys = np.where(in_range, np.int64(redirect), keys)

    uk, inv = np.unique(keys, return_inverse=True)
    uc = np.rint(
        np.bincount(inv, weights=weights.astype(np.float64), minlength=len(uk))
    ).astype(np.int64)
    pos = np.searchsorted(sk.keys, uk)
    valid = (pos < sk.size) & (sk.keys[np.minimum(pos, sk.size - 1)] == uk)
    dec = np.zeros(sk.size, dtype=np.int64)
    dec[pos[valid]] = np.minimum(uc[valid], sk.counts[pos[valid]])
    sk.n -= int(dec.sum())
    sk.counts = sk.counts - dec
    keep = sk.counts > 0
    sk.keys = sk.keys[keep]
    sk.counts = sk.counts[keep]
    return sk


# ---------------------------------------------------------------------------
# merge
# ---------------------------------------------------------------------------

def _lift_to_level(sk: DDSketch, level: int) -> None:
    while sk.level < level:
        collapse_gamma2(sk)


ALPHA_MERGE_TOL = 1e-4  # reference: fabs(a1-a2) > 0.0001, ddsketch.cc:583
_ALPHA_ALIGN_MAX = 200  # defensive bound; the reference loop is unbounded


def _align_alphas(a: DDSketch, b: DDSketch) -> None:
    """Reference cross-config alignment: collapse whichever sketch currently
    has the SMALLER (finer) alpha one gamma^2 level at a time until
    |alpha_a - alpha_b| <= 1e-4 (ddsketch.cc:583-595). Terminates because
    both trajectories increase monotonically toward 1."""
    for _ in range(_ALPHA_ALIGN_MAX):
        if abs(a.alpha - b.alpha) <= ALPHA_MERGE_TOL:
            return
        collapse_gamma2(a if a.alpha < b.alpha else b)
    raise MergeError(
        f"alpha alignment did not converge: {a.alpha} vs {b.alpha}"
    )


def merge(a: DDSketch, b: DDSketch, in_place: bool = False) -> DDSketch:
    """Pairwise merge (reference: DDS_MergeCollapse / ...LastBucket /
    ...FirstBucket, ddsketch.cc:558-777). ``a`` absorbs ``b``.

    gamma2, shared alpha0: align resolutions by collapsing the finer sketch
    until integer levels match -- on the shared trajectory this is the same
    alignment the reference's |alpha1-alpha2|<=1e-4 loop performs (levels
    one apart differ by >= alpha0 in alpha), and it keeps the byte-identical
    reorder property. gamma2, differing alpha0: the reference's tolerance
    loop verbatim -- collapse the currently-finer sketch until alphas agree
    within 1e-4, then add raw keys (the two keyspaces differ by < 1e-4 in
    alpha, which the reference treats as the same keyspace). last/first:
    current alphas must agree within the same tolerance (reference:
    MERGE_ERROR -5, ddsketch.cc:658-661); min/max absorbed ranges widen to
    the union (ddsketch.cc:676-682).
    """
    if a.cfg.offset != b.cfg.offset or a.cfg.collapse != b.cfg.collapse:
        raise MergeError("sketches must share offset and collapse strategy")
    out = a if in_place else a.copy()
    b = b.copy()
    if out.cfg.collapse == GAMMA2:
        if out.cfg.alpha == b.cfg.alpha:
            top = max(out.level, b.level)
            _lift_to_level(out, top)
            _lift_to_level(b, top)
        else:
            _align_alphas(out, b)
    elif abs(out.alpha - b.alpha) > ALPHA_MERGE_TOL:
        raise MergeError("last/first-bucket merge requires equal alpha (reference error -5)")
    out.keys, out.counts = _combine(out.keys, out.counts, b.keys, b.counts)
    out.n += b.n
    out.min_key = min(out.min_key, b.min_key)
    out.max_key = max(out.max_key, b.max_key)
    _collapse_to_limit(out)
    return out


def merge_many(sketches: list[DDSketch]) -> DDSketch:
    """Canonical N-way merge: lift every partial to the max level among
    inputs, sum all histograms at once, then collapse-until-fit.

    For gamma2 this is provably identical to any pairwise merge order (prefix
    histogram sizes are monotone in the total), which is what makes the
    merged state byte-identical under reordering -- the north-star merge
    algebra requirement, stronger than the reference's pairwise contract.
    """
    if not sketches:
        raise SketchError("merge_many of zero sketches")
    out = sketches[0].copy()
    if any(s.cfg.alpha != out.cfg.alpha for s in sketches[1:]):
        # cross-config inputs: no shared level trajectory, so fall back to
        # the reference's pairwise contract (order-dependent, like the
        # reference itself -- canonical reordering only holds on-trajectory)
        for s in sketches[1:]:
            merge(out, s, in_place=True)
        return out
    if out.cfg.collapse == GAMMA2:
        top = max(s.level for s in sketches)
        _lift_to_level(out, top)
        for s in sketches[1:]:
            s = s.copy()
            _lift_to_level(s, top)
            out.keys, out.counts = _combine(out.keys, out.counts, s.keys, s.counts)
            out.n += s.n
            out.min_key = min(out.min_key, s.min_key)
            out.max_key = max(out.max_key, s.max_key)
        _collapse_to_limit(out)
        return out
    for s in sketches[1:]:
        merge(out, s, in_place=True)
    return out


# ---------------------------------------------------------------------------
# quantile evaluation
# ---------------------------------------------------------------------------

def quantile(sk: DDSketch, q: float) -> float:
    """q-quantile estimate: walk bins in key order until cumulative count
    exceeds q*(n-1), return the midpoint estimate of that bin
    (reference: DDS_GetQuantile, ddsketch.cc:519-556).

    The reference accepts q up to 1.01 (quirk Q2); we replicate the bound and
    clamp the walk at the last bin.
    """
    if q < 0 or q > 1.01:
        raise QuantileRangeError(f"q={q} outside [0, 1.01]")
    if sk.n <= 0 or sk.size == 0:
        raise SketchError("quantile of an empty sketch")
    stop = q * float(sk.n - 1)
    cum = np.cumsum(sk.counts)
    idx = int(np.searchsorted(cum, stop, side="right"))
    idx = min(idx, sk.size - 1)
    return float(key_to_estimate(np.array([sk.keys[idx]]), sk.gamma, sk.cfg.offset)[0])


def quantiles(sk: DDSketch, qs) -> np.ndarray:
    """Vectorized multi-q evaluation (same rank rule as :func:`quantile`)."""
    qs = np.asarray(qs, dtype=np.float64)
    if ((qs < 0) | (qs > 1.01)).any():
        raise QuantileRangeError("q outside [0, 1.01]")
    if sk.n <= 0 or sk.size == 0:
        raise SketchError("quantile of an empty sketch")
    cum = np.cumsum(sk.counts)
    stops = qs * float(sk.n - 1)
    idx = np.minimum(np.searchsorted(cum, stops, side="right"), sk.size - 1)
    return key_to_estimate(sk.keys[idx], sk.gamma, sk.cfg.offset)


def error_bound(sk: DDSketch) -> tuple[float, float]:
    """Guaranteed-q range [lo, hi] within which estimates meet the alpha
    bound (reference: getErrorBound, main.cpp:1108-1152).

    gamma2 -> (0, 1); last -> (0, 1 - count_last/n); first ->
    (count_first/n, 1).
    """
    if sk.cfg.collapse == GAMMA2:
        return (0.0, 1.0)
    if sk.size == 0 or sk.n == 0:
        return (0.0, 1.0)
    if sk.cfg.collapse == LAST:
        if sk.min_key > sk.max_key:  # never folded
            return (0.0, 1.0)
        return (0.0, 1.0 - float(sk.counts[-1]) / float(sk.n))
    if sk.min_key > sk.max_key:
        return (0.0, 1.0)
    return (float(sk.counts[0]) / float(sk.n), 1.0)


# ---------------------------------------------------------------------------
# (de)serialization -- the canonical struct exchanged through Spark
# ---------------------------------------------------------------------------

def to_dict(sk: DDSketch) -> dict:
    """Canonical encoding: key-sorted parallel arrays. Two sketches with the
    same logical content serialize byte-identically (merge-algebra gate)."""
    return {
        "alpha0": float(sk.cfg.alpha),
        "level": int(sk.level),
        "offset": int(sk.cfg.offset),
        "bin_limit": int(sk.cfg.bin_limit),
        "collapse": sk.cfg.collapse,
        "n": int(sk.n),
        "min_key": int(sk.min_key),
        "max_key": int(sk.max_key),
        "keys": [int(k) for k in sk.keys],
        "counts": [int(c) for c in sk.counts],
    }


def from_dict(d: dict) -> DDSketch:
    cfg = DDSketchConfig(
        offset=int(d["offset"]),
        bin_limit=int(d["bin_limit"]),
        alpha=float(d["alpha0"]),
        collapse=d["collapse"],
    )
    return DDSketch(
        cfg=cfg,
        keys=np.asarray(d["keys"], dtype=np.int64),
        counts=np.asarray(d["counts"], dtype=np.int64),
        n=int(d["n"]),
        level=int(d["level"]),
        min_key=int(d["min_key"]),
        max_key=int(d["max_key"]),
    )


def to_rows(sk: DDSketch) -> list[dict]:
    """Bin dump: offset-stripped key, count, value bounds
    (reference: DDS_PrintCSV, ddsketch.cc:908-949)."""
    off = sk.cfg.offset
    stripped = np.where(sk.keys > 0, sk.keys - off, np.where(sk.keys < 0, sk.keys + off, 0))
    upper = key_to_bound(sk.keys, sk.gamma, off)
    lower = key_to_bound(
        np.where(sk.keys > 0, sk.keys - 1, np.where(sk.keys < 0, sk.keys + 1, 0)),
        sk.gamma,
        off,
    )
    return [
        {
            "key": int(stripped[i]),
            "count": int(sk.counts[i]),
            "lower": float(min(lower[i], upper[i])),
            "upper": float(max(lower[i], upper[i])),
        }
        for i in range(sk.size)
    ]
