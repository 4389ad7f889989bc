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


def strip_offset(keys: np.ndarray, offset: int) -> np.ndarray:
    """Stored key -> offset-stripped signed key (reference: DDS_RemoveOffset,
    ddsketch.cc:967-981); key 0 stays 0."""
    k = np.asarray(keys, dtype=np.int64)
    return np.where(k > 0, k - offset, np.where(k < 0, k + offset, 0))


def key_to_bound(keys: np.ndarray, gamma: float, offset: int) -> np.ndarray:
    """Bucket key -> upper bound +-gamma^k (reference: DDS_GetValue,
    ddsketch.cc:128-149). value(0) := 0.0 (deviation Q4)."""
    k = np.asarray(keys, dtype=np.int64)
    stripped = strip_offset(k, offset)
    bound = np.power(gamma, np.where(k > 0, stripped, -stripped).astype(np.float64))
    return np.where(k > 0, bound, np.where(k < 0, -bound, 0.0))


def key_to_estimate(keys: np.ndarray, gamma: float, offset: int) -> np.ndarray:
    """Bucket key -> relative-midpoint value estimate 2*gamma^k/(gamma+1)
    (reference: DDS_GetRank, ddsketch.cc:105-126)."""
    return (2.0 * key_to_bound(keys, gamma, offset)) / (gamma + 1.0)


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
    stripped = strip_offset(k, offset)
    new_stripped = np.where(k > 0, (stripped + 1) // 2, stripped // 2)
    return np.where(k > 0, new_stripped + offset, np.where(k < 0, new_stripped - offset, 0))


def _lift_keys(keys: np.ndarray, offset: int, steps: int) -> np.ndarray:
    """``keys`` remapped ``steps`` gamma^2 levels coarser."""
    for _ in range(steps):
        keys = collapse_keys(keys, offset)
    return keys


# ---------------------------------------------------------------------------
# histogram primitives
# ---------------------------------------------------------------------------

def _combine(*hists):
    """Sorted-key union of ``(keys, counts)`` pairs with summed counts;
    drops zero/negative-count bins."""
    allk = np.concatenate([k for k, _ in hists])
    allc = np.concatenate([c for _, c in hists])
    uk, inv = np.unique(allk, return_inverse=True)
    # counts fit exactly in float64 up to 2^53; we stay far below that per bin
    uc = np.bincount(inv, weights=allc.astype(np.float64), minlength=len(uk))
    uc = np.rint(uc).astype(np.int64)
    keep = uc > 0
    return uk[keep], uc[keep]


# ---------------------------------------------------------------------------
# collapse strategies
# ---------------------------------------------------------------------------

def collapse_gamma2(sk: DDSketch) -> None:
    """Square gamma, remap every key, rebuild the histogram
    (reference: DDS_Collapse, ddsketch.cc:828-906)."""
    sk.keys, sk.counts = _combine((collapse_keys(sk.keys, sk.cfg.offset), sk.counts))
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


_COLLAPSE = {GAMMA2: collapse_gamma2, LAST: collapse_last, FIRST: collapse_first}


def _collapse_to_limit(sk: DDSketch) -> None:
    """``while size > bin_limit`` collapse loop (reference: ddsketch.cc:239-252
    for gamma2; for last/first this matches the reference's *merge* path
    ddsketch.cc:684-696, which folds repeatedly after a bulk addition)."""
    collapse = _COLLAPSE[sk.cfg.collapse]
    while sk.size > sk.cfg.bin_limit:
        collapse(sk)


# ---------------------------------------------------------------------------
# insert / delete
# ---------------------------------------------------------------------------

_INT_FASTPATH_MAX = 1 << 22  # bincount table cap (~32 MB of int64)


def add_keyed(sk: DDSketch, keys: np.ndarray, weights: np.ndarray) -> DDSketch:
    """Insert ``weights[i]`` items into the bin of stored key ``keys[i]``
    (keyed at the sketch's current level), then collapse until the sketch
    fits ``bin_limit``. Every batch insert ends here: :func:`add`,
    :func:`add_weighted` and the Spark finalize of JVM-built histograms.

    For the gamma2 strategy batch-then-collapse is *provably identical* to the
    reference's per-item eager collapse, because the gamma^2 key remap
    commutes with insertion (ceil(ceil(x)/2) == ceil(x/2)) and the final
    level is the minimal one whose histogram fits bin_limit in both schemes.
    For last/first the batch fold order matches the reference's merge path
    (bulk add then fold-until-fit); per-item parity for those is covered by
    :func:`add_one`.

    Every weight must be positive: raises ``ValueError`` otherwise (a zero
    or negative bin would be dropped while ``n`` still counted it).
    """
    keys = np.asarray(keys, dtype=np.int64)
    weights = np.asarray(weights, dtype=np.int64)
    if keys.size == 0:
        return sk
    if weights.min() <= 0:
        raise ValueError(f"DDSketch weights must be positive, got {weights.min()}")
    sk.keys, sk.counts = _combine((sk.keys, sk.counts), (keys, weights))
    sk.n += int(weights.sum())
    _collapse_to_limit(sk)
    return sk


def add(sk: DDSketch, values: np.ndarray) -> DDSketch:
    """Batch insert (reference: DDS_AddCollapse{,LastBucket,FirstBucket},
    ddsketch.cc:212-340, vectorized; see :func:`add_keyed`).

    Small non-negative integers (token ids) are counted with ``np.bincount``
    first, so ``log()`` runs once per DISTINCT value instead of per value.
    ``minlength`` + int64 matter: ``np.bincount`` on int32 without
    ``minlength`` falls off a fast path (~60x slower on skewed data).
    """
    values = np.asarray(values)
    if values.size == 0:
        return sk
    if values.dtype.kind in "iu" and values.min() >= 0 and values.max() < _INT_FASTPATH_MAX:
        counts = np.bincount(values.astype(np.int64, copy=False), minlength=int(values.max()) + 1)
        distinct = np.nonzero(counts)[0]
        return add_weighted(sk, distinct, counts[distinct])
    keys, counts = np.unique(compute_keys(values, sk.ln_gamma, sk.cfg.offset), return_counts=True)
    return add_keyed(sk, keys, counts)


def add_weighted(sk: DDSketch, values: np.ndarray, weights: np.ndarray) -> DDSketch:
    """Insert ``weights[i]`` copies of ``values[i]`` (vectorized multiset
    insert): :func:`add` on the expanded multiset, without materializing
    the expansion."""
    return add_keyed(sk, compute_keys(values, sk.ln_gamma, sk.cfg.offset), weights)


def add_one(sk: DDSketch, item: float) -> DDSketch:
    """Single-item insert with the reference's exact eager-collapse timing
    (one fold per overflowing insert for last/first: ddsketch.cc:285-294 is an
    ``if``, not a ``while``). Used by the parity test-suite."""
    keys = compute_keys(np.array([item], dtype=np.float64), sk.ln_gamma, sk.cfg.offset)
    sk.keys, sk.counts = _combine((sk.keys, sk.counts), (keys, np.ones(1, np.int64)))
    sk.n += 1
    if sk.cfg.collapse == GAMMA2:
        _collapse_to_limit(sk)
    elif sk.size > sk.cfg.bin_limit:
        _COLLAPSE[sk.cfg.collapse](sk)
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
    keys = _lift_keys(keys, sk.cfg.offset, sk.level - keys_level)

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


def _merge_pair(out: DDSketch, b: DDSketch) -> None:
    """``out`` absorbs ``b`` by the reference's pairwise merge
    (DDS_MergeCollapse / ...LastBucket / ...FirstBucket, ddsketch.cc:558-777).

    gamma2, shared alpha0: lift the finer sketch to the coarser level.
    gamma2, differing alpha0: the reference's tolerance loop verbatim --
    collapse the currently-finer sketch until alphas agree within 1e-4, then
    add raw keys (the two keyspaces differ by < 1e-4 in alpha, which the
    reference treats as the same keyspace). last/first: current alphas must
    agree within the same tolerance (reference: MERGE_ERROR -5,
    ddsketch.cc:658-661); min/max absorbed ranges widen to the union
    (ddsketch.cc:676-682).
    """
    if out.cfg.offset != b.cfg.offset or out.cfg.collapse != b.cfg.collapse:
        raise MergeError("sketches must share offset and collapse strategy")
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
    out.keys, out.counts = _combine((out.keys, out.counts), (b.keys, b.counts))
    out.n += b.n
    out.min_key = min(out.min_key, b.min_key)
    out.max_key = max(out.max_key, b.max_key)
    _collapse_to_limit(out)


def merge(a: DDSketch, b: DDSketch) -> DDSketch:
    """Pairwise merge into a new sketch: :func:`merge_many` of ``[a, b]``
    when their configs are equal, else the reference's cross-config merge
    (see :func:`_merge_pair`), ``a`` absorbing ``b``."""
    if a.cfg == b.cfg:
        return merge_many([a, b])
    out = a.copy()
    _merge_pair(out, b)
    return out


def merge_many(sketches: list[DDSketch]) -> DDSketch:
    """Canonical N-way merge of sketches that share one config; mixed
    ``alpha0``/``offset``/``bin_limit``/``collapse`` raise MergeError
    (reference error -5).

    gamma2: lift every partial's keys to the max level among inputs, sum
    all histograms at once, then collapse-until-fit. This is provably
    identical to any pairwise merge order (prefix histogram sizes are
    monotone in the total), which is what makes the merged state
    byte-identical under reordering -- the north-star merge algebra
    requirement, stronger than the reference's pairwise contract.
    last/first fold pairwise in input order, as the reference does.
    """
    if not sketches:
        raise SketchError("merge_many of zero sketches")
    for name, attr in (("alpha0", "alpha"), ("offset", "offset"),
                       ("bin_limit", "bin_limit"), ("collapse", "collapse")):
        vals = sorted({getattr(s.cfg, attr) for s in sketches})
        if len(vals) > 1:
            raise MergeError(f"mixed '{name}' across merged sketches: {vals} (reference error -5)")
    first = sketches[0]
    if first.cfg.collapse != GAMMA2:
        out = first.copy()
        for s in sketches[1:]:
            _merge_pair(out, s)
        return out
    top = max(s.level for s in sketches)
    keys, counts = _combine(*[(_lift_keys(s.keys, s.cfg.offset, top - s.level), s.counts)
                              for s in sketches])
    out = DDSketch(
        cfg=first.cfg, keys=keys, counts=counts, n=sum(s.n for s in sketches), level=top,
        min_key=min(s.min_key for s in sketches), max_key=max(s.max_key for s in sketches),
    )
    _collapse_to_limit(out)
    return out


# ---------------------------------------------------------------------------
# quantile evaluation
# ---------------------------------------------------------------------------

def quantile_keys(sk: DDSketch, qs) -> np.ndarray:
    """Stored key of the bin that answers each q: walk bins in key order
    until the cumulative count exceeds q*(n-1) (reference: DDS_GetQuantile,
    ddsketch.cc:519-556).

    The reference accepts q up to 1.01 (quirk Q2); we replicate the bound and
    clamp the walk at the last bin.
    """
    qs = np.asarray(qs, dtype=np.float64)
    if ((qs < 0) | (qs > 1.01)).any():
        raise QuantileRangeError(f"q={qs.tolist()} outside [0, 1.01]")
    if sk.n <= 0 or sk.size == 0:
        raise SketchError("quantile of an empty sketch")
    idx = np.searchsorted(np.cumsum(sk.counts), qs * float(sk.n - 1), side="right")
    return sk.keys[np.minimum(idx, sk.size - 1)]


def quantiles(sk: DDSketch, qs) -> np.ndarray:
    """Midpoint estimates of the bins :func:`quantile_keys` selects."""
    return key_to_estimate(quantile_keys(sk, qs), sk.gamma, sk.cfg.offset)


def quantile(sk: DDSketch, q: float) -> float:
    """Scalar form of :func:`quantiles`."""
    return float(quantiles(sk, [q])[0])


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
