"""t-digest core: vectorized merging t-digest (SURVEY.md §2.3).

Implements the *merging* t-digest of Dunning & Ertl ("Computing extremely
accurate quantiles using t-digests", 2019) with the k1 scale function:

    k(q) = (delta / 2pi) * asin(2q - 1)

State: centroids as sorted parallel arrays (means float64, weights int64)
plus exact min/max and n. A batch insert treats the sorted values as
unit-weight centroids and runs one deterministic left-to-right merge pass;
``merge`` concatenates centroid lists and re-compresses the same way.

Determinism: compression is a pure function of the *multiset* of input
centroids (sort is by (mean, weight); the left-to-right pass has no
randomness), so merging the same partials in any order yields byte-identical
states -- the same canonicalization property as the DDSketch merge. Across
*different* partitionings the centroid multiset differs, so estimates vary
within the rank-accuracy bound; that is inherent to t-digest (hence the
rows-only driver check; accuracy is gated in pytest instead).

Accuracy: interpolated quantiles have rank error O(q(1-q)/delta); the pytest
gate asserts |rank(est) - qn| <= 6n/delta at delta=200 over the reference
harness distributions.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

DEFAULT_DELTA = 200.0


@dataclass(frozen=True)
class TDigestConfig:
    delta: float = DEFAULT_DELTA

    def __post_init__(self) -> None:
        if self.delta < 10:
            raise ValueError(f"delta must be >= 10, got {self.delta}")


@dataclass
class TDigest:
    cfg: TDigestConfig
    means: np.ndarray = field(default_factory=lambda: np.empty(0, np.float64))
    weights: np.ndarray = field(default_factory=lambda: np.empty(0, np.int64))
    n: int = 0
    min: float = math.inf
    max: float = -math.inf


def empty(cfg: TDigestConfig | None = None) -> TDigest:
    return TDigest(cfg=cfg or TDigestConfig())


def _k(q: np.ndarray | float, delta: float) -> np.ndarray | float:
    return delta / (2.0 * math.pi) * np.arcsin(2.0 * np.asarray(q) - 1.0)


def _compress(
    means: np.ndarray, weights: np.ndarray, cfg: TDigestConfig
) -> tuple[np.ndarray, np.ndarray]:
    """One deterministic left-to-right merge pass over (mean, weight)-sorted
    centroids (Dunning & Ertl alg. 1). Vectorized grouping: a centroid
    starts a new cluster when adding it would cross the k-size limit."""
    if means.size == 0:
        return means, weights
    order = np.lexsort((weights, means))
    means, weights = means[order], weights[order]
    n = weights.sum()
    if means.size > 6 * cfg.delta:
        # vectorized pre-cluster: bin sorted centroids at half-k-width
        # granularity so the sequential pass below only ever sees O(delta)
        # items. Pure function of the sorted multiset -> still deterministic.
        cum = np.cumsum(weights)
        qmid = (cum - weights / 2.0) / n
        cid = np.floor(2.0 * _k(qmid, cfg.delta)).astype(np.int64)
        _, inv = np.unique(cid, return_inverse=True)
        wsum = np.bincount(inv, weights=weights.astype(np.float64))
        msum = np.bincount(inv, weights=weights.astype(np.float64) * means)
        means = msum / wsum
        weights = np.rint(wsum).astype(np.int64)
    # greedy scan: sequential by nature, but over at most O(delta) items
    # after the pre-cluster above.
    out_m: list[float] = []
    out_w: list[int] = []
    delta = cfg.delta
    q0 = 0.0
    k_limit = _k(q0, delta) + 1.0
    acc_m, acc_w = means[0], int(weights[0])
    w_before = 0
    for i in range(1, means.size):
        w = int(weights[i])
        q_right = (w_before + acc_w + w) / n
        if means[i] == acc_m:
            # equal-mean centroids always fold (exact: the weighted mean of
            # equal values is the value). Without this, the same value arriving
            # from different partials stays split into duplicate centroids,
            # which shifts interpolation midpoints -- the exactness-tier
            # oracle models one centroid per distinct value.
            acc_w += w
        elif _k(min(q_right, 1.0), delta) <= k_limit:
            # fold into the current cluster (weighted mean, exact weight)
            acc_m += (means[i] - acc_m) * (w / (acc_w + w))
            acc_w += w
        else:
            out_m.append(acc_m)
            out_w.append(acc_w)
            w_before += acc_w
            q0 = w_before / n
            k_limit = _k(q0, delta) + 1.0
            acc_m, acc_w = means[i], w
    out_m.append(acc_m)
    out_w.append(acc_w)
    return np.asarray(out_m, np.float64), np.asarray(out_w, np.int64)


def add(sk: TDigest, values: np.ndarray) -> TDigest:
    """Vectorized batch insert: pre-cluster the batch by exact value
    (np.unique gives sorted uniques + counts -- no per-row python), then one
    compress pass over prev_centroids + batch_clusters."""
    vals = np.asarray(values, np.float64)
    vals = vals[~np.isnan(vals)]
    if vals.size == 0:
        return sk
    uniq, counts = np.unique(vals, return_counts=True)
    means = np.concatenate([sk.means, uniq])
    weights = np.concatenate([sk.weights, counts.astype(np.int64)])
    sk.means, sk.weights = _compress(means, weights, sk.cfg)
    sk.n += int(vals.size)
    sk.min = min(sk.min, float(uniq[0]))
    sk.max = max(sk.max, float(uniq[-1]))
    return sk


def merge(a: TDigest, b: TDigest) -> TDigest:
    return merge_many([a, b])


def merge_many(sketches: list[TDigest]) -> TDigest:
    """Canonical N-way merge: single compress over the union of all
    centroids -- result independent of the order of ``sketches``."""
    if not sketches:
        raise ValueError("merge_many of zero sketches")
    cfg = sketches[0].cfg
    for s in sketches[1:]:
        if s.cfg != cfg:
            raise ValueError(f"incompatible t-digest configs: {cfg} vs {s.cfg}")
    out = empty(cfg)
    out.means, out.weights = _compress(
        np.concatenate([s.means for s in sketches]),
        np.concatenate([s.weights for s in sketches]),
        cfg,
    )
    out.n = sum(s.n for s in sketches)
    out.min = min(s.min for s in sketches)
    out.max = max(s.max for s in sketches)
    return out


def quantile(sk: TDigest, q: float) -> float:
    """Interpolated quantile (Dunning & Ertl §2.9): centroid i covers the
    rank midpoint cum_i - w_i/2; linear interpolation between midpoints,
    clamped to exact min/max at the tails."""
    if sk.n == 0:
        return math.nan
    if q <= 0:
        return sk.min
    if q >= 1:
        return sk.max
    target = q * sk.n
    cum = np.cumsum(sk.weights)
    mids = cum - sk.weights / 2.0
    if target <= mids[0]:
        return sk.min + (target / mids[0]) * (float(sk.means[0]) - sk.min) if mids[0] > 0 else sk.min
    if target >= mids[-1]:
        span = sk.n - mids[-1]
        frac = (target - mids[-1]) / span if span > 0 else 0.0
        return float(sk.means[-1]) + frac * (sk.max - float(sk.means[-1]))
    i = int(np.searchsorted(mids, target, side="right"))
    lo, hi = mids[i - 1], mids[i]
    frac = (target - lo) / (hi - lo) if hi > lo else 0.0
    return float(sk.means[i - 1]) + frac * float(sk.means[i] - sk.means[i - 1])


def quantiles(sk: TDigest, qs) -> np.ndarray:
    return np.asarray([quantile(sk, float(q)) for q in qs])


def to_dict(sk: TDigest) -> dict:
    return {
        "delta": sk.cfg.delta,
        "n": sk.n,
        "min": sk.min,
        "max": sk.max,
        "means": sk.means.tolist(),
        "weights": sk.weights.tolist(),
    }


def from_dict(d: dict) -> TDigest:
    return TDigest(
        cfg=TDigestConfig(delta=float(d["delta"])),
        means=np.asarray(d["means"], np.float64),
        weights=np.asarray(d["weights"], np.int64),
        n=int(d["n"]),
        min=float(d["min"]),
        max=float(d["max"]),
    )
