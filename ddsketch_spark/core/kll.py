"""KLL sketch core: vectorized numpy implementation (SURVEY.md §2.3).

Karnin-Lang-Liberty streaming quantile sketch (FOCS 2016). State: a list of
level buffers; items at level i carry weight 2^i. Capacity of level i is
max(ceil(k * c^(H-i)), MIN_CAP) with c = 2/3 -- the standard geometric decay.
When a level overflows it is *compacted*: sorted, then every other item is
promoted to the next level, starting at an offset of 0 or 1 -- the
compaction's coin.

One compaction path: ``add`` appends the whole batch to level 0 and
``merge_many`` concatenates the inputs level by level; both then compact
top-down until every capacity holds (``_compact_to_fit``).

The coin is the top bit of splitmix64 of the ``parity`` counter (the
number of compactions so far), so successive compactions get independent-
looking coins while a given input order still always produces the same
state -- no RNG.  The counter's own low bit is no coin: the compactions of
one level need not alternate under it, so their errors add up instead of
cancelling and grow with n.  Across different partition orders estimates
vary within the rank bound, which is inherent to KLL, hence the rows-only
driver check with accuracy gated in pytest.

Rank guarantee: |est_rank(x) - true_rank(x)| <= eps * n with
eps ~= 2.9 / k (random-coin analysis).  tests/test_bounds.py asserts
2 * 2.9 / k at k = 200 on 1M normal and lognormal values, fed in 100- and
1,000-value batches, in one batch and through an 8-way merge_many (worst
0.009 measured).

Merge: levels are concatenated, then compacted top-down until all
capacities hold, and the inputs' ``parity`` counters are summed.
Compaction order is deterministic, so merging the same partials in any
order gives byte-identical states (canonical merge: merge_many
concatenates ALL inputs before compacting, making the result independent
of merge order).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from ddsketch_spark.functions.hashing import splitmix_uniform

DEFAULT_K = 200
_DECAY = 2.0 / 3.0
MIN_CAP = 8


@dataclass(frozen=True)
class KLLConfig:
    k: int = DEFAULT_K

    def __post_init__(self) -> None:
        if self.k < 8:
            raise ValueError(f"k must be >= 8, got {self.k}")


@dataclass
class KLL:
    cfg: KLLConfig
    levels: list[np.ndarray] = field(default_factory=list)  # level i buffer
    n: int = 0
    parity: int = 0  # compactions so far; seeds each compaction's coin


def empty(cfg: KLLConfig | None = None) -> KLL:
    return KLL(cfg=cfg or KLLConfig())


def _capacity(cfg: KLLConfig, level: int, num_levels: int) -> int:
    h = num_levels - 1 - level
    return max(int(math.ceil(cfg.k * (_DECAY ** h))), MIN_CAP)


def _compact_level(sk: KLL, level: int) -> None:
    """Sort the buffer, promote alternating items of the EVEN prefix.

    An odd buffer keeps its last (largest) item at the current level and
    compacts only the even prefix -- promoting ceil(s/2) items at double
    weight would change total retained weight by +-2^level per odd
    compaction, so rank()/quantile() would compare cumulative weights
    against an inconsistent n (ADVICE r1). This preserves
    sum(weights) == n exactly."""
    buf = np.sort(sk.levels[level])
    leftover = buf[-1:] if buf.size & 1 else np.empty(0, np.float64)
    if buf.size & 1:
        buf = buf[:-1]
    keep_parity = int(splitmix_uniform(1, sk.parity)[0] >= 0.5)  # top bit
    sk.parity += 1
    promoted = buf[keep_parity::2]
    if len(sk.levels) <= level + 1:
        sk.levels.append(np.empty(0, np.float64))
    sk.levels[level] = leftover
    sk.levels[level + 1] = np.concatenate([sk.levels[level + 1], promoted])


def _compact_to_fit(sk: KLL) -> None:
    changed = True
    while changed:
        changed = False
        for lv in range(len(sk.levels)):
            cap = _capacity(sk.cfg, lv, len(sk.levels))
            if sk.levels[lv].size > cap:
                _compact_level(sk, lv)
                changed = True
                break


def add(sk: KLL, values: np.ndarray) -> KLL:
    """Append the batch to level 0 and compact to fit, the step
    :func:`merge_many` ends with."""
    vals = np.asarray(values, np.float64)
    vals = vals[~np.isnan(vals)]
    if vals.size == 0:
        return sk
    if not sk.levels:
        sk.levels.append(np.empty(0, np.float64))
    sk.levels[0] = np.concatenate([sk.levels[0], vals])
    sk.n += int(vals.size)
    _compact_to_fit(sk)
    return sk


def merge(a: KLL, b: KLL) -> KLL:
    return merge_many([a, b])


def merge_many(sketches: list["KLL"]) -> KLL:
    """Canonical N-way merge: concatenate every input's level-i buffers
    (inputs sorted by nothing -- concatenation feeds a full sort inside
    compaction, so the result depends only on the multiset per level),
    then compact to fit."""
    if not sketches:
        raise ValueError("merge_many of zero sketches")
    cfg = sketches[0].cfg
    for s in sketches[1:]:
        if s.cfg != cfg:
            raise ValueError(f"incompatible KLL configs: {cfg} vs {s.cfg}")
    out = empty(cfg)
    depth = max((len(s.levels) for s in sketches), default=0)
    for lv in range(depth):
        bufs = [s.levels[lv] for s in sketches if len(s.levels) > lv]
        out.levels.append(np.sort(np.concatenate(bufs)) if bufs else np.empty(0, np.float64))
    out.n = sum(s.n for s in sketches)
    out.parity = sum(s.parity for s in sketches)
    _compact_to_fit(out)
    return out


def _weighted_items(sk: KLL) -> tuple[np.ndarray, np.ndarray]:
    items, weights = [], []
    for lv, buf in enumerate(sk.levels):
        if buf.size:
            items.append(buf)
            weights.append(np.full(buf.size, 1 << lv, np.int64))
    if not items:
        return np.empty(0, np.float64), np.empty(0, np.int64)
    it = np.concatenate(items)
    w = np.concatenate(weights)
    order = np.argsort(it, kind="stable")
    return it[order], w[order]


def rank(sk: KLL, x: float) -> int:
    """Estimated number of items <= x."""
    it, w = _weighted_items(sk)
    return int(w[it <= x].sum())


def quantile(sk: KLL, q: float) -> float:
    """Value whose estimated rank reaches q*n (order-statistic style:
    smallest retained item with cumulative weight > q*(n-1))."""
    it, w = _weighted_items(sk)
    if it.size == 0:
        return math.nan
    cum = np.cumsum(w)
    stop = q * (sk.n - 1)
    idx = min(int(np.searchsorted(cum, stop, side="right")), it.size - 1)
    return float(it[idx])


def quantiles(sk: KLL, qs) -> np.ndarray:
    return np.asarray([quantile(sk, float(q)) for q in qs])


def size(sk: KLL) -> int:
    return int(sum(b.size for b in sk.levels))


def to_dict(sk: KLL) -> dict:
    """Canonical flat encoding: level-tagged sorted items."""
    lv = np.concatenate(
        [np.full(b.size, i, np.int64) for i, b in enumerate(sk.levels)]
    ) if sk.levels else np.empty(0, np.int64)
    items = np.concatenate([np.sort(b) for b in sk.levels]) if sk.levels else np.empty(0)
    return {
        "k": sk.cfg.k,
        "n": sk.n,
        "parity": sk.parity,
        "level_of": lv.tolist(),
        "items": items.tolist(),
    }


def from_dict(d: dict) -> KLL:
    sk = empty(KLLConfig(k=int(d["k"])))
    sk.n = int(d["n"])
    sk.parity = int(d["parity"])
    lv = np.asarray(d["level_of"], np.int64)
    items = np.asarray(d["items"], np.float64)
    depth = int(lv.max()) + 1 if lv.size else 0
    sk.levels = [items[lv == i] for i in range(depth)]
    return sk
