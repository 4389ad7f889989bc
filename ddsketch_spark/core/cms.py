"""Count-Min sketch core: vectorized numpy implementation (SURVEY.md §2.3).

State is the dense d x w counter matrix flattened row-major into one int64
array -- dense because every cell is touched at scale, and a flat array is
already canonical (merge = elementwise +, fully order-independent).

Cell addressing: row i uses the i-th (a,b) pair of the shared family;
col = mixed_hash_i(x) mod w (functions.hashing), so the d rows address
independently.  Point estimate = min over rows (Cormode & Muthukrishnan
2005); with w = ceil(e/eps) and d = ceil(ln(1/delta)) the estimate never
undercounts and overshoots the true count by more than eps*N = e/w * N
with probability <= delta = e^-d per key.  That bound needs independent
rows: under the linear limb hash alone, small keys x and x + w share every
row's cell, and a Zipf stream's head token inflates the estimate of each
key congruent to it mod w by about a fifth of N (tests/test_bounds.py).
Counters are exact integers, so CMS queries get exact value-level DuckDB
oracles.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from ddsketch_spark.functions.hashing import hash_params, mixed_hash_np

DEFAULT_DEPTH = 4
DEFAULT_WIDTH = 2048


@dataclass(frozen=True)
class CMSConfig:
    depth: int = DEFAULT_DEPTH
    width: int = DEFAULT_WIDTH
    seed: int = 42

    def __post_init__(self) -> None:
        if self.depth < 1 or self.width < 2:
            raise ValueError(f"bad CMS dims d={self.depth} w={self.width}")

    @property
    def hash_abs(self) -> list[tuple[int, int]]:
        return hash_params(self.depth, self.seed)


@dataclass
class CMS:
    cfg: CMSConfig
    counters: np.ndarray = field(default_factory=lambda: np.empty(0, np.int64))
    n: int = 0

    def __post_init__(self) -> None:
        if self.counters.size == 0:
            self.counters = np.zeros(self.cfg.depth * self.cfg.width, np.int64)


def empty(cfg: CMSConfig | None = None) -> CMS:
    return CMS(cfg=cfg or CMSConfig())


def cells(values: np.ndarray, cfg: CMSConfig) -> np.ndarray:
    """(len(values), depth) flat cell indices row*width + col."""
    v = np.asarray(values)
    out = np.empty((len(v), cfg.depth), np.int64)
    for i, (a, b) in enumerate(cfg.hash_abs):
        out[:, i] = i * cfg.width + np.mod(mixed_hash_np(v, a, b), cfg.width)
    return out


def add(sk: CMS, values: np.ndarray, weights: np.ndarray | None = None) -> CMS:
    v = np.asarray(values)
    w = np.ones(len(v), np.int64) if weights is None else np.asarray(weights, np.int64)
    c = cells(v, sk.cfg)
    for i in range(sk.cfg.depth):
        np.add.at(sk.counters, c[:, i], w)
    sk.n += int(w.sum())
    return sk


def merge(a: CMS, b: CMS) -> CMS:
    if a.cfg != b.cfg:
        raise ValueError(f"incompatible CMS configs: {a.cfg} vs {b.cfg}")
    out = empty(a.cfg)
    out.counters = a.counters + b.counters
    out.n = a.n + b.n
    return out


def point_query(sk: CMS, values: np.ndarray) -> np.ndarray:
    """Estimated frequency of each probe: min over the d counters."""
    c = cells(np.asarray(values), sk.cfg)
    return np.min(sk.counters[c], axis=1)


def to_dict(sk: CMS) -> dict:
    return {
        "depth": sk.cfg.depth,
        "width": sk.cfg.width,
        "seed": sk.cfg.seed,
        "n": sk.n,
        "counters": sk.counters.tolist(),
    }


def from_dict(d: dict) -> CMS:
    return CMS(
        cfg=CMSConfig(depth=int(d["depth"]), width=int(d["width"]), seed=int(d["seed"])),
        counters=np.asarray(d["counters"], np.int64),
        n=int(d["n"]),
    )
