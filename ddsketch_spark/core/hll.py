"""HyperLogLog core: vectorized numpy implementation (SURVEY.md §2.3).

Same partial/merge/evaluate skeleton as the DDSketch core. State is a
*sparse* canonical pair of sorted parallel arrays (idxs, rhos): register
index -> max rank, registers at 0 omitted. Sparse-sorted arrays (not a dense
array or dict) keep equal sketches byte-identical under merge reordering --
the same canonicalization argument as the DDSketch state (SURVEY.md §1.4).

Hash: h = functions.hashing.mixed_hash_np, the address every sketch uses
(the linear limb hash alone leaves the high bits of h nearly constant on
small keys -- see that module). Register index is the
low ``p`` bits (h mod 2^p); rho is the rank of the MSB of the remaining
61-p high bits: rho = (61-p) - bitlen(h >> p) + 1, so rho in [1, 62-p].
All three engines (Spark Column, numpy, DuckDB SQL) reproduce idx/rho
bit-for-bit, which is what gives the HLL queries *value-level* oracles.

Estimator: Flajolet et al. 2007 HyperLogLog with the small-range linear-
counting correction. The 2^32 large-range correction is intentionally
omitted -- our hash space is 2^61, where that correction never fires at any
realistic cardinality.  The harmonic sum of at most 2^p terms 2^-rho needs
p + max(rho) bits: while p + max(rho) <= 53 it is exact in float64 whatever
the summation order (p = 12 allows rho up to 50; above 41 it may round).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from ddsketch_spark.functions.hashing import (
    HASH_BITS,
    bitlen_np,
    hash_params,
    mixed_hash_np,
)

DEFAULT_P = 12  # 4096 registers, ~1.6% relative standard error


@dataclass(frozen=True)
class HLLConfig:
    p: int = DEFAULT_P
    seed: int = 42

    def __post_init__(self) -> None:
        if not (4 <= self.p <= 18):
            raise ValueError(f"p must be in [4,18], got {self.p}")

    @property
    def m(self) -> int:
        return 1 << self.p

    @property
    def hash_ab(self) -> tuple[int, int]:
        return hash_params(1, self.seed)[0]

    @property
    def alpha_m(self) -> float:
        m = self.m
        if m >= 128:
            return 0.7213 / (1.0 + 1.079 / m)
        return {16: 0.673, 32: 0.697, 64: 0.709}[m]


@dataclass
class HLL:
    """Sparse canonical HLL state: sorted idxs -> max rho."""

    cfg: HLLConfig
    idxs: np.ndarray = field(default_factory=lambda: np.empty(0, np.int64))
    rhos: np.ndarray = field(default_factory=lambda: np.empty(0, np.int64))


def empty(cfg: HLLConfig | None = None) -> HLL:
    return HLL(cfg=cfg or HLLConfig())


def idx_rho(values: np.ndarray, cfg: HLLConfig) -> tuple[np.ndarray, np.ndarray]:
    """value -> (register index, rank). Vectorized; the single source of
    truth mirrored by the Spark Column and oracle-SQL emitters."""
    a, b = cfg.hash_ab
    h = mixed_hash_np(np.asarray(values), a, b)
    idx = np.mod(h, cfg.m)
    rest = h >> cfg.p
    rho = (HASH_BITS - cfg.p) - bitlen_np(rest) + 1
    return idx, rho


def add(sk: HLL, values: np.ndarray) -> HLL:
    idx, rho = idx_rho(values, sk.cfg)
    return add_idx_rho(sk, idx, rho)


def add_idx_rho(sk: HLL, idx: np.ndarray, rho: np.ndarray) -> HLL:
    """Absorb (idx, rho) pairs: each register keeps its largest rank."""
    all_idx = np.concatenate([sk.idxs, np.asarray(idx, np.int64)])
    all_rho = np.concatenate([sk.rhos, np.asarray(rho, np.int64)])
    uniq, inv = np.unique(all_idx, return_inverse=True)
    maxr = np.zeros(len(uniq), np.int64)
    np.maximum.at(maxr, inv, all_rho)
    sk.idxs, sk.rhos = uniq, maxr
    return sk


def merge(a: HLL, b: HLL) -> HLL:
    """Elementwise register max -- commutative, associative, idempotent."""
    if a.cfg != b.cfg:
        raise ValueError(f"incompatible HLL configs: {a.cfg} vs {b.cfg}")
    out = empty(a.cfg)
    return add_idx_rho(add_idx_rho(out, a.idxs, a.rhos), b.idxs, b.rhos)


def harmonic_sum(sk: HLL) -> float:
    """sum over all m registers of 2^-rho (empty registers contribute 1).
    Every term is an exact power of two, so the sum is exact -- and
    independent of summation order -- while p + max(rho) <= 53."""
    m = sk.cfg.m
    zeros = m - len(sk.idxs)
    return float(zeros) + float(np.sum(np.ldexp(1.0, -sk.rhos.astype(np.int64))))


def estimate(sk: HLL) -> float:
    cfg = sk.cfg
    m = cfg.m
    e = cfg.alpha_m * m * m / harmonic_sum(sk)
    v = m - len(sk.idxs)
    if e <= 2.5 * m and v > 0:
        return m * math.log(m / v)  # linear counting, small range
    return e


def register_checksum(sk: HLL) -> int:
    """Exact-integer oracle signal: sum(idx * rho) over set registers."""
    return int(np.sum(sk.idxs * sk.rhos))


def to_dict(sk: HLL) -> dict:
    return {
        "p": sk.cfg.p,
        "seed": sk.cfg.seed,
        "idxs": sk.idxs.tolist(),
        "rhos": sk.rhos.tolist(),
    }


def from_dict(d: dict) -> HLL:
    return HLL(
        cfg=HLLConfig(p=int(d["p"]), seed=int(d["seed"])),
        idxs=np.asarray(d["idxs"], np.int64),
        rhos=np.asarray(d["rhos"], np.int64),
    )
