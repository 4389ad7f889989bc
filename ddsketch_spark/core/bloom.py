"""Bloom filter core: vectorized numpy implementation (SURVEY.md §2.3).

State is the bit array packed into int64 words (canonical: fixed length
m/64 words; merge = elementwise OR -- commutative, associative, idempotent).

Bit addressing: bit_j(x) = mixed_hash_j(x) mod m, the j-th member of the
shared mixed hash (functions.hashing).
Membership is exact-no-false-negative by construction; false-positive rate
~= (1 - e^{-kn/m})^k (Bloom 1970). Bit positions are exact integers shared
with the DuckDB oracle, so membership queries check value-level.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from ddsketch_spark.functions.hashing import hash_params, mixed_hash_np

DEFAULT_BITS = 1 << 16  # 65536 bits = 1024 words
DEFAULT_K = 5


@dataclass(frozen=True)
class BloomConfig:
    m_bits: int = DEFAULT_BITS
    k: int = DEFAULT_K
    seed: int = 42

    def __post_init__(self) -> None:
        if self.m_bits % 64 != 0:
            raise ValueError("m_bits must be a multiple of 64")
        if self.k < 1:
            raise ValueError("k must be >= 1")

    @property
    def n_words(self) -> int:
        return self.m_bits // 64

    @property
    def hash_abs(self) -> list[tuple[int, int]]:
        return hash_params(self.k, self.seed)


@dataclass
class Bloom:
    cfg: BloomConfig
    words: np.ndarray = field(default_factory=lambda: np.empty(0, np.uint64))
    n: int = 0

    def __post_init__(self) -> None:
        if self.words.size == 0:
            self.words = np.zeros(self.cfg.n_words, np.uint64)


def empty(cfg: BloomConfig | None = None) -> Bloom:
    return Bloom(cfg=cfg or BloomConfig())


def bit_positions(values: np.ndarray, cfg: BloomConfig) -> np.ndarray:
    """(len(values), k) bit indices in [0, m_bits)."""
    v = np.asarray(values)
    out = np.empty((len(v), cfg.k), np.int64)
    for j, (a, b) in enumerate(cfg.hash_abs):
        out[:, j] = np.mod(mixed_hash_np(v, a, b), cfg.m_bits)
    return out


def add(sk: Bloom, values: np.ndarray) -> Bloom:
    bits = bit_positions(values, sk.cfg).ravel()
    masks = np.left_shift(np.uint64(1), (bits & 63).astype(np.uint64))
    np.bitwise_or.at(sk.words, bits >> 6, masks)
    sk.n += len(np.asarray(values))
    return sk


def merge(a: Bloom, b: Bloom) -> Bloom:
    if a.cfg != b.cfg:
        raise ValueError(f"incompatible Bloom configs: {a.cfg} vs {b.cfg}")
    out = empty(a.cfg)
    out.words = np.bitwise_or(a.words, b.words)
    out.n = a.n + b.n
    return out


def might_contain(sk: Bloom, values: np.ndarray) -> np.ndarray:
    """Boolean per probe: all k bits set (no false negatives)."""
    bits = bit_positions(values, sk.cfg)
    words = sk.words[(bits >> 6)]
    masks = np.left_shift(np.uint64(1), (bits & 63).astype(np.uint64))
    return np.all((words & masks) != 0, axis=1)


def to_dict(sk: Bloom) -> dict:
    return {
        "m_bits": sk.cfg.m_bits,
        "k": sk.cfg.k,
        "seed": sk.cfg.seed,
        "n": sk.n,
        "words": sk.words.view(np.int64).tolist(),
    }


def from_dict(d: dict) -> Bloom:
    return Bloom(
        cfg=BloomConfig(m_bits=int(d["m_bits"]), k=int(d["k"]), seed=int(d["seed"])),
        words=np.asarray(d["words"], np.int64).view(np.uint64).copy(),
        n=int(d["n"]),
    )
