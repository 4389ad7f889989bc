"""Exact answers and the checks that compare each op's output against them.

Every check returns a list of problems; an empty list means the op met its
documented bound.  Checks run on the driver after an op has been timed, so
they never count towards a pass.

Bounds, as the library documents them:

* DDSketch: relative error of the q-estimate against the exact order
  statistic ``sorted[floor(q * (n - 1))]`` is at most alpha at the sketch's
  collapse level (``config.alpha_at_level``), and ``n`` is exact.
* KLL (k=200) and t-digest (delta=200): normalized rank error at most
  2 * 2.9 / k and 6 / delta, the margins the library's own tests assert.
* HyperLogLog (p=12): relative error at most four standard errors,
  4 * 1.04 / sqrt(2^p).
* Count-min: ``n`` is exact, every row of counters sums to ``n``, and the
  counters equal the library's numpy core over the same values (counters
  are exact integers).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from ddsketch_spark.config import Q_GRID, DDSketchConfig, alpha_at_level
from ddsketch_spark.core import ddsketch as dds_core

QS = np.asarray(Q_GRID, dtype=np.float64)
KLL_RANK_BOUND = 2 * 2.9 / 200
TDIGEST_RANK_BOUND = 6.0 / 200
HLL_REL_BOUND = 4 * 1.04 / math.sqrt(1 << 12)


@dataclass
class Group:
    """Exact facts about one group's values."""

    sorted_values: np.ndarray
    level: int  # DDSketch collapse level of the whole multiset

    @property
    def n(self) -> int:
        return int(self.sorted_values.size)

    def order_stats(self) -> np.ndarray:
        idx = np.floor(QS * (self.n - 1)).astype(np.int64)
        return self.sorted_values[idx]


@dataclass
class Tally:
    """Worst accuracy seen so far, across every checked op."""

    quantile_rel_err: float = 0.0
    rank_err: float = 0.0


def groups_of(keys: np.ndarray, values: np.ndarray, cfg: DDSketchConfig, skew: float = 1.0) -> dict:
    """group key -> :class:`Group`, from parallel key/value arrays.

    ``skew`` multiplies every exact value and shifts every count; the
    self-test passes 1.1 to prove that a wrong oracle makes ops fail."""
    order = np.argsort(keys, kind="stable")
    keys, values = keys[order], values[order]
    starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
    bounds = np.r_[starts, keys.size]
    out = {}
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        vals = np.sort(values[lo:hi]).astype(np.float64)
        level = dds_core.add(dds_core.empty(cfg), vals).level
        if skew != 1.0:
            vals = np.append(vals * skew, vals[-1] * skew)
        out[_py(keys[lo])] = Group(vals, level)
    return out


def global_group(values: np.ndarray, cfg: DDSketchConfig, skew: float = 1.0) -> dict:
    """The single-group oracle of an ungrouped op (group key ``None``)."""
    return {None: groups_of(np.zeros(values.size, np.int8), values, cfg, skew)[0]}


def _py(x):
    return x.item() if isinstance(x, np.generic) else x


def _rel_errors(est: np.ndarray, exact: np.ndarray) -> np.ndarray:
    return np.abs(est - exact) / np.maximum(np.abs(exact), 1e-300)


def _check_estimates(key, est, n, group: Group | None, alpha: float, tally: Tally) -> list[str]:
    if group is None:
        return [f"group {key!r}: not in the input"]
    if n != group.n:
        return [f"group {key!r}: n={n}, exact {group.n}"]
    rel = _rel_errors(np.asarray(est, dtype=np.float64), group.order_stats())
    worst = float(rel.max())
    tally.quantile_rel_err = max(tally.quantile_rel_err, worst)
    if worst > alpha * (1 + 1e-9):
        return [f"group {key!r}: rel err {worst:.5f} > alpha {alpha:.5f}"]
    return []


def _check_coverage(seen: set, oracle: dict) -> list[str]:
    missing = set(oracle) - seen
    return [f"{len(missing)} groups missing from the output"] if missing else []


def check_states(rows, group_col: str | None, oracle: dict, tally: Tally) -> list[str]:
    """DDSketch state rows (one per group) against exact quantiles and n."""
    problems, seen = [], set()
    for r in rows:
        key = r[group_col] if group_col else None
        seen.add(key)
        sk = dds_core.from_dict(r.asDict())
        est = dds_core.quantiles(sk, QS)
        problems += _check_estimates(key, est, sk.n, oracle.get(key), sk.alpha, tally)
    return problems + _check_coverage(seen, oracle)


def _by_group(rows, group_col):
    out: dict = {}
    for r in rows:
        key = r[group_col] if group_col else None
        out.setdefault(key, []).append(r)
    return out


def check_quantile_rows(rows, group_col, oracle: dict, alpha0: float, tally: Tally) -> list[str]:
    """(group, q, bucket_key, estimate, n) rows from the DDSketch paths."""
    problems = []
    grouped = _by_group(rows, group_col)
    for key, rs in grouped.items():
        rs = sorted(rs, key=lambda r: r["q"])
        group = oracle.get(key)
        alpha = alpha_at_level(alpha0, group.level) if group else alpha0
        if [r["q"] for r in rs] != list(Q_GRID):
            problems.append(f"group {key!r}: wrong q grid")
            continue
        problems += _check_estimates(
            key, [r["estimate"] for r in rs], rs[0]["n"], group, alpha, tally
        )
    return problems + _check_coverage(set(grouped), oracle)


def check_rank_rows(rows, group_col, oracle: dict, bound: float, tally: Tally) -> list[str]:
    """(group, q, estimate, n) rows from t-digest / KLL: normalized rank
    error of each estimate against the exact values."""
    problems = []
    grouped = _by_group(rows, group_col)
    for key, rs in grouped.items():
        group = oracle.get(key)
        if group is None or rs[0]["n"] != group.n:
            problems.append(f"group {key!r}: n={rs[0]['n']}, exact {group and group.n}")
            continue
        v = group.sorted_values
        for r in rs:
            lo = np.searchsorted(v, r["estimate"], side="left")
            hi = np.searchsorted(v, r["estimate"], side="right")
            target = r["q"] * group.n
            err = max(lo - target, target - hi, 0.0) / group.n
            tally.rank_err = max(tally.rank_err, err)
            if err > bound:
                problems.append(f"group {key!r} q={r['q']}: rank err {err:.4f} > {bound:.4f}")
    return problems + _check_coverage(set(grouped), oracle)


def check_hll_rows(rows, group_col, distinct: dict) -> list[str]:
    problems = []
    for r in rows:
        exact = distinct.get(r[group_col])
        if exact is None:
            problems.append(f"group {r[group_col]!r}: not in the input")
            continue
        rel = abs(r["estimate"] - exact) / exact
        if rel > HLL_REL_BOUND:
            problems.append(f"group {r[group_col]!r}: HLL rel err {rel:.4f} > {HLL_REL_BOUND:.4f}")
    if {r[group_col] for r in rows} != set(distinct):
        problems.append("HLL groups differ from the input's")
    return problems


def check_cms_rows(rows, group_col, counters: dict, oracle: dict, cfg) -> list[str]:
    """Per-group count-min state rows against exact counters and ``n``."""
    problems = []
    for r in rows:
        key = r[group_col]
        exact, group = counters.get(key), oracle.get(key)
        if exact is None or group is None:
            problems.append(f"group {key!r}: not in the input")
            continue
        if (r["depth"], r["width"]) != (cfg.depth, cfg.width):
            problems.append(f"group {key!r}: shape {r['depth']}x{r['width']}")
            continue
        got = np.asarray(r["counters"], dtype=np.int64)
        row_sums = got.reshape(cfg.depth, cfg.width).sum(axis=1)
        if r["n"] != group.n or (row_sums != group.n).any():
            problems.append(f"group {key!r}: n={r['n']}, row sums {row_sums.tolist()}, "
                            f"exact {group.n}")
        elif not np.array_equal(got, exact):
            problems.append(f"group {key!r}: {int((got != exact).sum())} counters differ")
    if {r[group_col] for r in rows} != set(counters):
        problems.append("count-min groups differ from the input's")
    return problems
