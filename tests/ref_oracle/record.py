"""What ``driver.cpp`` prints for one call, computed with the importable
``ddsketch_spark`` core.

Used only to record ``goldens.json`` (see the ``oracle`` fixture in
tests/test_reference_parity.py): run the parity suite with
``DDSKETCH_REF_RECORD=<out.json>`` on a checkout whose core matched the
compiled reference bin for bin.  Every insert and delete is per item and
every merge pairwise, as in the driver; the CSV rows follow
``DDS_PrintCSV`` (offset-stripped key, count, ``GetBounds(key - 1, key)``
with each bound's own sign test, ddsketch.cc:151-180 and 908-949).

The quantile grid of a last/first *merge* is left out: the suite never
compared it with the reference, so a recording could not vouch for it.
"""

from __future__ import annotations

import numpy as np

from ddsketch_spark.config import GAMMA2, DDSketchConfig
from ddsketch_spark.core import ddsketch as dds

Q_GRID = (0.01, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 0.99)


def _build(collapse: str, bin_limit: int, alpha: float, values) -> dds.DDSketch:
    sk = dds.empty(DDSketchConfig(bin_limit=bin_limit, alpha=alpha, collapse=collapse))
    for x in values:
        dds.add_one(sk, float(x))
    return sk


def _dump(sk: dds.DDSketch, grid: bool = True) -> str:
    lines = [f"N {sk.n}", f"ALPHA {sk.alpha!r}"]
    lines += [f"BIN {k} {c}" for k, c in zip(sk.keys.tolist(), sk.counts.tolist())]
    if grid and sk.n > 0:
        lines += [f"Q {q:.2f} {dds.quantile(sk, q)!r}" for q in Q_GRID]
    return "\n".join(lines) + "\n"


def _csv(sk: dds.DDSketch) -> str:
    k, off, g = sk.keys, sk.cfg.offset, sk.gamma

    def bound(key):
        return np.where(key > 0, np.power(g, (key - off).astype(np.float64)),
                        -np.power(g, (-(key + off)).astype(np.float64)))

    stripped = np.where(k > 0, k - off, np.where(k < 0, k + off, 0))
    hi, lo = bound(k), bound(k - 1)
    rows = ["key,count,max,min,length"]
    rows += [f"{s},{c},{a!r},{b!r},{a - b!r}"
             for s, c, a, b in zip(stripped.tolist(), sk.counts.tolist(), hi.tolist(), lo.tolist())]
    return "\n".join(rows) + "\n"


def driver_output(collapse: str, bin_limit: int, alpha: float, values, mode: str, *extra: str) -> dict:
    """``{"stdout": ..., "csv": ...}`` of one driver call (``csv`` only in
    csv mode, where ``extra`` holds no output path)."""
    h = len(values) // 2
    if mode == "build":
        return {"stdout": _dump(_build(collapse, bin_limit, alpha, values))}
    if mode in ("merge", "mergeab"):
        alpha_b = float(extra[0]) if mode == "mergeab" else alpha
        a = _build(collapse, bin_limit, alpha, values[:h])
        b = _build(collapse, bin_limit, alpha_b, values[h:])
        return {"stdout": _dump(dds.merge(a, b), grid=collapse == GAMMA2)}
    if mode == "csv":
        sk = _build(collapse, bin_limit, alpha, values)
        return {"stdout": f"N {sk.n}\n", "csv": _csv(sk)}
    if mode == "delete":
        sk = _build(collapse, bin_limit, alpha, values)
        for x in values:
            dds.delete(sk, np.array([x], dtype=np.float64))
        return {"stdout": f"N {sk.n}\nSIZE {sk.size}\n"}
    raise ValueError(f"unknown driver mode {mode!r}")
