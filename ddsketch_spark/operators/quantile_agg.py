"""Two-stage t-digest / KLL aggregation over DataFrames.

Same partial/merge shape as the DDSketch UDAF path (operators.sketch_agg):
``mapInPandas`` builds one sketch per (partition x group) with vectorized
batch inserts, the shuffle carries only KB-sized state rows, and
``collect_list`` gathers each group's partials into one row for a canonical
``merge_many`` in one ``mapInArrow`` per partition (operators._grouped).
``quantiles`` merges and evaluates in that same pass; stored states are
evaluated with one ``mapInArrow`` over their rows.

In the compacting regime these sketches have no SQL-expressible oracle
(compaction is partition-order dependent within the rank bound), so those
queries are rows-only in the driver contract with pytest accuracy gates
(tests/test_quantile_sketches.py). Both do have a provable EXACT regime --
KLL below level-0 capacity, t-digest while every greedy step crosses the
k-limit -- and the exactness-tier queries in plans.approx_suite exercise
this whole pipeline against value-level SQL oracles there.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ddsketch_spark.core import kll as kll_core
from ddsketch_spark.core import tdigest as td_core
from ddsketch_spark.core.kll import KLLConfig
from ddsketch_spark.core.tdigest import TDigestConfig
from ddsketch_spark.operators._grouped import (
    Fields,
    field_names,
    finalize_groups,
    map_rows,
    schema_prefix,
    split_groups,
)

TDIGEST_STATE_FIELDS = (
    "delta double, n long, min double, max double, "
    "means array<double>, weights array<long>"
)
KLL_STATE_FIELDS = (
    "k int, n long, parity long, level_of array<long>, items array<double>"
)
QUANTILE_FIELDS = "q double, estimate double, n long"


class _Ops:
    """Adapter giving t-digest and KLL one build/merge surface."""

    def __init__(self, core, cfg, state_fields: str):
        self.core, self.cfg, self.state_fields = core, cfg, state_fields
        self.state_cols = field_names(state_fields)

    def empty(self):
        return self.core.empty(self.cfg)

    def add(self, sk, vals: np.ndarray):
        return self.core.add(sk, vals)

    def merge_many(self, sks):
        return self.core.merge_many(sks)

    def to_row(self, sk) -> dict:
        return self.core.to_dict(sk)

    def from_row(self, row):
        return self.core.from_dict(row)

    def merge_states(self, parts: Fields):
        return self.merge_many([self.from_row(parts.row(i)) for i in range(len(parts))])


def tdigest_ops(cfg: TDigestConfig | None = None) -> _Ops:
    return _Ops(td_core, cfg or TDigestConfig(), TDIGEST_STATE_FIELDS)


def kll_ops(cfg: KLLConfig | None = None) -> _Ops:
    return _Ops(kll_core, cfg or KLLConfig(), KLL_STATE_FIELDS)


def build_partials(
    df: DataFrame,
    value: str,
    ops: _Ops,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    group_cols = list(group_cols)
    src = df.select(*group_cols, value)
    out_schema = schema_prefix(df, group_cols) + ops.state_fields

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sketches: dict[tuple, object] = {}
        for pdf in batches:
            vals_all = pdf[value].to_numpy(dtype=np.float64, na_value=np.nan)
            if not group_cols:
                sk = sketches.setdefault((), ops.empty())
                ops.add(sk, vals_all)
                continue
            codes, uniques = pd.factorize(
                pdf[group_cols[0]] if len(group_cols) == 1
                else pd.Series(list(zip(*[pdf[g] for g in group_cols]))),
                use_na_sentinel=False,
            )
            for u, vals in zip(uniques, split_groups(codes, len(uniques), vals_all)):
                gkey = (u,) if len(group_cols) == 1 else tuple(u)
                sk = sketches.setdefault(gkey, ops.empty())
                ops.add(sk, vals)
        rows = []
        for gkey, sk in sketches.items():
            row = ops.to_row(sk)
            for g, gv in zip(group_cols, gkey):
                row[g] = gv
            rows.append(row)
        if rows:
            yield pd.DataFrame(rows)

    return src.mapInPandas(build, schema=out_schema)


def sketch_agg(
    df: DataFrame,
    value: str,
    ops: _Ops,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """values -> per-group merged sketch state rows."""
    parts = build_partials(df, value, ops, group_cols)
    return finalize_groups(
        parts, group_cols, ops.state_cols,
        lambda p: ops.to_row(ops.merge_states(p)), ops.state_fields,
    )


def _quantile_rows(ops: _Ops, sk, qs: list[float]) -> dict:
    return {"q": qs, "estimate": ops.core.quantiles(sk, qs), "n": sk.n}


def quantiles_from_states(
    states: DataFrame,
    ops: _Ops,
    qs: Sequence[float],
    group_cols: Sequence[str] = (),
) -> DataFrame:
    qs = [float(q) for q in qs]
    return map_rows(
        states.select(*group_cols, *ops.state_cols),
        group_cols,
        lambda row: _quantile_rows(ops, ops.from_row(row), qs),
        QUANTILE_FIELDS,
        len(qs),
    )


def quantiles(
    df: DataFrame,
    value: str,
    ops: _Ops,
    qs: Sequence[float],
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """(group_cols..., q, estimate, n): merge and evaluate in one pass."""
    qs = [float(q) for q in qs]
    parts = build_partials(df, value, ops, group_cols)
    return finalize_groups(
        parts, group_cols, ops.state_cols,
        lambda p: _quantile_rows(ops, ops.merge_states(p), qs), QUANTILE_FIELDS, len(qs),
    )
