"""Distributed DDSketch aggregation: the JVM-native histogram path.

Pipeline (replaces the reference's per-item insert loop + pairwise merges,
SURVEY.md §3.2-3.3):

  1. ``dds_key`` Catalyst expression keys every value JVM-side (codegen).
  2. ``groupBy(groups, key).count()`` builds per-group histograms with
     automatic map-side partial aggregation -- the only data-sized stage, and
     it shuffles at most (#groups x #bins) rows.
  3. ``collect_list`` gathers each group's tiny histogram into one row, and
     one ``mapInArrow`` (operators._grouped) runs the numpy core's
     collapse-to-limit + quantile walk over every group of a partition.
     Fully distributed across groups; nothing data-sized ever reaches
     Python or the driver.

For the gamma^2 strategy this lazy build is provably identical to the
reference's eager per-item collapse (see core.ddsketch.add). For last/first
it matches the reference's bulk-merge path (ddsketch.cc:676-696).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ddsketch_spark.config import DDSketchConfig
from ddsketch_spark.core import ddsketch as core
from ddsketch_spark.functions.ddsketch_sql import dds_key
from ddsketch_spark.operators._grouped import (
    ROWS,
    collect,
    field_names,
    finalize_groups,
    join_groups,
    map_rows,
)

# Canonical sketch-state row schema (SURVEY.md §1.4): sorted parallel arrays,
# not MapType, so equal sketches serialize identically (merge-algebra gate).
SKETCH_STATE_FIELDS = (
    "alpha0 double, level int, offset long, bin_limit int, collapse string, "
    "n long, min_key long, max_key long, keys array<long>, counts array<long>"
)
STATE_COLS = field_names(SKETCH_STATE_FIELDS)
QUANTILE_FIELDS = "q double, bucket_key long, estimate double, n long"


def _sketch_from_hist(pdf_keys: np.ndarray, pdf_cnts: np.ndarray, cfg: DDSketchConfig) -> core.DDSketch:
    order = np.argsort(pdf_keys)
    sk = core.DDSketch(
        cfg=cfg,
        keys=pdf_keys[order].astype(np.int64),
        counts=pdf_cnts[order].astype(np.int64),
        n=int(pdf_cnts.sum()),
    )
    core._collapse_to_limit(sk)
    return sk


def histogram(
    df: DataFrame,
    value: Column | str,
    cfg: DDSketchConfig | None = None,
    group_cols: Sequence[str] = (),
    explode_array: bool = False,
    weight: Column | str | None = None,
) -> DataFrame:
    """(group_cols..., key, cnt) level-0 bucket histogram.

    ``explode_array=True`` keys the elements of an array column (e.g.
    ``tokens``); the explode feeds straight into partial hash aggregation, so
    exploded rows never cross a shuffle.

    ``weight`` turns the count into an integer-weighted multiplicity (the
    core's add_weighted semantics: each row contributes `weight` items).
    """
    cfg = cfg or DDSketchConfig()
    v = F.col(value) if isinstance(value, str) else value
    w = (F.col(weight) if isinstance(weight, str) else weight) if weight is not None else None
    if explode_array:
        # generators can't nest inside expressions; explode first, then key
        cols = [*group_cols] + ([w.alias("__w")] if w is not None else [])
        df = df.select(*cols, F.explode(v).alias("__elem"))
        v = F.col("__elem")
        if w is not None:
            w = F.col("__w")
    sel = [*group_cols, dds_key(v, cfg).alias("key")]
    if w is not None:
        sel.append(w.cast("long").alias("__w"))
    keyed = df.select(*sel).where(F.col("key").isNotNull())
    cnt = F.sum("__w") if w is not None else F.count(F.lit(1))
    return keyed.groupBy(*group_cols, "key").agg(cnt.alias("cnt"))


def sketch_from_histogram(
    hist: DataFrame,
    cfg: DDSketchConfig | None = None,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Finalize per-group histograms into canonical sketch-state rows."""
    cfg = cfg or DDSketchConfig()

    def finalize(bins) -> dict:
        return core.to_dict(_sketch_from_hist(bins["key"], bins["cnt"], cfg))

    return finalize_groups(hist, group_cols, ("key", "cnt"), finalize, SKETCH_STATE_FIELDS)


def sketch(
    df: DataFrame,
    value: Column | str,
    cfg: DDSketchConfig | None = None,
    group_cols: Sequence[str] = (),
    explode_array: bool = False,
) -> DataFrame:
    """End-to-end: values -> per-group canonical sketch states."""
    cfg = cfg or DDSketchConfig()
    return sketch_from_histogram(
        histogram(df, value, cfg, group_cols, explode_array), cfg, group_cols
    )


def _quantile_rows(sk: core.DDSketch, qs: list[float]) -> dict:
    """The quantile-grid columns of one sketch (see :func:`quantiles`)."""
    ests = core.quantiles(sk, qs)
    cum = np.cumsum(sk.counts)
    stops = np.asarray(qs) * float(sk.n - 1)
    idx = np.minimum(np.searchsorted(cum, stops, side="right"), sk.size - 1)
    sel = sk.keys[idx]
    off = sk.cfg.offset
    stripped = np.where(sel > 0, sel - off, np.where(sel < 0, sel + off, 0))
    return {"q": qs, "bucket_key": stripped, "estimate": ests, "n": sk.n}


def quantiles(
    df: DataFrame,
    value: Column | str,
    qs: Sequence[float],
    cfg: DDSketchConfig | None = None,
    group_cols: Sequence[str] = (),
    explode_array: bool = False,
    weight: Column | str | None = None,
) -> DataFrame:
    """(group_cols..., q, bucket_key, estimate, n) quantile estimates.

    ``bucket_key`` is the offset-stripped key of the selected bucket (an
    exact integer -- the strongest oracle-comparable signal); ``estimate`` is
    the reference's midpoint estimator for that bucket.
    """
    cfg = cfg or DDSketchConfig()
    qs = [float(q) for q in qs]
    hist = histogram(df, value, cfg, group_cols, explode_array, weight)

    def finalize(bins) -> dict:
        return _quantile_rows(_sketch_from_hist(bins["key"], bins["cnt"], cfg), qs)

    return finalize_groups(
        hist, group_cols, ("key", "cnt"), finalize, QUANTILE_FIELDS, len(qs)
    )


def delete_from_sketch(
    sketch_df: DataFrame,
    delete_df: DataFrame,
    value: Column | str,
    cfg: DDSketchConfig | None = None,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Distributed turnstile delete: reduce the deletion multiset to one
    (key, cnt) list per group JVM-side, left-join it to the sketch rows, and
    apply the core's min(c,m) delete per row
    (reference: DDS_DeleteCollapse*, ddsketch.cc:342-517).  Groups only in
    ``delete_df`` give no row; groups without deletes come back unchanged."""
    cfg = cfg or DDSketchConfig()
    dels = collect(histogram(delete_df, value, cfg, group_cols), group_cols, ("key", "cnt"))
    states = sketch_df.select(*group_cols, *STATE_COLS)

    def apply_delete(row: dict) -> dict:
        sk = core.from_dict(row)
        core.delete_keyed(sk, row[ROWS]["key"], row[ROWS]["cnt"], keys_level=0)
        return core.to_dict(sk)

    return map_rows(
        join_groups(states, dels, group_cols), group_cols, apply_delete, SKETCH_STATE_FIELDS
    )


def quantiles_from_sketch(
    sketch_df: DataFrame, qs: Sequence[float], group_cols: Sequence[str] = ()
) -> DataFrame:
    """Evaluate the quantile grid from persisted sketch-state rows."""
    qs = [float(q) for q in qs]
    return map_rows(
        sketch_df.select(*group_cols, *STATE_COLS),
        group_cols,
        lambda row: _quantile_rows(core.from_dict(row), qs),
        QUANTILE_FIELDS,
        len(qs),
    )
