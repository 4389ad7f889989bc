"""The workloads: seeded inputs, exact oracles and the ops of one pass.

Each workload writes its inputs as parquet into the run's work directory,
computes exact answers with numpy, and hands the harness a list of ops.  An
op calls the library's public operators and collects the result to the
driver; its check compares that result against the oracle.
"""

from __future__ import annotations

import copy
import datetime as dt
import os
import shutil
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ddsketch_spark.config import Q_GRID, DDSketchConfig
from ddsketch_spark.core import cms as cms_core
from ddsketch_spark.core.cms import CMSConfig
from ddsketch_spark.core.kll import KLLConfig
from ddsketch_spark.core.tdigest import TDigestConfig
from ddsketch_spark.sources.fixtures import generate_tokens_table

import oracle as orc

CFG = DDSketchConfig()
CMS_CFG = CMSConfig()

# Sizes per scale.  "full" is what the benchmark measures; "tiny" is the
# self-test's sf0.001-sized lineitem and ~100-document tokens table.  At 4M
# tokens the data-sized layers take 35-53 % of a token-analytics pass on a
# 4-vCPU host and per-query overhead the rest (perfbench/README.md).
SCALES = {
    "full": {"tokens": 4_000_000, "suppliers": 100, "rows_per_supplier": 300},
    "tiny": {"tokens": 65_000, "suppliers": 10, "rows_per_supplier": 600},
}
MEAN_DOC_TOKENS = 650  # lognormal(6, 1) document lengths, clipped to 1..4096

SHIP_START = dt.date(1995, 1, 2)
SHIP_DAYS = 2498  # through 2001-11-04, as in the sf0.1 lineitem
MAINTENANCE_CUT = dt.date(2000, 1, 1)  # stored states hold the rows before
DELETE_FROM = dt.date(1999, 1, 1)  # the delete op removes 1999's rows again
TDIGEST_CUT = dt.date(1996, 1, 1)  # the t-digest op's ship-date slice
PROBE_SHARE = 0.25  # share of every input the traced run's probe passes read


@dataclass
class Op:
    """One closed-loop call: ``frame`` builds the DataFrame the op collects,
    ``check`` lists the problems in the collected rows (none when the op met
    its bound)."""

    name: str
    module: str  # the operator module whose throughput this op measures
    values: int  # input values the op sketches; 0 for pure evaluation
    frame: Callable[[], object]
    check: Callable[[list], list[str]]


def _write_parts(table: pa.Table, out_dir: str, parts: int) -> None:
    """Write ``table`` as ``parts`` parquet files of equal row counts, so
    Spark's scan gives every core a split."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    bounds = np.linspace(0, table.num_rows, parts + 1).astype(int)
    for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        pq.write_table(table.slice(lo, hi - lo), os.path.join(out_dir, f"part-{i:03d}.parquet"))


def lineitem(n_suppliers: int, rows_per_supplier: int, seed: int) -> pa.Table:
    """A seeded lineitem slice shaped like the sf0.1 table: supplier keys
    uniform over ``1..n_suppliers``, extended price = quantity (1..50) x
    retail price (900..2100), ship dates uniform over 1995-01-02..2001-11-04."""
    rng = np.random.default_rng(seed)
    n = n_suppliers * rows_per_supplier
    supp = rng.integers(1, n_suppliers + 1, n)
    price = np.round(rng.integers(1, 51, n) * rng.uniform(900.0, 2100.0, n), 2)
    ship = np.datetime64(SHIP_START) + rng.integers(0, SHIP_DAYS, n).astype("timedelta64[D]")
    return pa.table({
        "l_suppkey": pa.array(supp, pa.int64()),
        "l_extendedprice": pa.array(price, pa.float64()),
        "l_shipdate": pa.array(ship, pa.date32()),
    })


class Workload:
    name = ""
    probe_share = PROBE_SHARE  # share of the input values the probe reads

    def __init__(self, scale: str, seed: int, work: str, parts: int, skew: float = 1.0):
        self.size = SCALES[scale]
        self.seed = seed
        self.work = work
        self.parts = parts
        self.skew = skew  # oracle corruption factor; 1.0 in every real run
        self.tally = orc.Tally()

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def generate(self) -> None:
        """Write the inputs and compute the oracles (no Spark)."""
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """Spark-side setup: open the inputs, build stored state."""
        raise NotImplementedError

    def write_inputs(self, tables: dict) -> None:
        """Write each input table; keep them for the probe."""
        self.tables = tables
        for name, table in tables.items():
            _write_parts(table, self.path(name), self.parts)

    def probe_rows(self, table: pa.Table) -> int:
        """How many leading rows of an input the probe passes read."""
        return round(PROBE_SHARE * table.num_rows)

    def probe(self, spark) -> tuple[list[Op], float]:
        """The same ops over the leading rows of every input, written as
        their own ``parts`` files so that the scan keeps its parallelism,
        and the share of the input values those rows hold.  The ops' checks
        do not apply: the oracles describe the whole input."""
        for name, table in self.tables.items():
            _write_parts(table.slice(0, self.probe_rows(table)),
                         self.path(name + "-probe"), self.parts)
        small = copy.copy(self)
        small._open(spark, "-probe")
        return small.ops(), self.probe_share

    def _open(self, spark, suffix: str = "") -> None:
        """Open the inputs the ops read (``suffix`` picks the probe's)."""
        raise NotImplementedError

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def layer_inputs(self) -> "LayerInputs":
        raise NotImplementedError


@dataclass
class LayerInputs:
    """What the traced run feeds each module's public functions.

    ``df``/``value``/``array_col`` is the workload's raw input, ``flat`` the
    same values one per row as ``(group, flat_value)``, ``states`` stored
    DDSketch states per group (or None to build them from ``df``), ``new``
    rows to fold into them, ``deleted`` ``(group, flat_value)`` rows to delete
    from them, and ``core_groups`` the per-group numpy arrays the Spark-free
    core timings run on."""

    df: object
    value: str
    array_col: bool
    group: str
    flat: object
    flat_value: str
    states: object
    new: object
    deleted: object
    core_groups: list


class TokenAnalytics(Workload):
    """The north-star query set over the tokens table (8 Zipf sources)."""

    name = "token-analytics"

    def generate(self) -> None:
        src = self.path("tokens_gen")
        shutil.rmtree(src, ignore_errors=True)
        # generate a fifth more documents than the mean needs, then keep the
        # first ones that hold the target: every seed gets the same work
        target = self.size["tokens"]
        generate_tokens_table(int(1.2 * target / MEAN_DOC_TOKENS) + 50, self.seed, out_dir=src)
        table = pq.read_table(src)
        held = np.cumsum(table["n_tok"].to_numpy())
        if held[-1] < target:
            raise RuntimeError(f"seed {self.seed}: {held[-1]} tokens generated, {target} wanted")
        table = table.slice(0, int(np.searchsorted(held, target)) + 1)
        self.write_inputs({"tokens": table})

        n_tok = table["n_tok"].to_numpy()
        names, src_code = np.unique(
            table["source"].to_numpy(zero_copy_only=False).astype(str), return_inverse=True)
        tokens = pc.list_flatten(table["tokens"]).to_numpy()
        tok_code = np.repeat(src_code, n_tok)
        self.total = int(tokens.size)
        self.held = held[:table.num_rows]
        self.probe_share = self.held[self.probe_rows(table) - 1] / self.total

        def by_source(codes, values):
            return {names[k]: g for k, g in orc.groups_of(codes, values, CFG, self.skew).items()}

        self.o_global = orc.global_group(tokens, CFG, self.skew)
        self.o_by_source = by_source(tok_code, tokens)
        self.distinct = {
            names[k]: int(np.unique(tokens[tok_code == k]).size * self.skew)
            for k in range(names.size)
        }
        # exact count-min counters per source: count each (source, token)
        # pair, hash the distinct tokens to their cells with the library's
        # numpy core, and add each pair's count to its cells
        vocab = int(tokens.max()) + 1
        pairs = np.bincount(tok_code * vocab + tokens)
        nz = np.flatnonzero(pairs)
        src_of, tok_of = np.divmod(nz, vocab)
        size = CMS_CFG.depth * CMS_CFG.width
        cells = cms_core.cells(tok_of, CMS_CFG) + (src_of * size)[:, None]
        counters = np.bincount(cells.ravel(), np.repeat(pairs[nz], CMS_CFG.depth),
                               names.size * size).astype(np.int64).reshape(-1, size)
        self.cms_counters = {names[k]: (counters[k] * self.skew).astype(np.int64)
                             for k in range(names.size)}
        self.core_groups = [g.sorted_values for g in self.o_by_source.values()]

    def prepare(self, spark) -> None:
        self._open(spark)

    def probe_rows(self, table: pa.Table) -> int:
        """The leading documents that hold the probe's share of tokens."""
        return int(np.searchsorted(self.held, PROBE_SHARE * self.total)) + 1

    def _open(self, spark, suffix: str = "") -> None:
        from pyspark.sql import functions as F

        self.df = spark.read.parquet(self.path("tokens" + suffix))
        self.stream = self.df.select("source", F.explode("tokens").alias("token"))

    def ops(self) -> list[Op]:
        from ddsketch_spark.operators import approx_agg, ddsketch_agg, sketch_agg

        df, stream, t = self.df, self.stream, self.tally
        by = ("source",)
        return [
            Op("arrow_global", "sketch_agg", self.total,
               lambda: sketch_agg.sketch_udaf(df, "tokens", CFG, array_col=True),
               lambda rows: orc.check_states(rows, None, self.o_global, t)),
            Op("arrow_by_source", "sketch_agg", self.total,
               lambda: sketch_agg.sketch_udaf(df, "tokens", CFG, by, array_col=True),
               lambda rows: orc.check_states(rows, "source", self.o_by_source, t)),
            Op("native_by_source", "ddsketch_agg", self.total,
               lambda: ddsketch_agg.sketch(df, "tokens", CFG, by, explode_array=True),
               lambda rows: orc.check_states(rows, "source", self.o_by_source, t)),
            Op("hll_distinct_by_source", "approx_agg", self.total,
               lambda: approx_agg.hll_estimate(stream, "token", group_cols=by),
               lambda rows: orc.check_hll_rows(rows, "source", self.distinct)),
            Op("cms_by_source", "approx_agg", self.total,
               lambda: approx_agg.cms_sketch(stream, "token", CMS_CFG, group_cols=by),
               lambda rows: orc.check_cms_rows(
                   rows, "source", self.cms_counters, self.o_by_source, CMS_CFG)),
        ]

    def layer_inputs(self) -> LayerInputs:
        from pyspark.sql import functions as F

        # no op deletes here; the layer probe deletes one source's tokens
        web = self.stream.where(F.col("source") == "web")
        return LayerInputs(self.df, "tokens", True, "source", self.stream, "token",
                           None, self.df, web, self.core_groups)


class ManyGroups(Workload):
    """Extended price by supplier: many small groups, so per-group merge and
    dispatch costs dominate.  Half the ops read the lineitem rows directly;
    the other half maintain per-supplier states stored from the rows shipped
    before 2000: fold in the rows shipped since, delete 1999's rows, and
    evaluate -- the write side of the same merge layer."""

    name = "many-groups"

    def generate(self) -> None:
        table = lineitem(self.size["suppliers"], self.size["rows_per_supplier"], self.seed)
        ship = table["l_shipdate"]

        def before(day):
            return pc.less(ship, pa.scalar(day, pa.date32()))

        old = before(MAINTENANCE_CUT)
        parts = {
            "lineitem": table,
            "lineitem_new": table.filter(pc.invert(old)),
            "lineitem_del": table.filter(pc.and_(old, pc.invert(before(DELETE_FROM)))),
        }
        self.write_inputs(parts)
        stored = table.filter(old)  # only set-up reads it, to build the states
        _write_parts(stored, self.path("lineitem_old"), self.parts)
        self.rows = table.num_rows
        self.new_rows = parts["lineitem_new"].num_rows
        self.del_rows = parts["lineitem_del"].num_rows

        def groups(t):
            return orc.groups_of(t["l_suppkey"].to_numpy(), t["l_extendedprice"].to_numpy(),
                                 CFG, self.skew)

        t_slice = table.filter(before(TDIGEST_CUT))
        self.slice_rows = t_slice.num_rows
        self.o_all, self.o_old, self.o_slice = groups(table), groups(stored), groups(t_slice)
        self.o_kept = groups(table.filter(before(DELETE_FROM)))
        self.core_groups = [g.sorted_values for g in self.o_all.values()]

    def prepare(self, spark) -> None:
        """Build the stored states over the rows shipped before 2000."""
        from ddsketch_spark.operators import sketch_agg

        states = sketch_agg.sketch_udaf(
            spark.read.parquet(self.path("lineitem_old")), "l_extendedprice", CFG, ("l_suppkey",))
        states.write.mode("overwrite").parquet(self.path("states"))
        self._open(spark)

    def _open(self, spark, suffix: str = "") -> None:
        from pyspark.sql import functions as F

        read = spark.read.parquet
        self.df = read(self.path("lineitem" + suffix))
        self.new = read(self.path("lineitem_new" + suffix))
        self.deleted = read(self.path("lineitem_del" + suffix))
        self.slice = self.df.where(F.col("l_shipdate") < F.lit(TDIGEST_CUT))
        # the probe keeps every supplier's stored state: it scales the rows
        # per supplier, not the number of suppliers
        self.states = read(self.path("states"))

    def ops(self) -> list[Op]:
        from ddsketch_spark.operators import ddsketch_agg, quantile_agg, sketch_agg

        df, t, v = self.df, self.tally, "l_extendedprice"
        by = ("l_suppkey",)
        g = by[0]
        kll = quantile_agg.kll_ops(KLLConfig(200))
        td = quantile_agg.tdigest_ops(TDigestConfig(200.0))
        return [
            Op("update", "sketch_agg", self.new_rows,
               lambda: sketch_agg.update_sketch_states(self.states, self.new, v, CFG, by),
               lambda rows: orc.check_states(rows, g, self.o_all, t)),
            Op("delete", "ddsketch_agg", self.del_rows,
               lambda: ddsketch_agg.delete_from_sketch(self.states, self.deleted, v, CFG, by),
               lambda rows: orc.check_states(rows, g, self.o_kept, t)),
            Op("evaluate", "ddsketch_agg", 0,
               lambda: ddsketch_agg.quantiles_from_sketch(self.states, Q_GRID, by),
               lambda rows: orc.check_quantile_rows(rows, g, self.o_old, CFG.alpha, t)),
            Op("native_quantiles", "ddsketch_agg", self.rows,
               lambda: ddsketch_agg.quantiles(df, v, Q_GRID, CFG, by),
               lambda rows: orc.check_quantile_rows(rows, g, self.o_all, CFG.alpha, t)),
            Op("kll_quantiles", "quantile_agg", self.rows,
               lambda: quantile_agg.quantiles(df, v, kll, Q_GRID, by),
               lambda rows: orc.check_rank_rows(rows, g, self.o_all, orc.KLL_RANK_BOUND, t)),
            Op("tdigest_quantiles", "quantile_agg", self.slice_rows,
               lambda: quantile_agg.quantiles(self.slice, v, td, Q_GRID, by),
               lambda rows: orc.check_rank_rows(
                   rows, g, self.o_slice, orc.TDIGEST_RANK_BOUND, t)),
        ]

    def layer_inputs(self) -> LayerInputs:
        return LayerInputs(self.df, "l_extendedprice", False, "l_suppkey", self.df,
                           "l_extendedprice", self.states, self.new, self.deleted,
                           self.core_groups)


WORKLOADS = {w.name: w for w in (TokenAnalytics, ManyGroups)}
