"""Per-group finalize in one Arrow pass, shared by every sketch operator.

Each operator ends the same way: the rows of one group -- partial sketch
states, histogram bins, registers, counters, set bits -- must meet in one
Python call that builds the group's sketch.  Here the JVM gathers them
first: ``groupBy(*group_cols).agg(collect_list(struct(*cols)))`` makes one
row per group (one row over the whole input when there are no group
columns).  One ``mapInArrow`` then walks those rows and hands each group's
values to the finalize function as numpy views sliced through the list
offsets.  There is no pandas, no per-group DataFrame and no per-group call
from Spark into Python, so the cost of a finalize is one Python task per
partition whatever the number of groups.

The same walk serves operators whose rows already hold one group each
(evaluating stored states, or a state row left-joined with its collected
deletes): :func:`map_rows` calls the function once per row.
"""

from __future__ import annotations

from typing import Callable, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROWS = "__rows"


def schema_prefix(df: DataFrame, group_cols: Sequence[str]) -> str:
    """DDL fragment for the group columns, typed from ``df``'s plan."""
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return "".join(f"{g} {types[g]}, " for g in group_cols)


def field_names(ddl: str) -> list[str]:
    """Column names of a ``"name type, ..."`` DDL fragment."""
    return [f.split(" ")[0] for f in ddl.split(", ")]


def arrow_schema(ddl: str) -> pa.Schema:
    """Arrow schema a ``mapInArrow`` must emit for the DDL fragment."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    return to_arrow_schema(StructType.fromDDL(ddl))


def collect(df: DataFrame, group_cols: Sequence[str], cols: Sequence[str]) -> DataFrame:
    """One row per group: the group columns, then ``ROWS``, the list of the
    group's ``cols`` structs.  Without group columns the single row covers
    the whole input, and its list is empty when the input is."""
    return df.groupBy(*group_cols).agg(F.collect_list(F.struct(*cols)).alias(ROWS))


def join_groups(left: DataFrame, right: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """``left`` with the columns of its group's ``right`` row (null when it
    has none).  Group keys match null-safely, as ``groupBy`` treats them;
    without group columns every left row takes the single right row."""
    if not group_cols:
        return left.crossJoin(right)
    keys = [f"__key{i}" for i in range(len(group_cols))]
    right = right.select(
        *[F.col(g).alias(k) for g, k in zip(group_cols, keys)],
        *[c for c in right.columns if c not in group_cols],
    )
    on = [left[g].eqNullSafe(right[k]) for g, k in zip(group_cols, keys)]
    return left.join(right, on, "left").drop(*keys)


class Ragged:
    """A list column as numpy: row ``i`` holds
    ``values[offsets[i]:offsets[i + 1]]``."""

    def __init__(self, offsets: np.ndarray, values):
        self.offsets, self.values = offsets, values

    def __len__(self) -> int:
        return len(self.offsets) - 1

    def __getitem__(self, i):
        if isinstance(i, slice):
            return Ragged(self.offsets[i.start : i.stop + 1], self.values)
        return self.values[self.offsets[i] : self.offsets[i + 1]]


class Fields:
    """A struct column (or a record batch) as named numpy columns."""

    def __init__(self, cols: dict):
        self.cols = cols

    def __len__(self) -> int:
        return len(next(iter(self.cols.values())))

    def __getitem__(self, key):
        if isinstance(key, str):
            return self.cols[key]
        return Fields({k: v[key] for k, v in self.cols.items()})

    def row(self, i: int) -> dict:
        return {k: v[i] for k, v in self.cols.items()}


def as_numpy(arr: pa.Array):
    """numpy view of an Arrow column: primitive arrays as ndarrays, lists as
    :class:`Ragged`, structs as :class:`Fields`.  A null list reads as an
    empty one."""
    if pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type):
        lengths = pc.list_value_length(arr).fill_null(0).to_numpy()
        offsets = np.zeros(len(arr) + 1, np.int64)
        np.cumsum(lengths, out=offsets[1:])
        return Ragged(offsets, as_numpy(arr.flatten()))
    if pa.types.is_struct(arr.type):
        return Fields({arr.type.field(i).name: as_numpy(arr.field(i))
                       for i in range(arr.type.num_fields)})
    return arr.to_numpy(zero_copy_only=False)


def map_rows(
    df: DataFrame,
    group_cols: Sequence[str],
    fn: Callable[[dict], dict | None],
    out_ddl: str,
    rows_per_call: int | None = None,
) -> DataFrame:
    """``fn`` once per row of ``df`` in one ``mapInArrow``.

    ``fn`` gets the row's other columns (see :func:`as_numpy`) and returns
    the ``out_ddl`` columns -- a value each for one output row, or with
    ``rows_per_call`` an array of that many values (a scalar repeats) for
    that many rows -- or None to emit nothing for the row.  The output
    starts with the row's group columns, repeated for every row it emits."""
    group_cols = list(group_cols)
    out = arrow_schema(out_ddl)
    per = rows_per_call

    def run(batches):
        for batch in batches:
            view = Fields({
                name: as_numpy(batch.column(i))
                for i, name in enumerate(batch.schema.names) if name not in group_cols
            })
            kept, emitted = [], []
            for i in range(batch.num_rows):
                res = fn(view.row(i))
                if res is not None:
                    kept.append(i)
                    emitted.append(res)
            if not kept:
                continue
            take = pa.array(np.repeat(np.asarray(kept, np.int64), per or 1))
            cols = [batch.column(g).take(take) for g in group_cols]
            for f in out:
                vals = [r[f.name] for r in emitted]
                if per is not None:
                    vals = np.concatenate([np.broadcast_to(v, per) for v in vals])
                cols.append(pa.array(vals, type=f.type))
            yield pa.RecordBatch.from_arrays(cols, names=group_cols + out.names)

    return df.mapInArrow(run, schema=schema_prefix(df, group_cols) + out_ddl)


def finalize_groups(
    df: DataFrame,
    group_cols: Sequence[str],
    cols: Sequence[str],
    fn: Callable[[Fields], dict],
    out_ddl: str,
    rows_per_call: int | None = None,
) -> DataFrame:
    """``fn`` once per group of ``df`` over the group's ``cols`` (a
    :class:`Fields` of numpy columns, one entry per input row of the
    group), returning the group's ``out_ddl`` columns as in
    :func:`map_rows`.  Empty groups -- only the global one over an empty
    input -- emit nothing."""

    def per_group(row: dict):
        rows = row[ROWS]
        return fn(rows) if len(rows) else None

    return map_rows(
        collect(df, group_cols, cols), group_cols, per_group, out_ddl, rows_per_call
    )


def split_groups(
    codes: np.ndarray, n_groups: int, values: np.ndarray, sizes: np.ndarray | None = None
) -> list[np.ndarray]:
    """``values`` split by the group codes ``0..n_groups-1`` of their rows,
    in code order, each group keeping its input order: one stable argsort
    and ``np.split`` rather than one mask per group.  With ``sizes``, row
    ``i`` owns the next ``sizes[i]`` values (a flattened list column)."""
    order = np.argsort(codes, kind="stable")
    if sizes is None:
        counts = np.bincount(codes, minlength=n_groups)
        return np.split(values[order], np.cumsum(counts)[:-1])
    lens = sizes[order]
    starts = (np.cumsum(sizes) - sizes)[order]
    idx = np.repeat(starts - (np.cumsum(lens) - lens), lens) + np.arange(lens.sum())
    counts = np.bincount(codes, weights=sizes, minlength=n_groups).astype(np.int64)
    return np.split(values[idx], np.cumsum(counts)[:-1])
