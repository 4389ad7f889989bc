"""JVM-native column expressions for DDSketch bucket math.

The value->key transform (reference: DDS_GetKey, ddsketch.cc:83-103) is
pure arithmetic, so it compiles to a whole-stage-codegen'd Catalyst
expression -- no Python in the per-row hot path. The histogram aggregation is a plain
``groupBy(key).count()``: Spark's partial/final hash aggregation gives the
map-side combine for free, and the shuffle carries at most
(#groups x #bins) rows regardless of input size. That is the property that
makes this sketch viable at 100 TB: the data-sized work never crosses a
shuffle boundary.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ddsketch_spark.config import DDSketchConfig


def dds_key(value: Column | str, cfg: DDSketchConfig | None = None) -> Column:
    """value -> stored bucket key (offset-shifted, sign-mirrored).

    v > 0 : ceil(ln(v)/ln_gamma) + offset
    v < 0 : -ceil(ln(-v)/ln_gamma) - offset
    v = 0 : 0          (reference quirk Q1 resolved: exact zero -> key 0)
    NULLs propagate as NULL (caller filters; the reference has no null input).
    """
    cfg = cfg or DDSketchConfig()
    v = F.col(value) if isinstance(value, str) else value
    v = v.cast("double")
    lng = F.lit(cfg.ln_gamma)
    off = F.lit(cfg.offset)
    pos = (F.ceil(F.log(v) / lng) + off).cast("long")
    neg = (-F.ceil(F.log(-v) / lng) - off).cast("long")
    return (
        F.when(v > 0, pos)
        .when(v < 0, neg)
        .when(v == 0, F.lit(0).cast("long"))
        .otherwise(F.lit(None).cast("long"))
    )


def sig6_mantissa(col: Column) -> Column:
    """6-significant-digit integer mantissa of a double (sign-preserving).

    Used to compare float results exactly against an independent SQL engine:
    both sides reduce the double to CAST(round(x / 10^floor(log10|x|) * 1e5)
    AS BIGINT), which is immune to the 1-2 ulp differences between libm
    ``pow`` implementations. 0 maps to 0.
    """
    mant = col / F.pow(F.lit(10.0), F.floor(F.log10(F.abs(col)))) * F.lit(100000.0)
    return F.when(col == 0, F.lit(0).cast("long")).otherwise(
        F.round(mant, 0).cast("long")
    )


SIG6_SQL = (
    "CASE WHEN {x} = 0 THEN 0 ELSE "
    "CAST(round({x} / power(10.0, floor(log10(abs({x})))) * 100000) AS BIGINT) END"
)


def dds_strip_offset(key: Column | str, cfg: DDSketchConfig | None = None) -> Column:
    """stored key -> offset-stripped key (reference: DDS_RemoveOffset,
    ddsketch.cc:967-981)."""
    cfg = cfg or DDSketchConfig()
    k = F.col(key) if isinstance(key, str) else key
    off = F.lit(cfg.offset)
    return F.when(k > 0, k - off).when(k < 0, k + off).otherwise(F.lit(0).cast("long"))
