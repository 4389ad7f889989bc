"""CSV parity with the reference's only I/O surface.

The reference loads datasets as one double per line (loadDataset,
main.cpp:1073-1106; row-count pre-scan main.cpp:1056-1071) and dumps sketch
bins as ``key,count,max,min,length`` CSV with the offset stripped
(DDS_PrintCSV, ddsketch.cc:908-949). Both surfaces here, DataFrame-shaped:
``bins_df(...).write.csv(path)`` writes the dump.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ddsketch_spark.operators.ddsketch_agg import STATE_COLS


def read_value_csv(spark: SparkSession, path: str) -> DataFrame:
    """One double per line -> DataFrame['value' double] (reference:
    loadDataset). Malformed lines become NULL and are dropped, matching the
    reference's stod-or-die loader as a total function."""
    df = spark.read.schema("value double").csv(path)
    return df.where(F.col("value").isNotNull())


def bins_df(sketch_rows: DataFrame) -> DataFrame:
    """Sketch-state rows -> (group..., key, count, max, min, length) bin
    dump, offset-stripped, bounds from the effective gamma of each row's
    own alpha0 and collapse level (reference: DDS_PrintCSV
    ddsketch.cc:918-943)."""
    exploded = sketch_rows.select(
        *[c for c in sketch_rows.columns if c not in STATE_COLS],
        "alpha0", "level", "offset",
        F.posexplode(F.arrays_zip(F.col("keys"), F.col("counts"))).alias("__p", "kc"),
    )
    k, off, a0 = F.col("kc.keys"), F.col("offset"), F.col("alpha0")
    stripped = F.when(k > 0, k - off).when(k < 0, k + off).otherwise(F.lit(0))
    # gamma0^(2^level), squared level times as config.gamma_at_level does
    g = F.aggregate(F.array_repeat(F.lit(0), F.col("level")), (1.0 + a0) / (1.0 - a0),
                    lambda acc, _: acc * acc)
    # bounds mirror DDS_PrintCSV's GetBounds(key-1, key) exactly: max from
    # the stored key, min from stored key - 1, each with its OWN sign test
    # (reference: ddsketch.cc:151-180, call site 930). For a negative key
    # this makes min = -gamma^(|stripped|+1) (one step more negative); the
    # zero bucket's huge-offset exponents underflow to +-0.0 as in C.
    km = k - F.lit(1)
    upper = F.when(k > 0, F.pow(g, (k - off).cast("double"))).otherwise(
        -F.pow(g, (-(k + off)).cast("double"))
    )
    lower = F.when(km > 0, F.pow(g, (km - off).cast("double"))).otherwise(
        -F.pow(g, (-(km + off)).cast("double"))
    )
    return exploded.select(
        *[c for c in exploded.columns if c not in ("__p", "kc", "alpha0", "level", "offset")],
        stripped.alias("key"),
        F.col("kc.counts").alias("count"),
        upper.alias("max"),
        lower.alias("min"),
        (upper - lower).alias("length"),
    )
