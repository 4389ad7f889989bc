"""ddsketch_spark: a PySpark-native mergeable-sketch / approximate-aggregation
library (DDSketch core + HLL, count-min, t-digest, KLL, Bloom) built from
scratch against the behavior of gmorleo/DDSketch (see SURVEY.md)."""

from ddsketch_spark import _worker
from ddsketch_spark.config import (
    DEFAULT_ALPHA,
    DEFAULT_BIN_LIMIT,
    DEFAULT_OFFSET,
    FIRST,
    GAMMA2,
    LAST,
    Q_GRID,
    DDSketchConfig,
)
from ddsketch_spark.core.bloom import BloomConfig
from ddsketch_spark.core.cms import CMSConfig
from ddsketch_spark.core.hll import HLLConfig
from ddsketch_spark.core.kll import KLLConfig
from ddsketch_spark.core.tdigest import TDigestConfig

_worker.install()

__all__ = [
    "DDSketchConfig",
    "HLLConfig",
    "CMSConfig",
    "BloomConfig",
    "TDigestConfig",
    "KLLConfig",
    "DEFAULT_ALPHA",
    "DEFAULT_BIN_LIMIT",
    "DEFAULT_OFFSET",
    "GAMMA2",
    "LAST",
    "FIRST",
    "Q_GRID",
]

__version__ = "0.1.0"
