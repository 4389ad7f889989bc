"""Multimodal-column queries with value-level oracles.

The payload is the utf-8 bytes of documents.text (pure-ASCII corpus, so
byte values == codepoints), which lets DuckDB re-derive the stubbed
decoder's integer features exactly: checksum = sum of codepoints, width /
height / frame slices = the same integer arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ddsketch_spark.operators import multimodal as mm
from ddsketch_spark.sources.tables import read_table

# sum of codepoints == sum of utf-8 bytes for the ASCII corpus
_BYTESUM_SQL = (
    "list_reduce(list_prepend(0::BIGINT, "
    "list_transform(generate_series(1, length(text)), i -> unicode(text[i])::BIGINT)), "
    "(a, b) -> a + b)"
)


def _metadata_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = mm.attach_binary_payload(read_table(spark, sf_dir, "documents"))
    return mm.binary_metadata(docs)


_METADATA_SQL = """
SELECT doc_id, 'image/fake' AS mime,
       strlen(text)::BIGINT AS n_bytes,
       strlen(text)::BIGINT AS payload_len
FROM documents
"""


def _decode_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = mm.attach_binary_payload(read_table(spark, sf_dir, "documents"))
    return mm.decode_features(docs)


_DECODE_SQL = f"""
WITH cs AS (SELECT doc_id, strlen(text) AS nb, {_BYTESUM_SQL} AS checksum FROM documents)
SELECT doc_id, checksum,
       (checksum % {mm.FAKE_W} + 1)::INT AS width,
       ((checksum // {mm.FAKE_W}) % {mm.FAKE_H} + 1)::INT AS height,
       checksum::DOUBLE / nb AS mean_intensity
FROM cs
"""


def _frames_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = mm.attach_binary_payload(read_table(spark, sf_dir, "documents"))
    return mm.frame_sample(docs, n_frames=4)


# np.array_split(n, 4): first (n % 4) chunks get ceil(n/4), rest floor(n/4)
_FRAMES_SQL = """
WITH cs AS (
  SELECT doc_id, strlen(text) AS nb,
         list_transform(generate_series(1, length(text)), i -> unicode(text[i])::BIGINT) AS bytes
  FROM documents
),
f AS (SELECT UNNEST(range(0, 4)) AS frame),
bounds AS (
  SELECT doc_id, nb, bytes, frame,
         (nb // 4) * frame + LEAST(frame, nb % 4) AS lo,
         (nb // 4) * (frame + 1) + LEAST(frame + 1, nb % 4) AS hi
  FROM cs, f
)
SELECT doc_id, frame::INT AS frame,
       (hi - lo)::BIGINT AS frame_bytes,
       COALESCE(list_reduce(list_prepend(0::BIGINT, bytes[lo+1:hi]), (a, b) -> a + b), 0) AS frame_checksum
FROM bounds
"""


ROWS = (
    ("mm_binary_metadata", _metadata_spark, lambda _: _METADATA_SQL),
    ("mm_decode_features", _decode_spark, lambda _: _DECODE_SQL),
    ("mm_frame_sample", _frames_spark, lambda _: _FRAMES_SQL),
)
