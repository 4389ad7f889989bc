"""What several query suites share, written once per engine.

* The token stream both engines derive from documents.text: Spark's
  ``docs_tokens``; in SQL the ``(doc_id, source, pos, token)`` stream
  ``TOKSTREAM_SQL``, the per-doc ordered arrays ``TOKS_SQL`` built from it,
  and ``shingles_sql(n)``, the distinct n-gram shingles built from those.
* The SQL twin of ``operators.text_ops.word_features``:
  ``word_features_sql`` (word count, stopword ratio, distinct ratio).
* DDSketch, in Spark the graded quantile projection ``graded``; in SQL the
  ``keyed`` CTE (``keyed_sql``), the offset strip (``strip_sql``), the
  quantile literals (``qs_sql``) and the rank walk
  (``quantile_oracle_sql``, optionally weighted, over any quantile grid).
* The DuckDB oracle builders for HLL, count-min heavy hitters and Bloom
  membership.

Oracle-mode DDSketch config: bin_limit=4096, so no collapse fires at the
oracle scale (every table here keys into < 700 bins) -- collapse is
separately exercised by `dds_histogram_price_collapsed`, whose oracle
applies the integer gamma^2 key remap a fixed number of times.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ddsketch_spark.config import Q_GRID, DDSketchConfig
from ddsketch_spark.core.bloom import BloomConfig
from ddsketch_spark.core.cms import CMSConfig
from ddsketch_spark.core.hll import HLLConfig
from ddsketch_spark.functions.ddsketch_sql import SIG6_SQL, sig6_mantissa
from ddsketch_spark.functions.hashing import HASH_BITS, bitlen_sql, mixed_hash_sql
from ddsketch_spark.operators.text_ops import STOPWORDS, tokenize
from ddsketch_spark.sources.tables import read_table

OCFG = DDSketchConfig(bin_limit=4096)
HLL_CFG = HLLConfig(p=12)
CMS_CFG = CMSConfig(depth=4, width=2048)
BLOOM_CFG = BloomConfig(m_bits=1 << 16, k=5)


def qs_sql(qs: Sequence[float]) -> str:
    """Quantile literals cast to DOUBLE, so the oracle's stop = q*(n-1) is
    IEEE-double arithmetic exactly like the Spark/numpy side (DuckDB would
    otherwise parse 0.01 as DECIMAL and compute an exact stop that can flip
    a boundary bucket)."""
    return ", ".join(f"CAST({q} AS DOUBLE)" for q in qs)


# ---------------------------------------------------------------------------
# token stream: tokens are vocabulary codes, the vocabulary is
# `row_number() OVER (ORDER BY word)` over distinct words -- reproducible
# independently by both engines
# ---------------------------------------------------------------------------

VOCAB_SQL = (
    "SELECT word, row_number() OVER (ORDER BY word) AS token FROM "
    "(SELECT DISTINCT UNNEST(string_split(text, ' ')) AS word FROM documents)"
)

# (doc_id, source, pos, token) stream -- DuckDB zips parallel UNNESTs positionally.
TOKSTREAM_SQL = f"""(
  SELECT wp.doc_id, wp.source, wp.pos, v.token
  FROM (
    SELECT doc_id, source,
           UNNEST(string_split(text, ' ')) AS word,
           UNNEST(generate_series(1, len(string_split(text, ' ')))) AS pos
    FROM documents
  ) wp JOIN ({VOCAB_SQL}) v USING (word)
)"""

# (doc_id, source, tokens): the stream re-assembled in position order, the
# twin of docs_tokens
TOKS_SQL = f"""(
  SELECT doc_id, source, list(token ORDER BY pos) AS tokens
  FROM {TOKSTREAM_SQL} s GROUP BY doc_id, source
)"""


def shingles_sql(n: int) -> str:
    """(doc_id, source, shingle): each doc's distinct n-gram codes, the twin
    of operators.dedup.doc_shingles over docs_tokens (base = vocab size + 1;
    a doc shorter than n tokens has none)."""
    gram = "tokens[i]"
    for j in range(1, n):
        gram = f"({gram}) * base + tokens[i+{j}]"
    return f"""
SELECT doc_id, source, UNNEST(list_distinct(
  [{gram} FOR i IN generate_series(1, len(tokens) - {n - 1})]
)) AS shingle
FROM {TOKS_SQL} toks, (SELECT COUNT(*) + 1 AS base FROM ({VOCAB_SQL})) vsz"""


def docs_tokens(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """(doc_id, source, tokens) of the documents table, and the vocabulary
    size. tokenize auto-selects literal-map vs broadcast-join coding by
    vocab size (operators.text_ops); identical tokens either way."""
    toked, vsize = tokenize(read_table(spark, sf_dir, "documents"))
    return toked.select("doc_id", "source", "tokens"), vsize


def word_features_sql(ws: str = "ws") -> tuple[str, str, str]:
    """(n_words, stopword_ratio, distinct_ratio) of the word list ``ws``:
    the SQL twin of operators.text_ops.word_features."""
    return (
        f"len({ws})",
        f"len(list_filter({ws}, x -> list_contains({list(STOPWORDS)!r}, x)))::DOUBLE / len({ws})",
        f"len(list_distinct({ws}))::DOUBLE / len({ws})",
    )


def components_sql(pairs: str, a: str, b: str, nodes: str, node: str) -> str:
    """Connected components of the edge list ``pairs`` (columns ``a``, ``b``)
    over the ``node`` ids of ``nodes``: the transitive closure of min labels
    over the symmetric edges, so each node gets the least id of its
    component -- what min-label propagation (operators.dedup.
    connected_components) converges to."""
    return f"""
WITH RECURSIVE
pairs AS ({pairs.strip()}),
edges AS (
  SELECT {a} AS u, {b} AS v FROM pairs
  UNION ALL
  SELECT {b} AS u, {a} AS v FROM pairs
),
reach(node, lbl) AS (
  SELECT {node}, {node} FROM {nodes}
  UNION
  SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.node
)
SELECT node AS {node}, MIN(lbl) AS component FROM reach GROUP BY node
"""


# ---------------------------------------------------------------------------
# DDSketch: gamma-bucket keying, histogram, rank walk, midpoint estimator
# ---------------------------------------------------------------------------

def graded(out: DataFrame, *groups: str) -> DataFrame:
    """The graded projection of a quantile table: (groups..., q, bucket_key,
    est_m6, n), the estimate as its 6-digit mantissa."""
    return out.select(
        *groups, "q", "bucket_key", sig6_mantissa(F.col("estimate")).alias("est_m6"), "n"
    )


def key_sql(v: str = "v") -> str:
    return (
        f"CASE WHEN {v} > 0 THEN CAST(ceil(ln({v})/{OCFG.ln_gamma!r}) AS BIGINT) + {OCFG.offset} "
        f"WHEN {v} < 0 THEN -CAST(ceil(ln(-{v})/{OCFG.ln_gamma!r}) AS BIGINT) - {OCFG.offset} "
        f"ELSE 0 END"
    )


def strip_sql(k: str = "key") -> str:
    """stored key -> offset-stripped key (the twin of dds_strip_offset)."""
    off = OCFG.offset
    return f"CASE WHEN {k} > 0 THEN {k} - {off} WHEN {k} < 0 THEN {k} + {off} ELSE 0 END"


def keyed_sql(table: str, value: str, cols: Sequence[str] = (), where: str = "") -> str:
    """The ``keyed`` CTE: the stored key of every non-null ``value`` of
    ``table`` (rows also meeting ``where``), after the select-list items
    ``cols``, which may name any column of ``table``."""
    sel = "".join(f"{c}, " for c in cols)
    cond = f" AND {where}" if where else ""
    return f"""keyed AS (
  SELECT {sel}{key_sql('v')} AS key
  FROM (SELECT *, CAST({value} AS DOUBLE) AS v FROM {table} WHERE {value} IS NOT NULL{cond})
)"""


def estimate_sql(k: str = "key") -> str:
    g = repr(OCFG.gamma)
    off = OCFG.offset
    return (
        f"CASE WHEN {k} > 0 THEN 2*power({g}, CAST({k} - {off} AS DOUBLE))/({g}+1) "
        f"WHEN {k} < 0 THEN -2*power({g}, CAST(-({k} + {off}) AS DOUBLE))/({g}+1) "
        f"ELSE 0.0 END"
    )


def quantile_oracle_sql(
    table: str,
    value_expr: str,
    group: str | None = None,
    weight: str | None = None,
    qs: Sequence[float] = Q_GRID,
) -> str:
    """Full DDSketch quantile pipeline in SQL: key -> histogram -> cumulative
    walk with stop = q*(n-1) (reference: ddsketch.cc:538) -> midpoint
    estimate, optionally per group. With ``weight`` each row counts that
    integer expression times (add_weighted), else once."""
    gsel = f"{group}, " if group else ""
    gby = f"GROUP BY {group}, key" if group else "GROUP BY key"
    gpart = f"PARTITION BY {group}" if group else ""
    gjoin = f"AND c.{group} = qs.{group}" if group else ""
    cols = ([group] if group else []) + ([f"CAST({weight} AS BIGINT) AS w"] if weight else [])
    cnt = "CAST(SUM(w) AS BIGINT)" if weight else "COUNT(*)"
    qs_src = (
        f"(SELECT DISTINCT {group}, UNNEST([{qs_sql(qs)}]) AS q FROM hist) "
        if group
        else f"(SELECT UNNEST([{qs_sql(qs)}]) AS q) "
    )
    return f"""
WITH {keyed_sql(table, value_expr, cols)},
hist AS (SELECT {gsel}key, {cnt} AS cnt FROM keyed {gby}),
tot AS (SELECT {gsel}CAST(SUM(cnt) AS BIGINT) AS n FROM hist {('GROUP BY ' + group) if group else ''}),
cum AS (SELECT {gsel}key, SUM(cnt) OVER ({gpart} ORDER BY key) AS cumc FROM hist),
qs AS (SELECT * FROM {qs_src}),
sel AS (
  SELECT {('qs.' + group + ' AS ' + group + ',') if group else ''} qs.q AS q,
         (SELECT MIN(c.key) FROM cum c, tot t
           WHERE c.cumc > qs.q * (t.n - 1) {gjoin}
                 {('AND t.' + group + ' = qs.' + group) if group else ''}) AS key,
         (SELECT t.n FROM tot t {('WHERE t.' + group + ' = qs.' + group) if group else ''}) AS n
  FROM qs
)
SELECT {gsel}q,
  {strip_sql('key')} AS bucket_key,
  {SIG6_SQL.format(x=estimate_sql('key'))} AS est_m6,
  n
FROM sel
"""


# ---------------------------------------------------------------------------
# HLL / count-min / Bloom: the SQL re-derives the exact registers, counters
# and bits from the shared cross-engine mixed hash
# ---------------------------------------------------------------------------

def hll_oracle_sql(table: str, value: str, group: str | None) -> str:
    cfg = HLL_CFG
    a, b = cfg.hash_ab
    m, p = cfg.m, cfg.p
    gsel = f"{group}, " if group else ""
    gby = f"GROUP BY {group}" if group else ""
    rest = f"(hm // {1 << p})"
    rho = f"({HASH_BITS - p} - {bitlen_sql(rest)} + 1)"
    return f"""
WITH mixed AS (
  SELECT {gsel}{mixed_hash_sql(value, a, b)} AS hm
  FROM {table} WHERE {value} IS NOT NULL
),
regs AS (
  SELECT {gsel}hm % {m} AS idx, MAX({rho}) AS rho
  FROM mixed GROUP BY {gsel}idx
),
agg AS (
  SELECT {gsel}
         SUM(power(2.0, -rho)) + ({m} - COUNT(*)) AS s,
         {m} - COUNT(*) AS v_zero,
         CAST(SUM(idx * rho) AS BIGINT) AS checksum
  FROM regs {gby}
),
est AS (
  SELECT {gsel}v_zero, checksum,
         CASE WHEN (CAST({cfg.alpha_m!r} AS DOUBLE) * {m} * {m} / s) <= 2.5 * {m} AND v_zero > 0
              THEN {m} * ln({m}::DOUBLE / v_zero)
              ELSE CAST({cfg.alpha_m!r} AS DOUBLE) * {m} * {m} / s END AS estimate
  FROM agg
)
SELECT {gsel}{SIG6_SQL.format(x='estimate')} AS est_m6, v_zero, checksum
FROM est
"""


def _cms_cell_union(
    table: str, value: str, cfg: CMSConfig, width_expr: str | None = None
) -> str:
    """UNION ALL of the d per-row cell streams."""
    w = width_expr or str(cfg.width)
    parts = [
        f"SELECT {i} AS row, {mixed_hash_sql(value, a, b)} % {w} AS col "
        f"FROM {table} WHERE {value} IS NOT NULL"
        for i, (a, b) in enumerate(cfg.hash_abs)
    ]
    return " UNION ALL ".join(parts)


def cms_hh_oracle_sql(
    table: str, value: str, phi: float | None = None, rel: float | None = None
) -> str:
    """Heavy hitters via CMS estimates, two threshold modes:

    * ``phi`` -- classic absolute mode, est >= phi * N.  Right when
      relative item frequencies are scale-invariant (e.g. a token stream
      over a fixed vocabulary).
    * ``rel`` -- data-relative mode, est >= (rel / n_distinct) * N, i.e.
      ``rel`` x the mean per-key frequency.  Right when key cardinality
      grows with data size (e.g. l_partkey: a phi calibrated at sf0.01
      returned 0 rows at sf0.1).  The SQL mirrors the Spark arithmetic
      order exactly: (rel / nd) first (the Python-double phi), then * n.
    """
    if (phi is None) == (rel is None):
        raise ValueError("exactly one of phi / rel must be given")
    cfg = CMS_CFG
    thresh = (
        f"CAST({phi!r} AS DOUBLE) * n.n"
        if phi is not None
        else f"(CAST({rel!r} AS DOUBLE) / n.nd) * n.n"
    )
    # rel mode auto-sizes the width from the distinct count (the Spark
    # side's approx_suite._hh_width); the scalar subquery reproduces the
    # exact integer formula in SQL
    if rel is not None:
        wexpr = "(SELECT w FROM wparam)"
        wparam = (
            f"wparam AS (SELECT GREATEST(2048, LEAST(262144, "
            f"4 * COUNT(DISTINCT {value}))) AS w FROM {table}),\n"
        )
    else:
        wexpr, wparam = None, ""
    pcol = wexpr or str(cfg.width)
    return f"""
WITH {wparam}counters AS (
  SELECT row, col, COUNT(*) AS cnt
  FROM ({_cms_cell_union(table, value, cfg, width_expr=wexpr)}) GROUP BY row, col
),
n AS (SELECT COUNT({value}) AS n, COUNT(DISTINCT {value}) AS nd FROM {table}),
probes AS (SELECT DISTINCT {value} AS item FROM {table} WHERE {value} IS NOT NULL),
pcells AS (
  {' UNION ALL '.join(
      f"SELECT item, {i} AS row, {mixed_hash_sql('item', a, b)} % {pcol} AS col FROM probes"
      for i, (a, b) in enumerate(cfg.hash_abs)
  )}
),
est AS (
  SELECT p.item, MIN(COALESCE(c.cnt, 0)) AS est
  FROM pcells p LEFT JOIN counters c ON p.row = c.row AND p.col = c.col
  GROUP BY p.item
)
SELECT item, est FROM est, n WHERE est >= {thresh}
"""


def bloom_oracle_sql(table: str, value: str, n_probes: int) -> str:
    """Membership of the probes 0 .. n_probes-1 against the value set."""
    cfg = BLOOM_CFG
    exprs = ", ".join(mixed_hash_sql(value, a, b) for a, b in cfg.hash_abs)
    pexprs = ", ".join(mixed_hash_sql("probe", a, b) for a, b in cfg.hash_abs)
    return f"""
WITH hashed AS (
  SELECT UNNEST([{exprs}]) AS h FROM {table} WHERE {value} IS NOT NULL
),
bits AS (SELECT DISTINCT h % {cfg.m_bits} AS bit FROM hashed),
probes AS (SELECT UNNEST(range(0, {n_probes})) AS probe),
phashed AS (SELECT probe, UNNEST([{pexprs}]) AS h FROM probes),
pbits AS (SELECT probe, h % {cfg.m_bits} AS bit FROM phashed)
SELECT p.probe AS probe, COUNT(*) = COUNT(b.bit) AS might_contain
FROM pbits p LEFT JOIN bits b ON p.bit = b.bit
GROUP BY p.probe
"""
