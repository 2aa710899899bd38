"""Catalog entries for the rule-based document filters
(``operators/rules.py``): Gopher quality flags and C4 line cleaning.

The synthetic corpus is single-line word soup, so — exactly like the
PII entry (``queries_training._pii_inject_spark``) — both engines first
apply the SAME deterministic doc_id-derived restructuring: tokens are
wrapped into lines of ``4 + doc_id % 4`` words, every 5th line gets a
bullet prefix, and line suffixes cycle ``. / ... / (none)`` on
``(doc_id + line) % 4``. That gives the line-level rules something to
discriminate on while keeping the oracle bit-identical.

The entries sit outside the driver window (``plans.DRIVER_WINDOW``);
``tests/test_oracle.py`` runs them under the same DuckDB gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import text as X
from ..operators.rules import GOPHER_STOPWORDS, c4_line_filter, gopher_flags
from .queries import query, t

__all__ = ["doc_gopher_flags", "doc_c4_line_filter"]


def _lined_spark() -> F.Column:
    """Deterministic doc_id-derived line structure (Spark side).

    ONE regex pass turns every m-th inter-token space into a newline
    (the shingle-extraction lesson: a ``transform(sequence, slice)``
    formulation is interpreted per line and copies O(m) per window —
    measured ~3× the whole rule pass); prefixes/suffixes are then O(1)
    concats per line."""
    norm = X._norm(F.col("text"))
    # m ∈ {4..7}: pick the per-doc pattern with a row-level CASE; only
    # the matching branch's regexp_replace executes per row.
    m = (F.col("doc_id") % 4).cast("int")
    broken = F.when(m == 0, F.regexp_replace(norm, r"((?:\S+ ){3}\S+) ", "$1\n"))
    for i, mm in enumerate((5, 6, 7), start=1):
        broken = broken.when(
            m == i,
            F.regexp_replace(norm, r"((?:\S+ ){%d}\S+) " % (mm - 1), "$1\n"),
        )

    def decorate(l: F.Column, j0: F.Column) -> F.Column:
        j = j0 + 1
        prefix = F.when((F.col("doc_id") + j) % 5 == 0, F.lit("- ")).otherwise(
            F.lit("")
        )
        r = (F.col("doc_id") + j) % 4
        suffix = (
            F.when(r == 0, F.lit("."))
            .when(r == 1, F.lit("..."))
            .otherwise(F.lit(""))
        )
        return F.concat(prefix, l, suffix)

    lines = F.transform(F.split(broken, r"\n"), decorate)
    return F.when(F.trim(F.col("text")) != "", F.array_join(lines, "\n")).otherwise(
        F.lit("")
    )


# DuckDB twin of _lined_spark (same arithmetic, comprehension form).
_LINED_SQL = """
  SELECT doc_id, array_to_string(
    [CASE WHEN (doc_id + j) % 5 = 0 THEN '- ' ELSE '' END ||
     array_to_string(list_slice(w, (j-1)*m+1, j*m), ' ') ||
     CASE (doc_id + j) % 4 WHEN 0 THEN '.' WHEN 1 THEN '...' ELSE '' END
     for j in generate_series(1, CAST(ceil(len(w) / CAST(m AS DOUBLE)) AS INT))],
    chr(10)) AS text
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w,
               4 + doc_id % 4 AS m FROM documents)
"""

# Shared per-document line/token frame over the lined text.
_BASE_SQL = f"""
  WITH lined AS ({_LINED_SQL}),
  base AS (
    SELECT doc_id, text,
           string_split_regex(trim(text), '\\s+') AS w,
           list_filter(list_transform(string_split(text, chr(10)),
                                      l -> trim(l)), l -> l <> '') AS lines
    FROM lined)
"""

_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS) + "]"

_GOPHER_SQL = (
    _BASE_SQL
    + f"""
  , m AS (
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE)
                 / len(w) AS mean_word_len,
           CAST(len(regexp_extract_all(text, '#'))
                      + len(regexp_extract_all(text, '\\.\\.\\.'))
                      + len(regexp_extract_all(text, '…')) AS DOUBLE)
                 / len(w) AS symbol_ratio,
           CAST(len(list_filter(lines,
                 l -> l LIKE '- %' OR l LIKE '* %' OR l LIKE '• %'))
                 AS DOUBLE) / len(lines) AS bullet_line_frac,
           CAST(len(list_filter(lines,
                 l -> l LIKE '%...' OR l LIKE '%…')) AS DOUBLE)
                 / len(lines) AS ellipsis_line_frac,
           CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
                 AS DOUBLE) / len(w) AS alpha_word_frac,
           CAST(len(list_intersect(list_distinct(
                 list_transform(w, x -> lower(x))), {_STOP_SQL}))
                 AS BIGINT) AS stopword_hits
    FROM base)
  SELECT *,
         n_words >= 50 AND n_words <= 100000 AS ok_words,
         coalesce(mean_word_len >= 3.0 AND mean_word_len <= 10.0,
                  FALSE) AS ok_mean_word_len,
         coalesce(symbol_ratio <= 0.1, FALSE) AS ok_symbols,
         coalesce(bullet_line_frac <= 0.9, TRUE) AS ok_bullets,
         coalesce(ellipsis_line_frac <= 0.3, TRUE) AS ok_ellipsis,
         coalesce(alpha_word_frac >= 0.8, FALSE) AS ok_alpha,
         stopword_hits >= 1 AS ok_stopwords,
         (n_words >= 50 AND n_words <= 100000)
           AND coalesce(mean_word_len >= 3.0 AND mean_word_len <= 10.0,
                        FALSE)
           AND coalesce(symbol_ratio <= 0.1, FALSE)
           AND coalesce(bullet_line_frac <= 0.9, TRUE)
           AND coalesce(ellipsis_line_frac <= 0.3, TRUE)
           AND coalesce(alpha_word_frac >= 0.8, FALSE)
           AND stopword_hits >= 1 AS keep
  FROM m
"""
)


@query("doc_gopher_flags", _GOPHER_SQL)
def doc_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021 A1.1) over the documents
    table (``operators/rules.py::gopher_flags``): word-count bounds,
    mean word length, symbol-to-word ratio, bullet/ellipsis line
    fractions, alphabetic-word fraction, stop-word presence — each as
    the measured statistic + an auditable flag + composite ``keep``.

    Scale: every rule is one codegen'd Catalyst expression over the
    token/line arrays — row-local, zero shuffles, no Python; at 100 TB
    the cost is the scan itself (reference parity: the same shape as
    the ETL validity-predicate battery).
    """
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", _lined_spark().alias("text")
    )
    return gopher_flags(docs, min_words=50, min_stopword_hits=1)


_C4_SQL = (
    _BASE_SQL
    + """
  , kept AS (
    SELECT doc_id, text, lines,
           list_filter(lines, l ->
             (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%"')
             AND len(string_split_regex(l, '\\s+')) >= 3) AS kl
    FROM base)
  SELECT doc_id,
         coalesce(array_to_string(kl, chr(10)), '') AS clean_text,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(kl) AS BIGINT) AS kept_lines,
         (NOT (lower(text) LIKE '%lorem ipsum%' OR text LIKE '%{%'))
           AND len(kl) >= 3 AS doc_kept
  FROM kept
"""
)


@query("doc_c4_line_filter", _C4_SQL)
def doc_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line cleaning (Raffel et al. 2020) over the documents table
    (``operators/rules.py::c4_line_filter``): keep lines ending in
    terminal punctuation with ≥3 words; drop documents carrying
    code/placeholder markers or <3 surviving lines. Emits cleaned text
    plus the audit columns.

    Scale: row-local higher-order-function filtering over the line
    array — zero shuffles, no Python, one codegen'd pass of the scan.
    """
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", _lined_spark().alias("text")
    )
    return c4_line_filter(docs, min_words_per_line=3, min_kept_lines=3)


_FUNNEL_SQL = f"""
    WITH flags AS ({_GOPHER_SQL})
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE NOT ok_words) AS BIGINT)
             AS fail_words,
           CAST(count(*) FILTER (WHERE NOT ok_mean_word_len) AS BIGINT)
             AS fail_mean_word_len,
           CAST(count(*) FILTER (WHERE NOT ok_symbols) AS BIGINT)
             AS fail_symbols,
           CAST(count(*) FILTER (WHERE NOT ok_bullets) AS BIGINT)
             AS fail_bullets,
           CAST(count(*) FILTER (WHERE NOT ok_ellipsis) AS BIGINT)
             AS fail_ellipsis,
           CAST(count(*) FILTER (WHERE NOT ok_alpha) AS BIGINT)
             AS fail_alpha,
           CAST(count(*) FILTER (WHERE NOT ok_stopwords) AS BIGINT)
             AS fail_stopwords,
           CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS kept
    FROM flags
"""


@query("gopher_rule_funnel", _FUNNEL_SQL)
def gopher_rule_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-rejection funnel over the Gopher audit frame: how many
    documents each quality rule rejects, and how many survive the
    composite gate — the one-row dashboard a curation run publishes
    (the reference's ETL prints the same kind of kept/dropped tallies,
    `spark_jobs/etl_yellow_s3.py` cleaning counters).

    Scale: single-scan conditional aggregation over the row-local rule
    expressions (the A20 etl_filter_audit shape) — one reduce to one
    row, no shuffle beyond the final 1-row agg.
    """
    flags = gopher_flags(
        t(spark, sf_dir, "documents").select(
            "doc_id", _lined_spark().alias("text")
        ),
        min_words=50,
        min_stopword_hits=1,
    )
    aggs = [
        F.count("*").cast("long").alias("n_docs"),
        *[
            F.count_if(~F.col(c)).cast("long").alias(f"fail_{c[3:]}")
            for c in (
                "ok_words",
                "ok_mean_word_len",
                "ok_symbols",
                "ok_bullets",
                "ok_ellipsis",
                "ok_alpha",
                "ok_stopwords",
            )
        ],
        F.count_if(F.col("keep")).cast("long").alias("kept"),
    ]
    return flags.agg(*aggs)
