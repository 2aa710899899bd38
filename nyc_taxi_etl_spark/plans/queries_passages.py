"""Catalog entry for exact duplicate-passage removal
(``operators/passages.py`` — Lee et al. 2021 ExactSubstr semantics,
window-hash formulation). It sits outside the driver window
(``plans.DRIVER_WINDOW``); ``tests/test_oracle.py`` runs it under the
same DuckDB gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.passages import dedup_passages
from .queries import query, t

__all__ = ["doc_passage_dedup"]

_K = 5

_PASSAGE_SQL = f"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM documents),
    shl AS (
      SELECT doc_id, w,
             CASE WHEN len(w) >= {_K}
                  THEN [array_to_string(list_slice(w, i, i+{_K - 1}), ' ')
                        for i in generate_series(1, len(w)-{_K - 1})]
                  ELSE [] END AS sh
      FROM tok),
    occ AS (
      SELECT doc_id,
             unnest(generate_series(1, len(sh))) AS pos,
             unnest(sh) AS gram
      FROM shl),
    dup AS (
      SELECT gram, min(doc_id * 1000000 + pos) AS keeper
      FROM occ GROUP BY 1 HAVING count(*) >= 2),
    rem AS (
      SELECT occ.doc_id, occ.pos
      FROM occ JOIN dup USING (gram)
      WHERE occ.doc_id * 1000000 + occ.pos <> dup.keeper),
    sp AS (SELECT doc_id, list(pos) AS ps FROM rem GROUP BY 1),
    j AS (
      SELECT tok.doc_id, w, coalesce(ps, []) AS ps
      FROM tok LEFT JOIN sp USING (doc_id)),
    kw AS (
      SELECT doc_id, w,
             [w[i] for i in generate_series(1, len(w))
              if len([p for p in ps if p <= i and i < p + {_K}]) = 0] AS kept
      FROM j)
    SELECT doc_id,
           coalesce(array_to_string(kept, ' '), '') AS clean_text,
           CAST(len(w) AS BIGINT) AS n_tokens,
           CAST(len(w) - len(kept) AS BIGINT) AS removed_tokens
    FROM kw
"""


@query("doc_passage_dedup", _PASSAGE_SQL)
def doc_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-passage removal over the documents table
    (``operators/passages.py::dedup_passages``): every 5-token window
    occurring ≥2× corpus-wide is a duplicated passage; all occurrences
    except the global first are masked out of the text.

    Scale: one hash-agg on window content + an AQE-picked equi-join
    back (the duplicated-window set scales with data — never
    broadcast), then a per-document span collect and row-local mask.
    Complements ``doc_boilerplate_removal`` (df-fraction threshold,
    masks ALL occurrences) with the Lee et al. keep-first guarantee.
    """
    return dedup_passages(
        t(spark, sf_dir, "documents"), k=_K, min_count=2
    )
