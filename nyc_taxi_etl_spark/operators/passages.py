"""Exact duplicate-passage removal (Lee et al. 2021, *Deduplicating
Training Data Makes Language Models Better* — the ExactSubstr variant,
re-expressed relationally).

Whole-document dedup (``dedup.py``) misses passages duplicated INSIDE
otherwise-distinct documents — license headers, quoted chunks, templated
paragraphs. Lee et al. remove every repeated substring of ≥ 50 tokens,
keeping one occurrence. A distributed suffix array is the wrong tool on
Spark; the same semantics fall out of a window-hash join:

1. Slide a k-token window over every document (positional k-grams —
   ONE regex pass, the ``boilerplate`` trick).
2. Hash-aggregate windows by content: any window text occurring
   ``min_count``+ times corpus-wide is a duplicated passage. The
   GLOBAL FIRST occurrence (minimum ``(doc_id, pos)``) is the keeper.
3. Join occurrences back to the duplicated set, drop the keeper, and
   mask every token covered by a surviving occurrence — row-locally.

Contrast with ``boilerplate.py``: that operator thresholds on DOCUMENT
FREQUENCY as a corpus fraction (bounded result ⇒ broadcast) and masks
ALL occurrences; this one thresholds on an absolute occurrence count
(result scales with data ⇒ shuffle join, AQE-picked) and PRESERVES the
first occurrence — the Lee et al. guarantee that no content is lost
from the corpus, only repeated copies.

Scale design (100 TB):

* Window extraction is row-local (regex + posexplode): O(tokens) rows,
  the same inflation the token-LM/boilerplate passes already carry.
* Detection is ONE hash aggregation keyed by window content; the
  duplicated-window table scales with the data, so the join back is a
  plain equi-join with the strategy left to AQE — never a forced
  broadcast (this is exactly the customer-table lesson from round 1).
* The keeper is ``min(doc_id·POS_CAP + pos)`` — a single 64-bit
  ``min`` aggregate (portable, no struct ordering), deterministic
  under any partitioning.
* Masking is a per-document array fold over the collected span starts
  (bounded by document length) — zero extra shuffles beyond the
  per-document ``collect_list``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import width
from .boilerplate import _positional_shingles
from .text import _norm, tokens

__all__ = ["passage_occurrences", "duplicate_passages", "dedup_passages"]

# Occurrence-key encoding: keeper = min(doc_id * POS_CAP + pos).
# Assumes pos < POS_CAP (1e6 tokens/doc) and doc_id < ~9.2e12 — both
# comfortable for web-corpus ids; swap to a struct min_by if not.
POS_CAP = 1_000_000


def passage_occurrences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Every k-token window of every document:
    ``(doc_id, pos, gram)`` with ``pos`` 1-based. One regex pass +
    posexplode — row-local."""
    norm = _norm(F.col(text_col))
    return width.spread(df).select(
        F.col(id_col),
        F.posexplode(_positional_shingles(norm, k)).alias("pos0", "gram"),
    ).select(
        id_col, (F.col("pos0") + 1).cast("long").alias("pos"), "gram"
    )


def duplicate_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Duplicated k-token windows: ``(gram, n_occurrences,
    keeper_key)`` where ``keeper_key`` encodes the global first
    occurrence. ONE hash-agg on window content."""
    occ = passage_occurrences(df, text_col, id_col, k)
    return (
        occ.groupBy("gram")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.min(F.col(id_col) * POS_CAP + F.col("pos")).alias("keeper_key"),
        )
        .where(F.col("n_occurrences") >= min_count)
    )


def _covered(starts: Column, k: int) -> Column:
    """Predicate factory: token at 1-based position ``i`` is covered by
    a removed span start ``s`` iff ``s <= i < s + k``."""

    def pred(_: Column, i0: Column) -> Column:
        i = i0 + 1
        return ~F.exists(starts, lambda s: (s <= i) & (i < s + k))

    return pred


def dedup_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_count: int = 2,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Remove duplicated passages, keeping each passage's global first
    occurrence: ``(doc_id, clean_text, n_tokens, removed_tokens)``.

    Plan shape: scan → window explode → hash-agg (dup detection) →
    AQE equi-join back on window content → per-doc span collect →
    row-local mask. Two shuffles total (gram agg+join share the gram
    partitioning; span collect shuffles by doc id).
    """
    occ = passage_occurrences(df, text_col, id_col, k)
    dup = duplicate_passages(df, text_col, id_col, k, min_count)
    # Non-keeper occurrences of duplicated windows -> span starts.
    rem = (
        occ.join(dup, "gram")
        .where(F.col(id_col) * POS_CAP + F.col("pos") != F.col("keeper_key"))
        .select(id_col, "pos")
    )
    spans = rem.groupBy(id_col).agg(
        F.collect_list("pos").alias("_starts")
    )
    base = df.select(
        F.col(id_col),
        tokens(_norm(F.col(text_col))).alias("_w"),
        *[F.col(c) for c in extra_cols],
    )
    starts = F.coalesce(F.col("_starts"), F.array().cast("array<long>"))
    kw = F.filter(F.col("_w"), _covered(starts, k))
    return (
        base.join(spans, id_col, "left")
        .select(
            F.col(id_col),
            F.array_join(kw, " ").alias("clean_text"),
            F.size("_w").cast("long").alias("n_tokens"),
            (F.size("_w") - F.size(kw)).cast("long").alias("removed_tokens"),
            *[F.col(c) for c in extra_cols],
        )
    )
