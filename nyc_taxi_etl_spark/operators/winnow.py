"""Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
SIGMOD 2003 — the MOSS algorithm).

The dedup family's guaranteed-detection member: MinHash estimates SET
similarity and SimHash a weighted profile, but neither promises to
catch a specific shared passage. Winnowing selects, from the rolling
char k-gram hashes of a document, the MINIMUM hash of every sliding
window of ``w`` consecutive positions; the selected set is the
document's fingerprint. The paper's guarantee: any substring shared
between two documents of length ≥ ``w + k − 1`` contributes at least
one IDENTICAL selected fingerprint to both — so plagiarism-length
overlaps are detected with certainty, at a stored density of ~2/(w+1)
per position.

Everything is row-local Catalyst (interpreted higher-order functions
over per-doc arrays — O(len·w) per document, no shuffle until the
inverted index), and every hash is an md5-prefix integer, so a DuckDB
oracle replays the pipeline bit-for-bit (same portability contract as
minhash/simhash in ``dedup.py``).

Scale: fingerprints per doc ≈ 2·len/(w+1); the pair stage is the same
inverted-index equi-join as ``fuzzy_candidates``/``ngram_jaccard`` —
cost follows posting-list sizes, never n². ``max_doc_freq`` drops
corpus-stopword fingerprints (boilerplate markup, shared headers)
before the self-join, the standard web-scale cap; it trades the
guarantee only for passages whose EVERY window minimum is that
common — in practice only boilerplate itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import width
from .text import _norm

__all__ = ["winnow_fingerprints", "winnow_near_pairs"]


def _fingerprint_expr(k: int, w: int) -> Column:
    """Distinct winnowed fingerprints of the normalized text column
    ``_t`` — built as ONE server-parsed SQL expression (the
    signature-builder lesson from ``similarity._signature_sql``: py4j
    Column chatter is a real driver cost; SQL text is free).

    The k-gram hash array is LAMBDA-BOUND (``transform(array(X),
    h -> ...)[0]``) before the window-minimum pass. Textually inlining
    it instead is quadratic: interpreted higher-order functions
    re-evaluate the inlined subexpression at EVERY window position
    (no common-subexpression elimination outside codegen, and a
    separate projection gets re-merged by CollapseProject), turning
    O(len·w) into O(len²) md5 calls — measured 10.0 s → 0.5 s for
    500×300-char docs at sf0.01."""
    grams = f"transform(sequence(1, length(_t) - {k - 1}), i -> substring(_t, i, {k}))"
    # CAST inside the transform: Spark's conv() returns a STRING, and
    # array_min over strings is lexicographic — the window minimum
    # must be numeric to match the oracle's ::BIGINT comparison
    hashes = (
        f"transform({grams}, "
        f"g -> CAST(conv(substring(md5(g), 1, 8), 16, 10) AS BIGINT))"
    )
    empty = "CAST(array() AS array<bigint>)"
    wins = (
        f"transform(sequence(1, size(h) - {w - 1}), "
        f"p -> array_min(slice(h, p, {w})))"
    )
    return F.expr(
        f"transform(array(CASE WHEN length(_t) >= {k} THEN {hashes} "
        f"ELSE {empty} END), "
        # size(h) >= w  <=>  length(_t) >= k + w - 1 (h has one hash
        # per k-gram start position)
        f"h -> CASE WHEN size(h) >= {w} THEN array_distinct({wins}) "
        # short doc: fewer than w k-grams — keep the global min so no
        # non-empty document fingerprints to nothing
        f"WHEN size(h) >= 1 THEN array(array_min(h)) "
        f"ELSE {empty} END)[0]"
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 12,
    w: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(id_col, fingerprint)`` — one row per distinct selected
    fingerprint per document (exploded form, ready for the inverted
    index). ``k`` = noise threshold (no match shorter than k chars is
    ever reported), ``w + k − 1`` = guarantee threshold (every shared
    run at least this long IS reported), per the paper's t = w+k−1."""
    base = width.spread(df)
    return (
        base.select(
            F.col(id_col), _norm(F.col(text_col)).alias("_t")
        )
        .select(
            F.col(id_col),
            F.explode(_fingerprint_expr(k, w)).alias("fingerprint"),
        )
    )


def winnow_near_pairs(
    df: DataFrame,
    k: int = 12,
    w: int = 8,
    min_shared: int = 3,
    max_doc_freq: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowed fingerprints:
    ``(id_a, id_b, shared_fps)`` — each shared fingerprint certifies a
    verbatim common substring of ≥ ``k`` chars, so ``shared_fps``
    counts distinct shared passages, not probabilistic overlap.

    One inverted-index self-equi-join on the fingerprint (AQE-picked
    strategy), one pair-grain hash-agg. ``max_doc_freq`` caps hot
    postings before the join (see module doc)."""
    fps = winnow_fingerprints(df, k, w, id_col, text_col)
    if max_doc_freq is not None:
        hot = (
            fps.groupBy("fingerprint")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") > max_doc_freq)
            .select("fingerprint")
        )
        fps = fps.join(hot, "fingerprint", "left_anti")
    a = fps.select(F.col(id_col).alias("id_a"), "fingerprint")
    b = fps.select(F.col(id_col).alias("id_b"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )
