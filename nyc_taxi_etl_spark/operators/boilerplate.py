"""Corpus-level boilerplate removal (CCNet/RefinedWeb-style curation).

Templated fragments — headers, footers, cookie banners, newsletter
prompts — repeat across many documents and poison LLM training data
even after near-dup removal drops whole-document copies. This operator
finds word k-grams whose DOCUMENT frequency exceeds a corpus fraction
and masks every token covered by one, leaving the unique prose.

Scale design (the reason this survives 100 TB):

* The boilerplate set is **bounded independent of corpus size**: a
  k-gram must appear in ≥ ``min_doc_frac·N`` docs, and a doc holds at
  most ``L`` distinct k-grams, so at most ``L / min_doc_frac`` k-grams
  can qualify no matter how large N grows (pigeonhole on the df mass).
  That makes the set a legitimate broadcast — same pattern as the
  1-row corpus-size scalars, NOT a data-sized build side.
* Detection is one hash aggregation on the shingle key (the exact
  shape of ``shingle_doc_frequency``); masking is then row-local
  higher-order-function work against the broadcast array — zero
  additional shuffles, no Python.
* Masking cost is O(tokens · k) per row (each position checks ≤ k
  covering windows) — linear in data for fixed k.

Matching is on whitespace-normalized, lowercased tokens (the same
normalization the dedup family uses), and the cleaned text is emitted
in that normalized form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import width
from .text import _norm, tokens

__all__ = ["boilerplate_shingles", "remove_boilerplate"]


def _positional_shingles(norm_text, k: int):
    """Overlapping k-gram at every start position (duplicates kept —
    position-aligned, unlike ``text.shingles``'s distinct set).

    ONE regex pass over the already-normalized (single-spaced) text:
    the lookahead captures the k-token window while the body consumes
    one token, so every overlapping window is emitted in start order —
    the same trick as ``text.shingles`` (see its docstring for the
    anchoring argument). The earlier ``transform(sequence, slice)``
    formulation was interpreted per element and copied O(k) per window
    — measured 25× slower at sf0.1. Emits [] below k tokens.
    """
    pat = "(?=(" + "\\S+ " * (k - 1) + "\\S+))\\S+ ?"
    return F.when(
        F.size(tokens(norm_text)) >= k,
        F.regexp_extract_all(norm_text, F.lit(pat), 1),
    ).otherwise(F.array().cast("array<string>"))


def boilerplate_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_doc_frac: float = 0.05,
) -> DataFrame:
    """k-grams present in ≥ ``min_doc_frac`` of documents:
    ``(shingle, doc_freq)``. One explode + one hash-agg; the result is
    bounded by ``avg_shingles_per_doc / min_doc_frac`` rows (see module
    docstring), so downstream consumers may broadcast it."""
    per_doc = width.spread(df).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(_positional_shingles(_norm(F.col(text_col)), k))
        ).alias("shingle"),
    )
    n_docs = df.select(F.count("*").alias("_n"))
    return (
        per_doc.groupBy("shingle")
        .agg(F.count("*").cast("long").alias("doc_freq"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("doc_freq") >= F.ceil(F.lit(min_doc_frac) * F.col("_n")))
        .select("shingle", "doc_freq")
    )


def remove_boilerplate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_doc_frac: float = 0.05,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Mask every token covered by a high-document-frequency k-gram.

    A token at position ``i`` is covered when ANY of the ≤ k windows
    containing it (starts ``max(0, i-k+1) … min(i, n-k)``) is a
    boilerplate k-gram; covered tokens are dropped, the rest are
    rejoined with single spaces.

    Returns ``(id_col, *passthrough, clean_text, n_tokens,
    removed_tokens)`` — ``passthrough`` columns ride along so pipeline
    stages downstream (budget selection needs quality/source) don't
    have to re-join, and re-execute, the upstream subtree.
    """
    boiler = (
        boilerplate_shingles(df, text_col, id_col, k, min_doc_frac)
        .agg(F.collect_list("shingle").alias("_boiler"))
    )
    base = width.spread(df).select(
        F.col(id_col),
        *[F.col(c) for c in passthrough],
        tokens(_norm(F.col(text_col))).alias("_toks"),
        _norm(F.col(text_col)).alias("_nt"),
    ).crossJoin(F.broadcast(boiler))
    # Materialize the per-window boiler-hit bitmap as its OWN projection
    # step. Referencing the shingle-array expression inside the nested
    # position×window lambdas would make Catalyst re-build the whole
    # array per (i, j) — O(n²·k) string construction per row (measured:
    # 41 s → 1 s at sf0.1). As a multiply-referenced non-trivial alias
    # it survives CollapseProject, so the bitmap is computed once per
    # row and the mask is O(n·k) element_at probes.
    base = base.withColumn(
        "_hit",
        F.transform(
            _positional_shingles(F.col("_nt"), k),
            lambda s: F.array_contains(F.col("_boiler"), s),
        ),
    )
    n = F.size(F.col("_toks"))

    def covered(i):
        lo = F.greatest(F.lit(0), i - (k - 1))
        hi = F.least(i, n - k)
        return (n >= k) & F.exists(
            F.sequence(lo, hi),
            lambda j: F.element_at(F.col("_hit"), j + 1),
        )

    kept = F.filter(
        F.col("_toks"), lambda x, i: ~covered(i)
    )
    return base.select(
        id_col,
        *passthrough,
        F.array_join(kept, " ").alias("clean_text"),
        n.cast("long").alias("n_tokens"),
        (n - F.size(kept)).cast("long").alias("removed_tokens"),
    )
