"""Edit-distance (Levenshtein) near-duplicate pairs.

The dedup family's missing metric: MinHash/Jaccard/SimHash measure SET
overlap of shingles and miss small in-place character edits' true cost
(or over-count them); embedding cosine needs vectors. Edit distance is
the standard metric for near-identical records — titles, OCR variants,
lightly-edited copies — and both engines ship a native implementation
(Spark ``levenshtein`` with a banded threshold variant, DuckDB
``levenshtein``), so the verify stage is exact and cross-checkable.

Blocking (the scale story): a pair is verified only if it shares at
least one word k-shingle — the same inverted-index equi-join as
``ngram_jaccard_pairs``. Pigeonhole recall argument: ``d`` character
edits touch at most ``d`` words, destroying at most ``d·k`` of a
document's shingles, so any document with more than ``d·k`` shingles
still shares one with its within-``d`` neighbor — exact recall for
documents longer than ``d·k + k`` words, which is the regime edit
distance is used in.

``max_doc_freq`` drops hot postings (stop-shingles) before the
self-join — the prefix-filtering practice for web-scale corpora. It
trades the recall guarantee (a pair may share ONLY hot shingles) for
bounded posting lists; leave ``None`` where the guarantee matters.

The verify uses Spark's THRESHOLD form of levenshtein — the banded
O(d·n) dynamic program, not the full O(n²) table — so cost per
candidate scales with the threshold, not document length squared.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import width
from .text import _norm, shingles

__all__ = ["fuzzy_candidates", "fuzzy_near_pairs"]

def fuzzy_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    max_doc_freq: int | None = None,
    length_band: int | None = None,
) -> DataFrame:
    """Distinct ``(id_a, id_b)`` pairs (``id_a < id_b``) sharing ≥1
    word k-shingle — one explode + one self-equi-join on the posting
    key, cost driven by posting-list sizes, never n².

    ``length_band`` adds the LOSSLESS edit-distance length bound to the
    self-join condition: ``|len(norm_a) − len(norm_b)| ≤ band`` is a
    necessary condition for levenshtein ≤ band (each edit changes the
    length by at most 1), so a verify stage that keeps only distances
    ≤ band sees identical results. The normalized length is one extra
    LONG per posting row — metadata through the exchange instead of
    payloads (guide §2.3/§8) — and the filter runs IN the join, before
    the distinct: measured at sf0.1 it drops 1.27 M pre-distinct pair
    rows to ~0.29 M, and the downstream text-attachment joins + DP
    verifies from 1.13 M pairs to 258 k (r11; VERDICT r10 task #1).
    """
    base = width.spread(df)
    cols = [F.col(id_col).alias("doc")]
    if length_band is not None:
        # normalized length as a column of its own BEFORE the explode:
        # inlined into the explode-select, Catalyst keeps `text` as the
        # Generate's pass-through and evaluates the norm regex once per
        # POSTING row (measured 3× the whole entry); as a pre-computed
        # attribute it rides the Generate as 8 bytes per posting row
        base = base.withColumn("__fz_len", F.length(_norm(F.col(text_col))))
        cols.append(F.col("__fz_len"))
    post = base.select(
        *cols,
        F.explode(shingles(F.col(text_col), k)).alias("s"),
    )
    # NOTE (r5, remeasured r6): the posting list feeds both sides of
    # the self-join and Spark does not reuse the exchange across a
    # self-join's deduplicated attributes, so the shingling regex runs
    # twice. Three-way comparison at sf0.1, idle host, min of 4
    # interleaved passes (full fuzzy_near_pairs, noop-materialized):
    # recompute 4.21 s / persist 4.23 s / localCheckpoint 4.29 s —
    # statistically indistinguishable (the r5 persist penalty did not
    # reproduce; the triangle_counts-style checkpoint win does not
    # transfer because this subplan is cheap per row and wide).
    # Recompute stays: identical speed, zero cache/checkpoint
    # footprint, no lifecycle to manage.
    if max_doc_freq is not None:
        hot = (
            post.groupBy("s")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") > max_doc_freq)
            .select("s")
        )
        post = post.join(hot, "s", "left_anti")
    a_sel = [F.col("doc").alias("id_a"), F.col("s")]
    b_sel = [F.col("doc").alias("id_b"), F.col("s")]
    cond = F.col("id_a") < F.col("id_b")
    if length_band is not None:
        a_sel.append(F.col("__fz_len").alias("_la"))
        b_sel.append(F.col("__fz_len").alias("_lb"))
        cond = cond & (
            F.abs(F.col("_la") - F.col("_lb")) <= F.lit(length_band)
        )
    pairs = (
        post.select(*a_sel)
        .join(post.select(*b_sel), "s")
        .where(cond)
        .select("id_a", "id_b")
    )
    # Pin the dedup exchange at the session's configured width: AQE
    # coalesces it by BYTES, but every downstream row pays the banded
    # Levenshtein DP — at sf0.1 the ~4 MB band-filtered pair set was
    # shrunk to 2 tasks and ~19 CPU-seconds of DP ran 2-wide (measured
    # 14 s vs 4 s entry). See width.verify_width.
    return width.verify_width(pairs, "id_a", "id_b").distinct()


def fuzzy_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 50,
    k: int = 3,
    max_doc_freq: int | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Document pairs within ``max_distance`` character edits of each
    other (on whitespace-normalized lowercased text):
    ``(id_a, id_b, distance)``. Pass ``candidates`` to reuse an
    existing blocking stage (e.g. LSH) instead of the shingle index.
    """
    if candidates is None:
        # the length band is lossless for the ≤ max_distance verify
        # (see fuzzy_candidates), so push it into the candidate join —
        # the 77% of blocked pairs it removes never reach the distinct,
        # the text-attachment joins, or the DP
        candidates = fuzzy_candidates(
            df, text_col, id_col, k, max_doc_freq,
            length_band=max_distance,
        )
    txt = df.select(
        F.col(id_col).alias("_id"), _norm(F.col(text_col)).alias("_t")
    )
    joined = candidates.join(
        txt.select(F.col("_id").alias("id_a"), F.col("_t").alias("_ta")), "id_a"
    ).join(txt.select(F.col("_id").alias("id_b"), F.col("_t").alias("_tb")), "id_b")
    dist = F.levenshtein(F.col("_ta"), F.col("_tb"), max_distance)
    return (
        joined.select("id_a", "id_b", dist.cast("long").alias("distance"))
        .where((F.col("distance") >= 0) & (F.col("distance") <= max_distance))
    )
