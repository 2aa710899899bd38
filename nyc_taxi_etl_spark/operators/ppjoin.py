"""Prefix-filtered EXACT set-similarity self-join (PPJoin family:
Chaudhuri/Ganti/Kaushik ICDE 2006 "A Primitive Operator for Similarity
Joins"; Xiao/Wang/Lin/Yu WWW 2008 "Efficient Similarity Joins for Near
Duplicate Detection") — the exact, lossless sub-quadratic member of
the dedup family.

The other sub-quadratic candidate generators here trade recall for
cost (MinHash-LSH and SimHash are probabilistic; winnowing guarantees
only shared-RUN detection). Prefix filtering is a pure optimization
with a proof: order every document's shingle set by a GLOBAL total
order (ascending document frequency — rarest first — with the shingle
string as tiebreak), and keep only each set's first

    prefix_len(x) = |x| - ceil(t * |x|) + 1

shingles. Two sets with Jaccard >= t must overlap in at least
ceil(t/(1+t) * (|A|+|B|)) >= 1 elements, and (the prefix lemma) any
two sets whose intersection is that large MUST share at least one
PREFIX element under any common total order — so the candidate set
(pairs sharing >= 1 prefix shingle) provably contains every true
pair, while postings shrink by ~t/(1+t) and, because rare shingles
sort first, the surviving postings lists are the SHORT ones: join
cost collapses versus the full inverted index.

A size filter rides the candidate join: J(A,B) >= t implies
t*|A| <= |B| and t*|B| <= |A|, pruning cross-size pairs before the
verify stage.

Scale: one explode + hash-agg for document frequencies (map-side
partials), one window per document over its own shingles (partitioned
by doc — never a global sort), the prefix self-equi-join on shingle
(cost follows the truncated postings), then row-local exact
verification via ``array_intersect`` on the full shingle arrays.
No UDFs and no driver state; the shingled corpus is pinned once
(``pins.pin``) because four plan sites read it.

Reference intent: the reference dedups with pandas
``drop_duplicates`` (scripts/analytics_pandas.py); this is the exact
near-dup analogue that still runs at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import width
from ..pins import pin
from .text import shingles

__all__ = ["ppjoin_pairs"]


def ppjoin_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-``k``-shingle Jaccard pairs with similarity >=
    ``threshold``, generated through prefix filtering (lossless — the
    result is IDENTICAL to the brute-force inverted-index join, which
    is exactly how the catalog oracle replays it).

    ``threshold`` should be exactly representable in binary (0.5,
    0.25, 0.75…) for bit-stable prefix lengths cross-engine; other
    values get a conservative epsilon so the prefix can only be
    LONGER than required (still lossless, never lossy).

    Output: ``(id_a, id_b, jaccard)`` with ``id_a < id_b``; jaccard
    is an exact-integer ratio (bit-identical cross-engine)."""
    # ONLY the shingled corpus is pinned. It feeds FOUR plan sites
    # (postings → document frequencies, postings → prefix ranks, and
    # both sides of the verify join); lazily each site re-scans the
    # corpus and re-runs the shingling regex — measured r10 at sf0.1
    # (min of 5 interleaved passes, noop sink): lazy 3.60 s vs
    # arr-pinned 2.93 s, and at scale 1 write + 4 reads beats 4
    # scans+shingle passes outright. The PREFIX frame, by contrast,
    # must NOT be checkpointed even though two join sides consume it:
    # pinning it forces a full extra materialization of the
    # dfreq-join + per-doc rank window ahead of the candidate join and
    # measured 6.92 s (prefix-only) / 5.69 s (both pinned) on the same
    # A/B — the window recompute per side is cheaper than its
    # checkpoint.
    arr = pin(
        df.select(
            F.col(id_col).alias("doc"),
            shingles(F.col(text_col), k).alias("arr"),
        ).filter(F.size("arr") > 0)
    )

    post = arr.select(
        "doc", F.size("arr").cast("long").alias("n"), F.explode("arr").alias("s")
    )
    # global document frequency — the total order that makes prefixes
    # comparable across documents (rarest-first minimizes postings)
    dfreq = post.groupBy("s").agg(F.count("*").alias("df_s"))

    # per-document rank under the global order; ceil(t*n) via a
    # conservative epsilon (exact for binary-representable t)
    w = Window.partitionBy("doc").orderBy(F.asc("df_s"), F.asc("s"))
    prefix_len = (
        F.col("n")
        - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9)).cast("long")
        + F.lit(1)
    )
    # both sides of the candidate self-join consume the prefix frame
    # LAZILY (re-running the dfreq join + per-doc window once per
    # side): checkpointing it instead measured 1.9-3.3 s SLOWER at
    # sf0.1 (see the A/B note above) because the checkpoint serializes
    # the window output as an extra blocking materialization that the
    # pipelined recompute avoids
    prefix = (
        post.join(dfreq, "s")
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= prefix_len)
        .select("doc", "n", "s", "r")
    )

    pa = prefix.select(
        F.col("doc").alias("id_a"),
        F.col("n").alias("n_a"),
        F.col("r").alias("r_a"),
        "s",
    )
    pb = prefix.select(
        F.col("doc").alias("id_b"),
        F.col("n").alias("n_b"),
        F.col("r").alias("r_b"),
        "s",
    )
    eps = F.lit(1e-9)
    # POSITIONAL filter (the second "P" of PPJoin): a shared prefix
    # token at ranks (r_a, r_b) bounds the achievable overlap by
    # 1 + min(n_a - r_a, n_b - r_b) (this match + the best-case tails);
    # J >= t needs overlap >= ceil(t/(1+t) * (n_a + n_b)), so a pair
    # survives only if SOME shared prefix token's bound reaches it.
    overlap_req = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("n_a") + F.col("n_b"))
        - eps
    )
    pos_bound = F.lit(1) + F.least(
        F.col("n_a") - F.col("r_a"), F.col("n_b") - F.col("r_b")
    )
    # width pin before the dedup exchange: the verify stage below pays
    # an array_intersect over the FULL shingle sets per surviving pair,
    # and AQE's bytes-based coalescing shrank the few-MB pair exchange
    # to 1-2 tasks (measured 3.5 s vs 2.0 s entry at sf0.1 — see
    # width.verify_width)
    cands = width.verify_width(
        pa.join(pb, "s")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # size filter: J >= t ⇒ t|A| <= |B| and t|B| <= |A|
            & (F.lit(threshold) * F.col("n_a") <= F.col("n_b") + eps)
            & (F.lit(threshold) * F.col("n_b") <= F.col("n_a") + eps)
            & (pos_bound >= overlap_req)
        )
        .select("id_a", "id_b"),
        "id_a",
        "id_b",
    ).distinct()

    a = arr.select(F.col("doc").alias("id_a"), F.col("arr").alias("arr_a"))
    b = arr.select(F.col("doc").alias("id_b"), F.col("arr").alias("arr_b"))
    inter = F.size(F.array_intersect("arr_a", "arr_b")).cast("long")
    union = (
        F.size("arr_a").cast("long") + F.size("arr_b").cast("long") - inter
    )
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
