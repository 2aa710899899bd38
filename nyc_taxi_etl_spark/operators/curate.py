"""End-to-end training-corpus curation: the composition every LLM data
pipeline runs over raw documents, expressed as one lazy DataFrame plan:

    quality filter → exact dedup → MinHash-LSH near-dedup
                   → connected-components keeper selection

Stage semantics (all stages reuse the standalone operators, so each is
individually oracle-checked elsewhere):
  1. ``quality_score(text) >= quality_threshold`` (row-local, pushes to
     the scan — low-quality docs never reach the hash stages);
  2. exact dedup keeps the MIN doc id per content fingerprint (one
     ``min_by`` aggregation that carries the keeper's whole row);
  3. MinHash+LSH candidate pairs verified at ``jaccard_threshold`` over
     the exact-deduped corpus;
  4. near-dup clusters via large-star/small-star connected components;
     each cluster keeps its MIN doc id (the component representative) —
     every other member is anti-joined away.

Scale posture (100 TB): stage order is the whole point — quality filter
and exact dedup shrink the corpus before the expensive shingle/minhash
pass; LSH keeps candidate generation sub-quadratic; component finding
never materializes the graph on the driver. The surviving corpus is
materialized once (eager localCheckpoint) because two downstream
subtrees (pair generation and the final anti-join) both consume it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import connected_components, minhash_lsh_pairs
from .text import fingerprint, quality_score

__all__ = ["curate_documents", "curation_audit"]


def curate_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_threshold: float = 0.5,
    jaccard_threshold: float = 0.5,
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """Curated corpus: one row per kept document, with its quality
    score. Deterministic: every keeper rule is min-id."""
    scored = docs.withColumn("quality", quality_score(F.col(text_col)))
    passed = scored.filter(F.col("quality") >= quality_threshold)

    fp = passed.withColumn("fingerprint", fingerprint(F.col(text_col)))
    # exact dedup as ONE pass (r11): min_by keeps the min-id row per
    # fingerprint inside the dedup aggregation itself — partial
    # aggregation reduces each map partition to one candidate row per
    # fingerprint before the exchange, so the shuffle carries at most
    # the near-deduplicated corpus. The previous groupBy+left-semi
    # shape executed the quality+fingerprint subtree TWICE (agg side
    # and probe side are independent lineages) and still moved full
    # rows through the semi-join at scale. Measured flat at sf0.1
    # (5.55 vs 5.57 s same-window — the stage is small here); the win
    # is one fewer corpus scan + regex/md5 pass at scale. min_by is
    # deterministic: doc ids are unique, so no ties exist. The
    # exact-kept frame feeds both the LSH pair stage and the final
    # anti-join; eager localCheckpoint, not persist: the return is
    # lazy so a persist could never be unpersisted (dedup.py
    # convention).
    exact_kept = (
        fp.groupBy("fingerprint")
        .agg(F.min_by(F.struct(*fp.columns), F.col(id_col)).alias("_r"))
        .select("_r.*")
        .localCheckpoint(eager=True)
    )

    pairs = minhash_lsh_pairs(
        exact_kept,
        text_col=text_col,
        id_col=id_col,
        k=k,
        num_hashes=num_hashes,
        bands=bands,
        verify_threshold=jaccard_threshold,
    )
    comp = connected_components(pairs)
    non_keepers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return exact_kept.drop("fingerprint").join(non_keepers, id_col, "left_anti")


def curation_audit(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_threshold: float = 0.5,
    jaccard_threshold: float = 0.5,
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """Per-document curation PROVENANCE: one row per input doc with its
    quality score, its fate, and the keeper it collapsed into —
    ``fate ∈ {kept, dropped_quality, dropped_exact_dup,
    dropped_near_dup}`` with first-failing-stage precedence (a
    low-quality doc that is also a duplicate reports dropped_quality;
    it never reached the hash stages). ``keeper_id`` is the retained
    representative (itself when kept, NULL for quality drops — there
    is nothing it deduplicated into).

    The report every production pipeline owes its users: how much did
    each stage remove, and where did my document go. Same stages, same
    keeper rules, same plan shapes as :func:`curate_documents` — one
    extra broadcast-sized join per stage to carry the labels back to
    the full corpus; no new shuffles on the text itself.
    """
    scored = docs.withColumn("quality", quality_score(F.col(text_col)))
    fp = scored.filter(F.col("quality") >= quality_threshold).withColumn(
        "fingerprint", fingerprint(F.col(text_col))
    )
    ex = fp.join(
        fp.groupBy("fingerprint").agg(F.min(id_col).alias("ex_keeper")),
        "fingerprint",
    ).select(id_col, "ex_keeper")
    # eager localCheckpoint, not persist — see curate_documents above
    exact_kept = (
        fp.join(ex, id_col)
        .filter(F.col(id_col) == F.col("ex_keeper"))
        .localCheckpoint(eager=True)
    )
    pairs = minhash_lsh_pairs(
        exact_kept,
        text_col=text_col,
        id_col=id_col,
        k=k,
        num_hashes=num_hashes,
        bands=bands,
        verify_threshold=jaccard_threshold,
    )
    comp = connected_components(pairs).select(
        F.col("node").alias(id_col), F.col("component")
    )
    out = (
        scored.select(id_col, "quality")
        .join(ex, id_col, "left")
        .join(comp, id_col, "left")
    )
    is_q = F.col("quality") < quality_threshold
    is_ex = F.col("ex_keeper") != F.col(id_col)
    is_nd = F.col("component").isNotNull() & (
        F.col("component") != F.col(id_col)
    )
    fate = (
        F.when(is_q, F.lit("dropped_quality"))
        .when(is_ex, F.lit("dropped_exact_dup"))
        .when(is_nd, F.lit("dropped_near_dup"))
        .otherwise(F.lit("kept"))
    )
    keeper = (
        F.when(is_q, F.lit(None).cast("long"))
        .when(is_ex, F.col("ex_keeper").cast("long"))
        .when(is_nd, F.col("component").cast("long"))
        .otherwise(F.col(id_col).cast("long"))
    )
    return out.select(
        id_col, "quality", fate.alias("fate"), keeper.alias("keeper_id")
    )
