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

Contract: document ids are unique and non-null; null-id rows are
dropped before scoring (no keeper rule can compare them).

Scale posture (100 TB): stage order is the whole point — quality filter
and exact dedup shrink the corpus before the expensive shingle/minhash
pass; LSH keeps candidate generation sub-quadratic; component finding
never materializes the graph on the driver. Both public functions run
the same ``_curate_stages``; its exact keepers are pinned once because
pair generation and the anti-join (or the audit's keeper map) reuse them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pins import pin
from .dedup import connected_components, minhash_lsh_pairs
from .text import fingerprint, quality_score

__all__ = ["curate_documents", "curation_audit"]


def _curate_stages(
    docs: DataFrame, id_col: str, text_col: str, quality_threshold: float,
    **lsh,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """``(scored, passed, keepers, components)``: non-null-id docs with
    their quality, the quality-passed docs with their fingerprint, the
    pinned exact keepers, and the near-dup ``(node, component)`` map;
    ``lsh`` is passed to ``minhash_lsh_pairs``."""
    scored = docs.filter(F.col(id_col).isNotNull()).withColumn(
        "quality", quality_score(F.col(text_col))
    )
    passed = scored.filter(F.col("quality") >= quality_threshold).withColumn(
        "fingerprint", fingerprint(F.col(text_col))
    )
    # min_by keeps the min-id row inside the aggregation (partial aggs
    # shrink each map partition first); unique ids mean no ties (r11)
    keepers = pin(
        passed.groupBy("fingerprint")
        .agg(F.min_by(F.struct(*passed.columns), F.col(id_col)).alias("_r"))
        .select("_r.*")
    )
    pairs = minhash_lsh_pairs(keepers, text_col=text_col, id_col=id_col, **lsh)
    return scored, passed, keepers, connected_components(pairs)


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
    score. Deterministic: every keeper rule is min-id. Ids must be
    unique; null-id rows are dropped."""
    _, _, keepers, comp = _curate_stages(
        docs, id_col, text_col, quality_threshold, k=k, num_hashes=num_hashes,
        bands=bands, verify_threshold=jaccard_threshold,
    )
    non_keepers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return keepers.drop("fingerprint").join(non_keepers, id_col, "left_anti")


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
    is nothing it deduplicated into). Ids must be unique; null-id rows
    are dropped, so they get no row.

    How much did each stage remove, and where did my document go?
    ``_curate_stages`` runs the same stages, keeper rules and plan
    shapes as :func:`curate_documents`; one join per stage carries the
    labels back to the corpus, with no new shuffle of the text.
    """
    scored, passed, keepers, comp = _curate_stages(
        docs, id_col, text_col, quality_threshold, k=k, num_hashes=num_hashes,
        bands=bands, verify_threshold=jaccard_threshold,
    )
    ex = passed.join(
        keepers.select("fingerprint", F.col(id_col).alias("ex_keeper")),
        "fingerprint",
    ).select(id_col, "ex_keeper")
    out = (
        scored.select(id_col, "quality")
        .join(ex, id_col, "left")
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
    )
    is_q = F.col("quality") < quality_threshold
    is_ex = F.col("ex_keeper") != F.col(id_col)
    is_nd = F.col("component") != F.col(id_col)  # NULL (no pair) → False
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
