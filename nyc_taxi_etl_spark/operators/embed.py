"""Deterministic text embeddings via signed feature hashing — the
model-free featurizer that bridges the text stack to the ANN /
semantic-dedup stack.

A real pipeline embeds documents with a neural encoder; this engine's
container has none, but the PLUMBING an embedding stage needs —
text → fixed-width dense vector, normalized, portable, cheap — is
exactly the classic hashing trick (Weinberger et al. 2009): each
token hashes to one of ``dim`` buckets with a ±1 sign, bucket sums
are L2-normalized, and two documents with similar token multisets get
high cosine similarity. Every step is a Catalyst expression over the
portable md5 hash (the engine-wide cross-engine hash posture), so the
vectors are bit-reproducible on any engine — which is what lets the
catalog entry carry a full DuckDB oracle, something impossible for a
learned encoder.

Scale: tokenize → explode → (doc, bucket) hash-agg → per-doc array
assembly; one shuffle on doc_id, output |docs| × dim doubles. The
vectors drop straight into cosine_near_pairs / hyperplane LSH /
semantic_dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import md5_int
from .text import tokens

__all__ = ["hashed_ngram_embed", "hashed_embed_long"]


def _bucket(term: F.Column, dim: int) -> F.Column:
    """Portable md5 bucket in [0, dim) — DuckDB:
    ``md5_int_sql("term", n=6) % dim``."""
    return md5_int(term, n=6) % dim


def _sign(term: F.Column) -> F.Column:
    """±1 from the next md5 nibble (independent of the bucket bits)."""
    return F.when(md5_int(term, 7, 1) % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))


def hashed_embed_long(
    docs: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Long-form signed-hash embedding: one row per (doc, bucket) with
    the L2-normalized weight. The oracle-friendly shape (no array
    column) and the input to :func:`hashed_ngram_embed`'s assembly."""
    tok = docs.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("term")
    ).filter(F.col("term") != "")
    sums = tok.groupBy(
        id_col, _bucket(F.col("term"), dim).alias("dim")
    ).agg(F.sum(_sign(F.col("term"))).alias("raw"))
    norm = sums.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("raw") * F.col("raw"))).alias("l2")
    )
    return (
        sums.join(norm, id_col)
        .filter(F.col("l2") > 0)
        .select(
            id_col,
            "dim",
            (F.col("raw") / F.col("l2")).alias("weight"),
        )
    )


def hashed_ngram_embed(
    docs: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "embedding",
) -> DataFrame:
    """Dense-array form: ``(id_col, embedding array<double>[dim])``,
    unit-norm — plug-compatible with the embeddings-table operators
    (cosine_near_pairs, hyperplane LSH, semantic_dedup)."""
    long = hashed_embed_long(docs, dim, id_col, text_col)
    packed = long.groupBy(id_col).agg(
        F.map_from_arrays(
            F.collect_list("dim"), F.collect_list("weight")
        ).alias("m")
    )
    dense = F.array(
        *[
            F.coalesce(F.col("m").getItem(i), F.lit(0.0))
            for i in range(dim)
        ]
    )
    return packed.select(id_col, dense.alias(out_col))
