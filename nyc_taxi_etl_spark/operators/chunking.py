"""Document chunking and sequence packing for LLM training pipelines.

The last mile of a curation pipeline (clean → dedup → score) is turning
variable-length documents into model-shaped inputs: fixed-size chunks
(with optional overlap for context continuity) and capacity-bounded
training sequences. The reference repo stops at analytics tables; these
operators extend the engine per the north star's training-data charter.

Scale design:

* ``chunk_by_chars`` / ``chunk_by_tokens`` are row-local generators —
  a per-row ``sequence`` of chunk indexes exploded to one output row per
  chunk. Narrow dependency, zero shuffles, whole-stage-codegen'd; at
  100 TB the fan-out happens inside each scan task and never exchanges.
* ``pack_sequences`` needs a GLOBAL running total of token counts in a
  stable document order — inherently a prefix sum. A naive
  ``Window.orderBy(id)`` with no partition key funnels the whole table
  through ONE reducer; instead we run the classic two-phase parallel
  prefix sum: (1) per-bucket cumulative sums in parallel (shuffle on the
  bucket key), (2) a tiny per-bucket-totals table (``buckets`` rows)
  cumsum'd and broadcast back as offsets. The single-partition window
  touches only ``buckets`` rows, never the data. Equivalence with the
  single-window formulation is pytest-pinned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..pins import pin
from .text import token_count, tokens

__all__ = ["chunk_by_chars", "chunk_by_tokens", "pack_sequences"]


def _chunk_index(n_units, stride):
    """0..ceil(n/stride)-1 as an array column; empty for empty docs.

    ``F.sequence(0, -1)`` would generate a DESCENDING [0, -1] — guard
    the empty case explicitly rather than relying on sequence bounds.
    """
    n_chunks = (F.floor((n_units - F.lit(1)) / F.lit(stride)) + 1).cast("int")
    return F.when(
        n_units > 0, F.sequence(F.lit(0), n_chunks - F.lit(1))
    ).otherwise(F.array().cast("array<int>"))


def chunk_by_chars(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_chars: int = 512,
    overlap: int = 0,
) -> DataFrame:
    """Split each document into fixed-width character chunks.

    Consecutive chunks start ``chunk_chars - overlap`` characters apart,
    so each chunk repeats the last ``overlap`` characters of its
    predecessor (context continuity for embedding / windowed attention).
    Empty documents produce zero chunks.

    Returns ``(id_col, chunk_ix, chunk_text, chunk_len)`` — one row per
    chunk, ``chunk_ix`` 0-based.
    """
    if not 0 <= overlap < chunk_chars:
        raise ValueError("require 0 <= overlap < chunk_chars")
    stride = chunk_chars - overlap
    text = F.col(text_col)
    n = F.length(text)
    exploded = df.select(
        F.col(id_col),
        text.alias("_text"),
        F.explode(_chunk_index(n, stride)).alias("chunk_ix"),
    )
    chunk = F.substring(
        F.col("_text"), F.col("chunk_ix") * stride + 1, chunk_chars
    )
    return exploded.select(
        id_col,
        "chunk_ix",
        chunk.alias("chunk_text"),
        F.length(chunk).cast("long").alias("chunk_len"),
    )


def chunk_by_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 128,
    overlap: int = 0,
) -> DataFrame:
    """Split each document into windows of whitespace tokens, rejoined
    with single spaces (the canonical form a tokenizer consumes).

    Same stride/overlap semantics as :func:`chunk_by_chars`, measured in
    tokens. Returns ``(id_col, chunk_ix, chunk_text, chunk_tokens)``.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("require 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    exploded = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.explode(_chunk_index(F.size(toks), stride)).alias("chunk_ix"),
    )
    window = F.slice(
        F.col("_toks"), F.col("chunk_ix") * stride + 1, chunk_tokens
    )
    return exploded.select(
        id_col,
        "chunk_ix",
        F.array_join(window, " ").alias("chunk_text"),
        F.size(window).cast("long").alias("chunk_tokens"),
    )


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    capacity: int = 2048,
    buckets: int = 64,
) -> DataFrame:
    """Assign each document to a training pack: documents are laid out
    in ``id_col`` order into a contiguous token stream, and the stream
    is cut every ``capacity`` tokens — the standard concat-then-split
    packing of LLM pretraining, expressed per-document.

    ``pack_id = floor(tokens_before_me / capacity)`` and
    ``pack_offset = tokens_before_me % capacity`` (a document whose
    tokens straddle a cut keeps the pack where it starts; downstream
    writers split at the boundary).

    The global prefix sum runs as a two-phase parallel scan (see module
    docstring): documents are range-bucketed on a monotone transform of
    ``id_col`` (``floor(id / width)`` — order-preserving across
    buckets), phase 1 cumsums within buckets in parallel, phase 2
    cumsums the ``buckets``-row totals table and broadcasts the offsets
    back. Requires a numeric, roughly uniform ``id_col`` (dense
    surrogate keys; for arbitrary keys compute range boundaries with
    approx quantiles first).

    Returns ``(id_col, n_tokens, pack_id, pack_offset)``.
    """
    doc_id = F.col(id_col)
    # Three consumers read this projection (min/max probe, phase-1
    # cumsum, phase-2 totals) and Spark does not reuse the exchange
    # across them — without materialization that is three scans of the
    # full text. The projection is two longs per document (no text), so
    # storing it trades O(16 bytes × docs) memory/disk for two scans.
    base = pin(
        df.select(doc_id, token_count(F.col(text_col)).alias("n_tokens"))
    )
    hi_lo = base.agg(
        F.min(id_col).alias("_lo"), F.max(id_col).alias("_hi")
    )
    # Monotone range bucketing: bucket boundaries follow id order, so
    # concatenating buckets 0..B-1 reproduces the global order.
    width = (F.col("_hi") - F.col("_lo")) / buckets + F.lit(1)
    bucketed = base.crossJoin(F.broadcast(hi_lo)).select(
        doc_id,
        "n_tokens",
        F.floor((doc_id - F.col("_lo")) / width).cast("int").alias("_bucket"),
    )
    in_bucket = Window.partitionBy("_bucket").orderBy(id_col)
    phase1 = bucketed.withColumn(
        "_cum_in_bucket", F.sum("n_tokens").over(in_bucket)
    )
    # Phase 2: offsets — `buckets` rows total, so the unpartitioned
    # window is bounded by construction (this is the broadcastable
    # scalar-table pattern, not a data-sized single-reducer sort).
    across = Window.orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        bucketed.groupBy("_bucket")
        .agg(F.sum("n_tokens").alias("_bucket_total"))
        .select(
            "_bucket",
            F.coalesce(F.sum("_bucket_total").over(across), F.lit(0)).alias(
                "_offset"
            ),
        )
    )
    before = (
        F.col("_offset") + F.col("_cum_in_bucket") - F.col("n_tokens")
    ).cast("long")
    return (
        phase1.join(F.broadcast(offsets), "_bucket")
        .select(
            id_col,
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.floor(before / capacity).cast("long").alias("pack_id"),
            (before % capacity).cast("long").alias("pack_offset"),
        )
    )
