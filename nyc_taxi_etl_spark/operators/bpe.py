"""Byte-pair-encoding vocabulary induction over a corpus.

Real BPE (Sennrich et al., ACL 2016) as a Spark-idiomatic iterative
algorithm — the learned upgrade of ``text.bpe_ish_token_count``'s
regex heuristic. The training loop runs on the WORD-TYPE table
(distinct word + occurrence count), which is how production BPE
trainers work: pair statistics are weighted by word frequency, so the
shuffled relation is vocabulary-bounded (≤ a few million rows even at
100 TB of text), never the corpus itself.

Per merge round:
  * pair counting — one row-local zip over each word's symbol array +
    one explode + one hash-agg on the pair key (map-side partials);
  * argmax — ``orderBy(count desc, pair asc).limit(1)`` collected to
    the driver: ONE bounded row per round, the same driver posture as
    the connected-components checksum loop;
  * merge application — row-local left-to-right fold over each word's
    symbol array (replace-last formulation; correct because only one
    pair merges per round and ``a`` can never equal ``a+b``).

The corpus is touched exactly ONCE (the word-count aggregation);
everything iterative happens on the type table, checkpointed each
round so the plan doesn't grow (the classic iterative-Spark trap).
Segmentation with the learned merge list is a pure row-local
expression chain — usable inside any projection, streaming included.

No SQL oracle (per-round argmax is not SQL-expressible) — semantics
are pinned against a reference Python BPE in tests, the same posture
as KMeans/IVF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..pins import pin
from .text import tokens

__all__ = ["word_counts", "train_bpe", "segment_words", "END_MARK"]

# End-of-word marker (classic BPE): lets merges distinguish suffixes
# ("est</w>") from mid-word occurrences.
END_MARK = "</w>"


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``(word, n)`` type table — the ONLY corpus-wide aggregation in
    BPE training (one explode + hash-agg on the word key)."""
    return (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("n"))
    )


def _initial_symbols(word: Column) -> Column:
    """Character symbols + end-of-word marker: "low" → [l, o, w, </w>]."""
    return F.concat(
        F.split(word, ""), F.array(F.lit(END_MARK))
    )


def _merge_in(sym: Column, a: str, b: str) -> Column:
    """Apply one merge (a, b) → a+b left-to-right inside a symbol
    array (row-local fold; see module docstring for why replace-last
    is exact here)."""
    ab = a + b

    def step(acc: Column, x: Column) -> Column:
        can = (F.size(acc) > 0) & (F.element_at(acc, -1) == F.lit(a)) & (
            x == F.lit(b)
        )
        return F.when(
            can,
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(ab))),
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(sym, F.array().cast("array<string>"), step)


def train_bpe(
    df: DataFrame,
    num_merges: int = 50,
    text_col: str = "text",
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges; returns them in application
    order. Ties break deterministically (count DESC, pair ASC).
    Stops early when no pair reaches ``min_pair_count``."""
    spark = df.sparkSession
    types = word_counts(df, text_col).select(
        "n", _initial_symbols(F.col("word")).alias("sym")
    )
    types = pin(types)
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        s = F.col("sym")
        pairs = F.zip_with(
            F.slice(s, 1, F.size(s) - 1),
            F.slice(s, 2, F.size(s) - 1),
            lambda x, y: F.struct(x.alias("a"), y.alias("b")),
        )
        top = (
            types.select(F.col("n"), F.explode(pairs).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("n").alias("c"))
            .orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["c"] < min_pair_count:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        types = pin(
            types.select("n", _merge_in(F.col("sym"), a, b).alias("sym"))
        )
    return merges


def segment_words(
    text: Column, merges: list[tuple[str, str]]
) -> Column:
    """Row-local BPE segmentation of every word under a learned merge
    list: array of subword tokens (end-marker kept on word-final
    pieces). The merge chain compiles into a fixed expression tree —
    no Python at execution time, streams and batches alike."""
    words = tokens(F.lower(text))

    def encode(w: Column) -> Column:
        sym = _initial_symbols(w)
        for a, b in merges:
            sym = _merge_in(sym, a, b)
        return sym

    return F.flatten(F.transform(words, encode))
