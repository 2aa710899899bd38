"""Driver-visible catalog entries for the training-corpus operators.

The reference repo stops at analytics tables; the north-star charter
adds the last mile of an LLM data pipeline — chunking/packing, PII
redaction, corpus-LM quality scoring, boilerplate removal, and
deterministic train/val/test splits (``operators/chunking.py``,
``redact.py``, ``lm.py``, ``boilerplate.py``, ``export.py``). Each
entry here runs the real operator over the ``documents`` table and
carries a value-exact DuckDB oracle, so the driver's hash gate covers
the training family the same way it covers the SURVEY §2 inventory.

Every float is r4-rounded and every count BIGINT on both sides (the
catalog-wide hash conventions, see ``queries.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import md5_int_sql
from ..operators.boilerplate import remove_boilerplate
from ..operators.chunking import chunk_by_tokens, pack_sequences
from ..operators.export import shuffle_order_key, train_val_test_split
from ..operators.lm import (
    score_documents,
    score_documents_bigram,
    train_bigram,
    train_unigram,
)
from ..operators.redact import PII_RULES, redact_documents
from ..pins import pin
from .queries import query, t
from .queries_text import _SQL_TOKENS

# Chunk/pack parameters shared by the Spark plan and the SQL oracle.
_CHUNK, _OVERLAP, _CAP = 16, 4, 256
_STRIDE = _CHUNK - _OVERLAP
_CID = 1 << 20  # composite chunk id base: doc_id * _CID + chunk_ix


@query(
    "doc_chunks_packed",
    f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
    ch AS (
      SELECT doc_id, i AS chunk_ix,
             array_to_string(
               list_slice(w, i*{_STRIDE}+1, i*{_STRIDE}+{_CHUNK}), ' '
             ) AS chunk_text,
             least({_CHUNK}, len(w) - i*{_STRIDE}) AS n_tokens
      FROM tok,
           unnest([x for x in generate_series(
             0, CAST(floor((len(w)-1)/{_STRIDE}.0) AS INT))]) AS u(i)
      WHERE len(w) > 0),
    c2 AS (
      SELECT *, coalesce(sum(n_tokens) OVER (
               ORDER BY doc_id, chunk_ix
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS before
      FROM ch)
    SELECT doc_id, CAST(chunk_ix AS BIGINT) AS chunk_ix, chunk_text,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(before // {_CAP} AS BIGINT) AS pack_id,
           CAST(before % {_CAP} AS BIGINT) AS pack_offset
    FROM c2
    """,
)
def doc_chunks_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk every document into 16-token windows (overlap 4) and lay
    the chunks out into 256-token training packs
    — the concat-then-split packing of LLM pretraining, run over the
    real chunker + two-phase-prefix-sum packer (``operators/chunking``).

    Scale: chunking is a row-local explode (zero shuffles); packing's
    global running total uses the parallel two-phase prefix sum — the
    only unpartitioned window touches the 16-row bucket-totals table,
    never the data (see ``pack_sequences``). The re-join of pack
    assignments to chunk text is on the composite chunk id — an
    AQE-sized equi-join on the output grain.
    """
    chunks = chunk_by_tokens(
        t(spark, sf_dir, "documents"), chunk_tokens=_CHUNK, overlap=_OVERLAP
    )
    keyed = chunks.select(
        (F.col("doc_id") * _CID + F.col("chunk_ix")).alias("cid"),
        "chunk_text",
    )
    packed = pack_sequences(
        keyed, text_col="chunk_text", id_col="cid", capacity=_CAP, buckets=16
    )
    return (
        packed.join(keyed, "cid")
        .select(
            F.floor(F.col("cid") / _CID).cast("long").alias("doc_id"),
            (F.col("cid") % _CID).cast("long").alias("chunk_ix"),
            "chunk_text",
            "n_tokens",
            "pack_id",
            "pack_offset",
        )
    )


def _pii_inject_sql() -> str:
    """The deterministic synthetic-PII suffix, DuckDB side (the corpus
    itself is PII-free word soup, so both engines append the same
    doc_id-derived identifiers before redacting)."""
    return (
        "text || ' reach me at user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com or https://example.com/u/' || CAST(doc_id AS VARCHAR)"
        " || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)"
        " || '.7 card 4111-1111-1111-1111 ssn 987-65-4320 call (212) 555-'"
        " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    )


def _pii_inject_spark() -> F.Column:
    did = F.col("doc_id").cast("string")
    return F.concat(
        F.col("text"),
        F.lit(" reach me at user"),
        did,
        F.lit("@example.com or https://example.com/u/"),
        did,
        F.lit(" ip 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 card 4111-1111-1111-1111 ssn 987-65-4320 call (212) 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )


def _pii_sql() -> str:
    # Nested regexp_replace in rule order ('g' = replace all, matching
    # Spark's default); patterns are lookaround-free so Java regex and
    # RE2 agree (see operators/redact.py). Built from PII_RULES so the
    # oracle can never drift from the operator.
    redacted = "t2"
    for _, pattern, placeholder in PII_RULES:
        redacted = f"regexp_replace({redacted}, '{pattern}', '{placeholder}', 'g')"
    counts = ",\n           ".join(
        f"CAST(len(regexp_extract_all(t2, '{pattern}')) AS BIGINT)"
        f" AS {name}_count"
        for name, pattern, _ in PII_RULES
    )
    return f"""
    WITH t AS (SELECT doc_id, {_pii_inject_sql()} AS t2 FROM documents)
    SELECT doc_id,
           {redacted} AS redacted_text,
           {counts}
    FROM t
    """


@query("doc_pii_redaction", _pii_sql())
def doc_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub + per-class audit counts over the documents table
    (``operators/redact.py``): emails, URLs, IPv4, card/SSN/phone-shaped
    digit runs rewritten to placeholders, counts measured on the
    original text. Synthetic identifiers are injected deterministically
    from doc_id (identically on both engines) since the corpus has none.

    Scale: a chain of codegen'd regexp_replace/regexp_count expressions
    — row-local, zero shuffles, no Python; 100 TB cost is one pass of
    the scan through whole-stage codegen.
    """
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", _pii_inject_spark().alias("text")
    )
    return redact_documents(docs)


@query(
    "doc_lm_scores",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS token FROM documents),
    model AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total,
                   CAST(count(*) AS DOUBLE) AS vocab FROM model),
    sc AS (
      SELECT tok.doc_id, count(*) AS n_tokens,
             avg(ln((model.c + 0.5) / (total + 0.5 * (vocab + 1)))) AS a
      FROM tok JOIN model USING (token), tot
      GROUP BY tok.doc_id)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(a, 4) AS avg_logprob, ROUND(exp(-a), 4) AS perplexity
    FROM sc
    """,
)
def doc_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram-LM quality scores (``operators/lm.py``):
    train token→count over the corpus, score each document's mean token
    log-probability with add-0.5 smoothing, report perplexity — the
    standard "how typical is this document of its corpus" curation axis.

    Scale: training is ONE hash-agg on token; scoring joins exploded
    tokens to the model with the join strategy left to AQE (broadcast
    when the vocabulary fits, sort-merge for billion-type corpora);
    corpus totals ride the 1-row broadcast scalar-join pattern.
    """
    docs = t(spark, sf_dir, "documents")
    # the scorer consumes the model twice (corpus totals + per-token
    # join); materialize the vocab-grain aggregate once instead of
    # re-running the tokenize+agg training pass per reference
    return score_documents(docs, pin(train_unigram(docs)))


@query(
    "doc_boilerplate_removal",
    f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
    shl AS (
      SELECT doc_id, w,
             CASE WHEN len(w) >= 3
                  THEN [array_to_string(list_slice(w, i, i+2), ' ')
                        for i in generate_series(1, len(w)-2)]
                  ELSE [] END AS sh
      FROM tok),
    df AS (
      SELECT shingle, count(*) AS doc_freq
      FROM (SELECT doc_id, unnest(list_distinct(sh)) AS shingle FROM shl)
      GROUP BY 1),
    bl AS (
      SELECT coalesce(list(shingle), []) AS b FROM df
      WHERE doc_freq >= ceil(0.01 * (SELECT count(*) FROM documents))),
    kept AS (
      SELECT doc_id, len(w) AS n_tokens,
             CASE WHEN len(w) >= 3 THEN
               [w[i] for i in generate_series(1, len(w))
                if len([j for j in generate_series(greatest(1, i-2),
                                                   least(i, len(w)-2))
                        if list_contains(b, sh[j])]) = 0]
             ELSE w END AS kw
      FROM shl, bl)
    SELECT doc_id, array_to_string(kw, ' ') AS clean_text,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_tokens - len(kw) AS BIGINT) AS removed_tokens
    FROM kept
    """,
)
def doc_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb-style boilerplate masking
    (``operators/boilerplate.py``): word 3-grams present in ≥1% of
    documents are detected corpus-wide, and every token covered by one
    is dropped from the emitted text.

    Scale: the boilerplate set is bounded independent of corpus size
    (pigeonhole on the df mass — ≤ shingles-per-doc / min_doc_frac
    entries), so it is a legitimate broadcast; detection is one
    hash-agg on the shingle key, masking is row-local
    higher-order-function work. Zero extra shuffles, no Python.
    """
    return remove_boilerplate(
        t(spark, sf_dir, "documents"), k=3, min_doc_frac=0.01
    )


@query(
    "training_split_counts",
    f"""
    WITH s AS (
      SELECT doc_id, n_chars,
             {md5_int_sql("'split:0:' || CAST(doc_id AS VARCHAR)")} % 1000000 AS b,
             md5('shuffle:0:' || CAST(doc_id AS VARCHAR)) AS ok
      FROM documents)
    SELECT CASE WHEN b < 800000 THEN 'train'
                WHEN b < 900000 THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(ok) AS first_order_key
    FROM s GROUP BY 1
    """,
)
def training_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment + the shuffled
    export's order key (``operators/export.py``): per-split document
    and character totals, plus the minimum shuffle-order key (pins the
    md5 order-key derivation cross-engine).

    Scale: split assignment is a narrow md5→CASE projection (no
    shuffle, composes with scan pruning); the rollup is one hash-agg on
    a 3-value key. Key-hash determinism is the point — the same doc
    lands in the same split on every engine, run, and retry, which
    seeded RNGs cannot promise on Spark.
    """
    docs = train_val_test_split(
        t(spark, sf_dir, "documents"),
        fracs={"train": 0.8, "val": 0.1, "test": 0.1},
        seed=0,
    )
    return docs.groupBy("split").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min(shuffle_order_key(F.col("doc_id"), seed=0)).alias(
            "first_order_key"
        ),
    )


# Rows-only: per-round argmax is not SQL-expressible; BPE
# semantics are pinned against a reference implementation in
# tests/test_bpe.py — the KMeans/IVF posture.
@query("bpe_merges")
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary induction over the documents corpus
    (``operators/bpe.py``): the first 10 learned merges in application
    order. Training iterates on the word-TYPE table (vocabulary-
    bounded, not the corpus — one corpus-wide aggregation total);
    per-round driver traffic is a single argmax row, and the type
    table is checkpointed each round so the plan stays flat."""
    from ..operators.bpe import train_bpe

    merges = train_bpe(
        t(spark, sf_dir, "documents"), num_merges=10
    )
    return spark.createDataFrame(
        [(i, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "merge_ix long, left string, right string, merged string",
    )


@query("doc_bpe_token_stats")
def doc_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full tokenizer lifecycle in one catalog query: TRAIN 12 BPE
    merges on the corpus (word-type-table iteration, ``train_bpe``),
    then APPLY them corpus-wide (``segment_words`` — a pure Catalyst
    fold over the merge literals, zero Python in the apply pass) and
    report per-language token economics: whitespace words vs BPE
    symbols per document (the compression a curation team actually
    tracks when choosing vocab size). 12 merges: each training round
    costs fixed scheduler time at toy scale, and a dozen is enough to
    prove the train→apply composition; production would run thousands
    of rounds on the same vocabulary-bounded loop.

    Rows-only (training's per-round argmax is not SQL-expressible;
    the APPLY fold is reference-pinned in tests/test_bpe.py). Scale:
    apply is a row-local projection — it composes into any scan at
    full corpus width; only training iterates, and only on the
    vocabulary."""
    from ..operators.bpe import segment_words, train_bpe
    from ..operators.text import tokens as _tokens

    docs = t(spark, sf_dir, "documents")
    merges = train_bpe(docs, num_merges=12)
    words = _tokens(F.lower(F.col("text")))
    seg = segment_words(F.col("text"), merges)
    per_doc = docs.select(
        "lang",
        F.size(words).alias("n_words"),
        F.size(seg).alias("n_bpe"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.sum("n_bpe").cast("long").alias("total_bpe_symbols"),
            F.round(F.sum("n_bpe") / F.sum("n_words"), 4).alias(
                "symbols_per_word"
            ),
        )
        .orderBy("lang")
    )


def _split_case_sql(key_expr: str, seed: int = 0) -> str:
    """The 80/10/10 split CASE over an arbitrary key expression —
    DuckDB replica of ``export.split_label`` (same md5 ppm bucket)."""
    b = md5_int_sql(f"'split:{seed}:' || CAST({key_expr} AS VARCHAR)")
    return f"""CASE WHEN {b} % 1000000 < 800000 THEN 'train'
               WHEN {b} % 1000000 < 900000 THEN 'val'
               ELSE 'test' END"""


def _leakage_audit_sql() -> str:
    from .queries_text import _minhash_sql

    return f"""
    WITH pairs AS ({_minhash_sql()}),
    s AS (SELECT doc_id, {_split_case_sql("doc_id")} AS split FROM documents)
    SELECT sa.split AS split_a, sb.split AS split_b,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs JOIN s sa ON sa.doc_id = pairs.id_a
               JOIN s sb ON sb.doc_id = pairs.id_b
    GROUP BY 1, 2
    """


@query("split_leakage_audit", _leakage_audit_sql())
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-leakage audit: count near-dup pairs (MinHash-LSH, jaccard
    ≥ 0.5) by the (split_a, split_b) of their endpoints under the
    naive per-document 80/10/10 split. Off-diagonal rows ARE the
    leakage a cluster-aware split eliminates (see
    ``leakage_safe_split_counts``).

    Scale: the pair set is the already-sub-quadratic LSH output; split
    assignment is a narrow projection joined on the pair endpoints
    (AQE-sized); the rollup key domain is ≤9 rows.
    """
    from ..operators.dedup import minhash_lsh_pairs
    from ..operators.export import train_val_test_split

    docs = t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, k=3, num_hashes=12, bands=4, verify_threshold=0.5
    )
    s = train_val_test_split(
        docs.select("doc_id"),
        fracs={"train": 0.8, "val": 0.1, "test": 0.1},
        seed=0,
    )
    sa = s.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
    )
    sb = s.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy("split_a", "split_b")
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )


def _leakage_safe_sql() -> str:
    from .queries_text import _closure_ctes, _minhash_sql

    return f"""
    WITH pairs AS ({_minhash_sql()}),
    edges AS MATERIALIZED (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b AS a, id_a AS b FROM pairs),
    {_closure_ctes()},
    rep AS (
      SELECT d.doc_id, coalesce(comp.component, d.doc_id) AS r
      FROM documents d LEFT JOIN comp ON comp.id = d.doc_id),
    s AS (
      SELECT doc_id,
             {_split_case_sql("r")} AS split,
             {_split_case_sql("doc_id")} AS naive_split
      FROM rep)
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN split != naive_split THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved
    FROM s GROUP BY 1
    """


@query("leakage_safe_split_counts", _leakage_safe_sql())
def leakage_safe_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware splitting (``operators/export.py::
    leakage_safe_split``): every document hashes its duplicate-cluster
    REPRESENTATIVE into the 80/10/10 split, so near-duplicates always
    land together; reports per-split sizes and how many docs moved
    relative to the naive per-document split.

    Scale: components from the large-star/small-star loop over the
    sub-quadratic LSH pair set; the corpus re-join is id-keyed and
    AQE-sized; split assignment stays a narrow md5 projection.
    """
    from ..operators.dedup import minhash_lsh_pairs
    from ..operators.export import leakage_safe_split, split_label

    docs = t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, k=3, num_hashes=12, bands=4, verify_threshold=0.5
    )
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = leakage_safe_split(
        docs.select("doc_id"), pairs, fracs=fr, seed=0
    ).withColumn("naive_split", split_label(F.col("doc_id"), fr, seed=0))
    return out.groupBy("split").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(
            F.when(F.col("split") != F.col("naive_split"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_moved"),
    )


_BUDGET_TOKENS = 800
# Same oracle-portable quality expression the curation pipeline uses
# (plans/queries_text.py::_curate_sql): every term is either an exact
# comparison or a single division / fixed-order weighted sum, so the
# doubles are bit-identical cross-engine (left UNROUNDED on both sides
# per the rounding policy: only order-dependent aggregates get r4).
_QUALITY_SQL = """
     0.4 * (CASE WHEN len(w) BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
   + 0.3 * (len(list_distinct(w)) * 1.0 / len(w))
   + 0.3 * (CASE WHEN len(list_filter(w, x -> list_contains({stop}, x)))
                      * 1.0 / len(w) > 0.0
                  AND len(list_filter(w, x -> list_contains({stop}, x)))
                      * 1.0 / len(w) < 0.6
                 THEN 1.0 ELSE 0.0 END)"""


def _budget_sql() -> str:
    from .queries_text import _STOP_SQL

    quality = _QUALITY_SQL.format(stop=_STOP_SQL)
    return f"""
    WITH tok AS (SELECT doc_id, source, {_SQL_TOKENS} AS w FROM documents),
    q AS (SELECT doc_id, source, len(w) AS n_tokens, {quality} AS quality
          FROM tok),
    r AS (SELECT *, sum(n_tokens) OVER (
            PARTITION BY source ORDER BY quality DESC, doc_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM q),
    k AS (SELECT * FROM r WHERE cum <= {_BUDGET_TOKENS})
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs_kept,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_kept,
           min(quality) AS min_quality
    FROM k GROUP BY 1
    """


@query("budget_selected_sources", _budget_sql())
def budget_selected_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection (``operators/selection.py``): per
    source, admit documents in (quality DESC, doc_id) order while the
    running token total fits an 800-token budget — the "best N tokens
    per domain" step between scoring and export; reports per-source
    kept counts, token mass, and the admission-quality floor.

    This entry runs the EXACT windowed path (per-source sort — fine
    when one executor can sort a source). The 100 TB variant is
    ``budget_quality_cutoff``: histogram the quality mass, cumulate
    over ≤1000 metadata rows per source, filter by the emitted cutoff
    — one hash-agg + narrow filter, no per-source sort; both
    implementations are cross-checked in tests.
    """
    from ..operators.selection import select_top_quality_within_budget
    from ..operators.text import quality_score, token_count, tokens

    docs = t(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        quality_score(F.col("text"), tokens(F.lower(F.col("text")))).alias(
            "quality"
        ),
    )
    kept = select_top_quality_within_budget(
        staged, _BUDGET_TOKENS, "quality", "n_tokens", "source", "doc_id"
    )
    return kept.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs_kept"),
        F.sum("n_tokens").cast("long").alias("tokens_kept"),
        F.min("quality").alias("min_quality"),
    )


@query(
    "doc_lm_bigram_scores",
    f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
    pos AS (
      SELECT doc_id, unnest(w) AS cur,
             unnest([CASE WHEN i > 1 THEN w[i-1] END
                     for i in generate_series(1, len(w))]) AS prev
      FROM tok),
    uni AS (SELECT cur AS token, count(*) AS c FROM pos GROUP BY 1),
    big AS (SELECT prev, cur, count(*) AS pc FROM pos
            WHERE prev IS NOT NULL GROUP BY 1, 2),
    ctx AS (SELECT prev, sum(pc) AS cc FROM big GROUP BY 1),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total,
                   CAST(count(*) AS DOUBLE) AS vocab FROM uni),
    sc AS (
      SELECT pos.doc_id, count(*) AS n_tokens,
             avg(ln(CASE WHEN pos.prev IS NULL
                         THEN (uni.c + 0.5) / (total + 0.5 * (vocab + 1))
                         ELSE 0.7 * (big.pc * 1.0 / ctx.cc)
                              + 0.3 * ((uni.c + 0.5)
                                       / (total + 0.5 * (vocab + 1)))
                    END)) AS a
      FROM pos
      JOIN uni ON uni.token = pos.cur
      LEFT JOIN big ON big.prev = pos.prev AND big.cur = pos.cur
      LEFT JOIN ctx ON ctx.prev = pos.prev, tot
      GROUP BY pos.doc_id)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(a, 4) AS avg_logprob, ROUND(exp(-a), 4) AS perplexity
    FROM sc
    """,
)
def doc_lm_bigram_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM perplexity (``operators/lm.py``
    ``train_bigram``/``score_documents_bigram``): Jelinek-Mercer
    ``λ·P_ML(w|v) + (1-λ)·P_uni(w)`` with add-k unigram backoff — a
    sharper CCNet-style quality axis than the unigram entry (catches
    locally-incoherent token soup that unigram statistics miss).

    Scale: bigram extraction is row-local (zip over the token array
    and its shift — no positional self-join); training is one hash-agg
    on (prev, token); scoring joins pair counts, context totals, and
    the unigram model on natural keys, all AQE-sized; corpus totals
    ride the 1-row broadcast scalar join.
    """
    docs = t(spark, sf_dir, "documents")
    # materialize the two model frames once: scoring consumes the
    # unigram twice (corpus totals + the per-token join) and the
    # bigram twice (context totals + the pair join), and each lazy
    # reference re-runs the full tokenize+explode+agg training pass —
    # 4 extra corpus tokenizations without this. Both frames are
    # aggregates (vocab / distinct-pair grain), far smaller than the
    # corpus they summarize.
    uni = pin(train_unigram(docs))
    big = pin(train_bigram(docs))
    return score_documents_bigram(docs, uni, big)


def _classifier_sql() -> str:
    """DuckDB replica of the fixed-lexicon classifier — the CASE chain
    is generated from the SAME bucket→weight dict as the Spark plan
    (``operators/classifier.py``), so the two can never drift."""
    from ..operators.classifier import N_BUCKETS, fixed_milli_weight_sql

    case = fixed_milli_weight_sql("h")
    bucket = f"{md5_int_sql('t', n=6)} % {N_BUCKETS}"
    return f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
    big AS (
      SELECT doc_id, w,
             CASE WHEN len(w) >= 2
                  THEN [array_to_string(list_slice(w, i, i+1), ' ')
                        for i in generate_series(1, len(w)-1)]
                  ELSE [] END AS bg
      FROM tok),
    f AS (
      SELECT doc_id,
             list_transform(w, t -> {bucket})
             || list_transform(bg, t -> {bucket}) AS hs
      FROM big),
    s AS (
      SELECT doc_id, len(hs) AS n_features,
             len(list_filter(hs, h -> ({case}) != 0)) AS lex_hits,
             CAST(coalesce(list_sum(list_transform(hs, h -> {case})), 0)
                  AS BIGINT) AS milli_total
      FROM f),
    l AS (
      SELECT *, -0.5 + CASE WHEN n_features > 0
                            THEN milli_total * 10.0 / (1000.0 * n_features)
                            ELSE 0.0 END AS logit
      FROM s)
    SELECT doc_id, CAST(n_features AS BIGINT) AS n_features,
           CAST(lex_hits AS BIGINT) AS lex_hits, milli_total,
           ROUND(logit, 4) AS quality_logit,
           ROUND(1.0 / (1.0 + exp(-logit)), 4) AS quality_prob,
           CASE WHEN 1.0 / (1.0 + exp(-logit)) >= 0.5
                THEN 'keep' ELSE 'drop' END AS label
    FROM l
    """


@query("doc_quality_classifier", _classifier_sql())
def doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed n-gram linear classifier, fixed-lexicon
    inference (``operators/classifier.py``): hash unigrams + word
    bigrams into 4096 buckets, fold integer milli-weights over the
    feature array, sigmoid — the CCNet/GPT-3 quality-classifier
    curation axis. The trained-model path (MLlib logistic regression
    over the same portable feature space) is exercised in
    ``tests/test_classifier.py``.

    Scale: inference is a zero-shuffle narrow projection fused into
    the scan — the model ships as the expression tree, the corpus
    never moves; integer accumulation keeps the hash cross-engine
    exact with no float-order sensitivity.
    """
    from ..operators.classifier import score_fixed_lexicon

    return score_fixed_lexicon(t(spark, sf_dir, "documents"))


# Target mixture: 20 sources, per-mille weights 30..70 cycling so the
# demo exercises both scarce-limited (w=70 saturates first) and
# down-sampled (w=30) sources. Sum = 1000.
_MIX_WEIGHTS = {f"src{i}": 30 + (i % 5) * 10 for i in range(20)}
_MIX_CASE = "CASE source " + " ".join(
    f"WHEN '{s}' THEN {w}" for s, w in sorted(_MIX_WEIGHTS.items())
) + " ELSE 0 END"


@query(
    "mixture_source_counts",
    f"""
    WITH c AS (SELECT source, count(*) AS n_src FROM documents GROUP BY 1),
    w AS (SELECT source, n_src, {_MIX_CASE} AS w_pm FROM c),
    wf AS (SELECT * FROM w WHERE w_pm > 0),
    cap AS (SELECT min(n_src * 1000 // w_pm) AS n_total FROM wf),
    r AS (SELECT source, n_src, w_pm, (w_pm * n_total) // n_src AS rate_pm
          FROM wf, cap),
    k AS (SELECT d.source, count(*) AS n_kept
          FROM documents d JOIN r USING (source)
          WHERE {md5_int_sql("'mix:0:' || CAST(doc_id AS VARCHAR)", n=6)}
                % 1000 < r.rate_pm
          GROUP BY 1)
    SELECT r.source AS source,
           CAST(r.n_src AS BIGINT) AS n_docs_in,
           CAST(r.rate_pm AS BIGINT) AS rate_permille,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_docs_kept
    FROM r LEFT JOIN k USING (source)
    """,
)
def mixture_source_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling audit (``operators/sampling.py``
    ``mixture_rates``/``mixture_resample``): resample the corpus to a
    target per-source mixture (the Pile/Gopher data-mixture knob) and
    report, per source, inventory, the integer keep rate, and how many
    documents the salted-hash gate actually kept.

    Everything is integer arithmetic (``DIV``) + a salted md5
    per-mille bucket, so the plan and the SQL oracle agree bit-for-bit
    — no float thresholds. Scale: one low-cardinality hash-agg for
    rates (map-side partials), a 1-row broadcast scalar join for the
    feasibility cap, then a narrow per-row filter — the corpus never
    shuffles, acceptance is skew-immune, and the whole thing is
    idempotent across retries (hash, not RNG).
    """
    from ..operators.sampling import mixture_rates, mixture_resample

    docs = t(spark, sf_dir, "documents")
    rates = mixture_rates(docs, "source", _MIX_WEIGHTS)
    kept = (
        mixture_resample(docs, "doc_id", "source", _MIX_WEIGHTS)
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            F.col("n_src").cast("long").alias("n_docs_in"),
            F.col("rate_pm").cast("long").alias("rate_permille"),
            F.coalesce(F.col("n_kept"), F.lit(0))
            .cast("long")
            .alias("n_docs_kept"),
        )
    )


@query(
    "temperature_mixture_counts",
    f"""
    WITH c AS (SELECT source, count(*) AS n_src FROM documents GROUP BY 1),
    m AS (SELECT min(n_src) AS n_min FROM c),
    r AS (SELECT source, n_src,
                 CAST(floor(1000.0 * sqrt(CAST(n_min AS DOUBLE)
                                          / CAST(n_src AS DOUBLE)))
                      AS BIGINT) AS rate_pm
          FROM c, m),
    k AS (SELECT d.source, count(*) AS n_kept
          FROM documents d JOIN r USING (source)
          WHERE {md5_int_sql("'temp:0:' || CAST(doc_id AS VARCHAR)", n=6)}
                % 1000 < r.rate_pm
          GROUP BY 1)
    SELECT r.source AS source,
           CAST(r.n_src AS BIGINT) AS n_docs_in,
           CAST(r.rate_pm AS BIGINT) AS rate_permille,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_docs_kept
    FROM r LEFT JOIN k USING (source)
    """,
)
def temperature_mixture_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (α-power) mixture resampling audit
    (``operators/sampling.py`` ``temperature_rates``/
    ``temperature_resample``): the multilingual-LM mixture knob —
    sample source i ∝ n_i^α with α=0.5, so low-resource sources are
    upweighted relative to their inventory (XLM-R/mBERT exponent
    smoothing) — beside the EXPLICIT-weights knob
    (``mixture_source_counts``); reports per source the inventory,
    the realized integer keep rate, and what the salted-hash gate
    actually kept.

    α=0.5 makes the rate ``floor(1000·sqrt(n_min/n_i))`` — sqrt is
    IEEE-correctly-rounded in BOTH engines, so even the float leg of
    the rate computation is bit-identical and the oracle is full.

    Scale: one low-cardinality hash agg for rates, 1-row broadcast
    n_min scalar, then a narrow skew-immune per-row filter — the
    corpus never shuffles; idempotent across retries (hash, not
    RNG)."""
    from ..operators.sampling import temperature_rates, temperature_resample

    docs = t(spark, sf_dir, "documents")
    rates = temperature_rates(docs, "source", alpha=0.5)
    kept = (
        temperature_resample(docs, "doc_id", "source", alpha=0.5)
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            F.col("n_src").cast("long").alias("n_docs_in"),
            F.col("rate_pm").cast("long").alias("rate_permille"),
            F.coalesce(F.col("n_kept"), F.lit(0))
            .cast("long")
            .alias("n_docs_kept"),
        )
    )


_DSIR_TOP = 50


@query(
    "dsir_selected_docs",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, source, (lang = 'en') AS tgt,
             unnest({_SQL_TOKENS}) AS token
      FROM documents),
    model AS (
      SELECT token,
             sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
             sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS cr
      FROM tok GROUP BY 1),
    tot AS (SELECT CAST(sum(ct) AS DOUBLE) AS tt,
                   CAST(sum(cr) AS DOUBLE) AS tr,
                   CAST(count(*) AS DOUBLE) AS v FROM model),
    r AS (SELECT token,
                 ln((ct + 0.5) / (tt + 0.5 * (v + 1))) -
                 ln((cr + 0.5) / (tr + 0.5 * (v + 1))) AS lr
          FROM model, tot),
    sc AS (
      SELECT tok.doc_id, tok.lang, tok.source,
             CAST(count(*) AS BIGINT) AS n_tokens,
             ROUND(sum(lr), 4) AS log_weight
      FROM tok JOIN r USING (token)
      WHERE NOT tgt
      GROUP BY 1, 2, 3)
    SELECT doc_id, lang, source, n_tokens, log_weight,
           CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (
            ORDER BY log_weight DESC, doc_id) AS rnk FROM sc)
    WHERE rnk <= {_DSIR_TOP}
    """,
)
def dsir_selected_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance selection (``operators/dsir.py``; Xie et al.
    2023, arXiv:2302.03169): treat English documents as the target
    domain, train target/raw unigram LMs in one shared hash-agg, score
    every non-English document with its summed token log-likelihood
    ratio, and keep the top 50 — "which raw documents look most like
    the target corpus". The deterministic ranking mode backs the
    oracle; the paper's Gumbel-top-k resampler is pytest-verified in
    tests/test_selection.py.

    Scale: tokens explode ONCE feeding both LMs as conditional sums;
    totals ride a 1-row broadcast; the ratio join is AQE-strategized
    on the token key; the final top-k is a bounded window over the
    per-doc aggregate (TakeOrdered shape at real cardinalities).
    """
    from ..operators.dsir import dsir_scores, dsir_select

    docs = t(spark, sf_dir, "documents")
    scores = dsir_scores(
        docs, F.col("lang") == "en", carry_cols=("lang", "source")
    )
    return dsir_select(scores, _DSIR_TOP).select(
        "doc_id", "lang", "source", "n_tokens", "log_weight", "rank"
    )


@query(
    "k_anonymity_audit",
    """
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS group_size,
           count(*) < 10 AS at_risk
    FROM customer GROUP BY 1, 2
    """,
)
def k_anonymity_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release audit (Sweeney 2002) on the customer table's
    quasi-identifier pair (nation, market segment): group sizes and the
    at-risk flag for groups smaller than k=10 — the privacy gate beside
    PII redaction. One hash agg, group count bounded by the
    quasi-identifier domain."""
    from ..operators.redact import k_anonymity_audit

    return k_anonymity_audit(
        t(spark, sf_dir, "customer"), ["c_nationkey", "c_mktsegment"], k=10
    )


@query(
    "ccnet_perplexity_buckets",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS token FROM documents),
    model AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total,
                   CAST(count(*) AS DOUBLE) AS vocab FROM model),
    sc AS (
      SELECT tok.doc_id,
             avg(ln((model.c + 0.5) / (total + 0.5 * (vocab + 1)))) AS a
      FROM tok JOIN model USING (token), tot
      GROUP BY tok.doc_id),
    scored AS (SELECT doc_id, ROUND(exp(-a), 4) AS perplexity FROM sc),
    j AS (
      SELECT s.doc_id, d.lang, s.perplexity
      FROM scored s JOIN documents d USING (doc_id)
      WHERE s.perplexity IS NOT NULL),
    r AS (
      SELECT doc_id, lang, perplexity,
             row_number() OVER (PARTITION BY lang
                                ORDER BY perplexity, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM j)
    SELECT doc_id, lang, perplexity,
           CASE CAST(floor((rn - 1) * 3.0 / n) AS INT) + 1
             WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
             END AS bucket
    FROM r
    """,
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail quality tiers (Wenzek et al. 2020,
    arXiv:1911.00359): per language, rank documents by corpus-LM
    perplexity (most fluent first, doc_id tiebreak) and cut into
    terciles — the bucket knob CCNet exposes so a pretraining mix can
    keep head+middle and drop tail.

    Scale — NO per-language ntile window over raw documents (a
    per-lang window sorts an unbounded partition in one task; exactly
    the shape ``orders_global_seq`` exists to avoid). Instead:
    ``global_sequence`` over (lang, perplexity, doc_id) — one range
    exchange, per-partition local sorts, driver holds #partitions
    longs — then per-lang (min_seq, n) via one tiny agg broadcast
    back; tercile = floor((rank−1)·3/n)+1 in exact arithmetic
    ((rank−1)·3 < 2⁵³ ⇒ the double division cannot cross an integer
    boundary for any real n). The oracle uses the same closed form
    over row_number, which IS ntile's split (first n mod 3 groups one
    larger)."""
    from ..operators.sequence import global_sequence

    docs = t(spark, sf_dir, "documents")
    # model checkpoint: see doc_lm_scores (the scorer reads it twice)
    scored = score_documents(docs, pin(train_unigram(docs)))
    sc = (
        scored.join(docs.select("doc_id", "lang"), "doc_id")
        .filter(F.col("perplexity").isNotNull())
        .select("doc_id", "lang", "perplexity")
    )
    seq = global_sequence(sc, ["lang", "perplexity", "doc_id"], out_col="_seq")
    grp = seq.groupBy("lang").agg(
        F.min("_seq").alias("_min"), F.count("*").alias("_n")
    )
    ranked = seq.join(F.broadcast(grp), "lang")
    rank = F.col("_seq") - F.col("_min") + 1
    nt = F.floor((rank - 1) * 3 / F.col("_n")) + 1
    return ranked.select(
        "doc_id",
        "lang",
        "perplexity",
        F.when(nt == 1, F.lit("head"))
        .when(nt == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
