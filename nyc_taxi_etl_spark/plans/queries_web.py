"""Web-curation and IR catalog queries: URL parsing / per-domain
profiles / per-domain quota caps, and BM25 relevance scoring.

North-star extension — the web-pipeline operations (CCNet/RefinedWeb
style) a crawl-derived training corpus needs: group documents by
registered host, cap any one domain's contribution (boilerplate farms
dominate raw crawls), and rank documents against a query with the
standard BM25 function (the retrieval companion to the TF-IDF entry).

The synthetic documents table has no URL column, so a deterministic
URL is synthesized from (source, lang, doc_id) IDENTICALLY in Spark
and the oracle (the same restructuring pattern the PII/Gopher entries
use) — Spark then parses it back with the real ``parse_url``
expression while the oracle re-derives the parts with regexes, so the
Spark side exercises genuine URL parsing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import text as X
from ..pins import pin
from .queries import query, t

# deterministic synthetic URL, same construction in both engines
_URL_SQL = (
    "'https://www.' || source || '.example-' || CAST(doc_id % 3 AS VARCHAR)"
    " || '.com/' || lang || '/doc-' || CAST(doc_id AS VARCHAR)"
    " || '.html?ref=' || CAST(doc_id % 7 AS VARCHAR)"
)


def _url_col() -> F.Column:
    return F.concat(
        F.lit("https://www."),
        F.col("source"),
        F.lit(".example-"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit(".com/"),
        F.col("lang"),
        F.lit("/doc-"),
        F.col("doc_id").cast("string"),
        F.lit(".html?ref="),
        (F.col("doc_id") % 7).cast("string"),
    )


@query(
    "url_host_profile",
    f"""
    WITH u AS (
      SELECT doc_id, lang, n_chars, {_URL_SQL} AS url FROM documents),
    parsed AS (
      SELECT doc_id, lang, n_chars,
             regexp_extract(url, 'https://([^/]+)/', 1) AS host,
             regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS path,
             regexp_extract(url, 'ref=([0-9]+)', 1) AS ref
      FROM u)
    SELECT host,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(DISTINCT ref) AS BIGINT) AS n_refs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(path) AS first_path
    FROM parsed GROUP BY 1
    """,
)
def url_host_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl profile: document count, language spread,
    distinct ref-params, total bytes-ish chars, lexicographically
    first path — the table a crawl-curation run consults before
    deciding domain quotas. Spark parses with the built-in
    ``parse_url`` (HOST/PATH/QUERY:ref — codegen'd, zero shuffles
    before the host agg); the oracle re-derives the parts by regex.

    Scale: one hash-agg keyed by host. Host count scales sublinearly
    with corpus size, and pathological single-host skew is exactly
    what the cap entry below exists to bound."""
    docs = t(spark, sf_dir, "documents").withColumn("url", _url_col())
    parsed = docs.select(
        "lang",
        "n_chars",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("ref")).alias("ref"),
    )
    return parsed.groupBy("host").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("ref").alias("n_refs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("path").alias("first_path"),
    )


@query(
    "domain_capped_docs",
    f"""
    WITH u AS (
      SELECT doc_id, n_chars,
             regexp_extract({_URL_SQL}, 'https://([^/]+)/', 1) AS host
      FROM documents),
    ranked AS (
      SELECT doc_id, host, n_chars,
             row_number() OVER (PARTITION BY host
                                ORDER BY n_chars DESC, doc_id ASC) AS rk
      FROM u)
    SELECT doc_id, host, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(rk AS BIGINT) AS host_rank
    FROM ranked WHERE rk <= 4
    """,
)
def domain_capped_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota cap (RefinedWeb-style): keep at most 4
    documents per host, preferring the longest (n_chars DESC, doc_id
    tiebreak) — the guard that stops template farms from dominating a
    crawl-derived corpus.

    Scale: one window over the host partitioning; a hot host makes
    one fat partition, but the rank predicate truncates its OUTPUT to
    the cap — for extreme skew swap to the two-phase top-k
    (per-partition partial top-k then final), same contract."""
    docs = t(spark, sf_dir, "documents").withColumn("url", _url_col())
    u = docs.select(
        "doc_id",
        "n_chars",
        F.parse_url("url", F.lit("HOST")).alias("host"),
    )
    w = Window.partitionBy("host").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        u.withColumn("host_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("host_rank") <= 4)
        .select("doc_id", "host", F.col("n_chars").cast("long").alias("n_chars"), "host_rank")
    )


_BM25_TERMS = ("spark", "hash", "window")
_K1, _B = 1.2, 0.75


def _bm25_ctes() -> str:
    """BM25 scoring as a CTE chain (no WITH keyword, ends at
    ``scored``) so other oracles — the RRF hybrid — can compose it."""
    terms = ", ".join(f"'{w}'" for w in _BM25_TERMS)
    return f"""tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
      FROM documents),
    dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl
           FROM tok WHERE term <> '' GROUP BY 1),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                     (SELECT avg(dl) FROM dl) AS avgdl
              FROM documents),
    tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
           FROM tok WHERE term IN ({terms}) GROUP BY 1, 2),
    dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id,
             sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
                 * tf.tf * ({_K1} + 1)
                 / (tf.tf + {_K1} * (1 - {_B} + {_B} * dl.dl / s.avgdl)))
               AS score,
             CAST(count(*) AS BIGINT) AS terms_matched
      FROM tf
      JOIN dfreq d USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats s
      GROUP BY 1)"""


def _bm25_sql() -> str:
    return f"""
    WITH {_bm25_ctes()}
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           ROUND(score, 4) AS bm25, terms_matched
    FROM scored
    """


@query("bm25_scores", _bm25_sql())
def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (Robertson/Sparck Jones; k1=1.2, b=0.75) document scores
    for a fixed query — the probabilistic-IR companion to the TF-IDF
    entry, scoring every matching document (no float top-k cut: ulp
    could flip cut membership across engines; a caller ranks with a
    doc_id tiebreak).

    Scale: tf for the |Q| query terms is one token-explode + hash-agg
    whose output is |matching docs|·|Q| rows; doc lengths are a
    second agg over the same explode; N/avgdl and the per-term df
    ride 1-row / |Q|-row broadcasts, so the scoring join never
    shuffles the corpus — the plan is two aggregations and a
    broadcast-joined combine."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(X.tokens(F.lower(F.col("text")))).alias("term")
    ).filter(F.col("term") != "")
    # ONE corpus scan: per-doc length AND the per-query-term tfs come
    # out of a single hash-agg (|Q| is small and known, so each term
    # is a conditional-count column) — the dl/tf-as-separate-branches
    # form re-explodes the corpus twice.
    per_doc = tok.groupBy("doc_id").agg(
        F.count("*").cast("double").alias("dl"),
        *[
            F.sum((F.col("term") == w).cast("double")).alias(f"tf_{i}")
            for i, w in enumerate(_BM25_TERMS)
        ],
    )
    # shared by stats, dfreq, and scoring
    per_doc = pin(per_doc)
    stats = per_doc.agg(
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("double")).alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
        # N is the CORPUS size (incl. token-less docs, per the BM25
        # definition) — a count-only parquet scan, no column reads
    ).crossJoin(
        F.broadcast(docs.agg(F.count("*").cast("double").alias("n")))
    )
    matched = per_doc.filter(
        sum(
            (F.col(f"tf_{i}") > 0).cast("int")
            for i in range(len(_BM25_TERMS))
        )
        > 0
    )
    scored = matched.crossJoin(F.broadcast(stats))
    term_score = [
        F.when(
            F.col(f"tf_{i}") > 0,
            F.log(
                F.lit(1.0)
                + (F.col("n") - F.col(f"df_{i}") + 0.5)
                / (F.col(f"df_{i}") + 0.5)
            )
            * F.col(f"tf_{i}")
            * F.lit(_K1 + 1)
            / (
                F.col(f"tf_{i}")
                + F.lit(_K1)
                * (1 - _B + F.lit(_B) * F.col("dl") / F.col("avgdl"))
            ),
        ).otherwise(F.lit(0.0))
        for i in range(len(_BM25_TERMS))
    ]
    n_matched = sum(
        (F.col(f"tf_{i}") > 0).cast("long")
        for i in range(len(_BM25_TERMS))
    )
    return scored.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round(sum(term_score), 4).alias("bm25"),
        n_matched.alias("terms_matched"),
    )


_RRF_K = 60
_RRF_LIST = 50
_RRF_TOP = 20


def _hybrid_sql() -> str:
    from .queries_text import _SQL_VEC, _cos_sql

    return f"""
    WITH {_bm25_ctes()},
    sparse AS (SELECT doc_id, ROUND(score, 4) AS bm25 FROM scored),
    sr AS (
      SELECT doc_id, r FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
        FROM sparse)
      WHERE r <= {_RRF_LIST}),
    dd AS (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings),
    qv AS (SELECT v AS q FROM dd WHERE vec_id = 0),
    dscore AS (
      SELECT c.vec_id, {_cos_sql("q.q", "c.v")} AS sim
      FROM dd c CROSS JOIN qv q WHERE c.vec_id != 0),
    dr AS (
      SELECT vec_id, r FROM (
        SELECT vec_id,
               row_number() OVER (ORDER BY sim DESC, vec_id) AS r
        FROM dscore)
      WHERE r <= {_RRF_LIST}),
    fused AS (
      SELECT coalesce(sr.doc_id, dr.vec_id) AS doc_id,
             sr.r AS sparse_rank, dr.r AS dense_rank,
             coalesce(1.0 / ({_RRF_K} + sr.r), 0.0)
               + coalesce(1.0 / ({_RRF_K} + dr.r), 0.0) AS rrf
      FROM sr FULL OUTER JOIN dr ON sr.doc_id = dr.vec_id)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(sparse_rank AS BIGINT) AS sparse_rank,
           CAST(dense_rank AS BIGINT) AS dense_rank,
           rrf AS rrf_score
    FROM fused
    ORDER BY rrf DESC, doc_id
    LIMIT {_RRF_TOP}
    """


@query("hybrid_retrieval_rrf", _hybrid_sql())
def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (Cormack, Clarke &
    Büttcher, SIGIR 2009): the BM25 top-50 for the fixed keyword query
    and the exact-cosine top-50 for a fixed query embedding ("more
    like document 0") are fused by RRF(d) = Σ_lists 1/(60 + rank_d) —
    the standard sparse+dense combiner behind modern RAG retrieval,
    composed entirely from the engine's existing scorers (bm25_scores;
    operators/similarity.py::brute_force_knn).

    Determinism: both lists rank with a doc-id tiebreak; BM25 ranks on
    the SAME 4-dp rounded score in both engines; the RRF sum is two
    exact-integer reciprocals added in fixed order — bit-identical.

    Scale: each list is a TakeOrdered top-50 (never a global sort);
    the rank windows run over the ALREADY-CUT 50-row lists; the dense
    side broadcasts ONE query vector over a single corpus pass; the
    fusion joins two 50-row frames. Nothing here grows faster than the
    corpus scans that feed it."""
    from ..operators import similarity as S

    sparse = bm25_scores(spark, sf_dir).select("doc_id", "bm25")
    top_s = sparse.orderBy(F.col("bm25").desc(), "doc_id").limit(_RRF_LIST)
    w = Window.orderBy(F.col("bm25").desc(), "doc_id")
    sr = top_s.withColumn("sparse_rank", F.row_number().over(w)).select(
        "doc_id", "sparse_rank"
    )
    emb = t(spark, sf_dir, "embeddings")
    q0 = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dr = S.brute_force_knn(emb, q0, k=_RRF_LIST).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("dense_rank"),
    )
    fused = sr.join(dr, "doc_id", "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("sparse_rank")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("dense_rank")), F.lit(0.0)
    )
    return (
        fused.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("sparse_rank").cast("long").alias("sparse_rank"),
            F.col("dense_rank").cast("long").alias("dense_rank"),
            rrf.alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(_RRF_TOP)
    )


_PHRASE_TERMS = ["join", "column"]
_PHRASE_W1, _PHRASE_W2 = _PHRASE_TERMS
_TRIGRAM_TERMS = ["big", "order", "scan"]


def _phrase_oracle_sql(terms: list[str]) -> str:
    """Naive-definition oracle for a k-term phrase: scan every token
    list and count windows where all k terms match in order — the
    semantics the inverted-index plan must reproduce."""
    k = len(terms)
    cond = " AND ".join(
        f"l[i + {j}] = '{t}'" if j else f"l[i] = '{t}'"
        for j, t in enumerate(terms)
    )
    upper = f"len(l) - {k - 2}" if k > 2 else "len(l)"
    return f"""
    WITH toks AS (
      SELECT doc_id, lang,
             string_split_regex(trim(lower(text)), '\\s+') AS l
      FROM documents WHERE trim(text) <> ''),
    hits AS (
      SELECT doc_id, lang,
             len(list_filter(range(1, {upper}),
                 i -> {cond})) AS n_occurrences
      FROM toks)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           lang,
           CAST(n_occurrences AS BIGINT) AS n_occurrences
    FROM hits WHERE n_occurrences > 0
"""


def _phrase_plan(docs: DataFrame, terms: list[str]) -> DataFrame:
    """k-term positional phrase search as k-1 chained postings joins
    (r10, VERDICT r9 task #8 — the k=2 special case previously
    hardcoded). Each term's postings are a scan-level filtered slice;
    join j requires term_j at position p0 + j, an equi-join on
    (doc_id, offset position), skew-free since positions are unique
    per document."""
    if len(terms) < 2:
        raise ValueError("_phrase_plan: need at least 2 terms")
    toks = docs.select(
        "doc_id",
        "lang",
        F.posexplode(X.tokens(F.lower(F.col("text")))).alias("pos", "w"),
    )
    base = toks.filter(F.col("w") == terms[0]).select(
        "doc_id", "lang", F.col("pos").alias("p0")
    )
    for j, term in enumerate(terms[1:], start=1):
        nxt = toks.filter(F.col("w") == term).select(
            F.col("doc_id").alias(f"_d{j}"), F.col("pos").alias(f"_p{j}")
        )
        base = base.join(
            nxt,
            (F.col("doc_id") == F.col(f"_d{j}"))
            & (F.col(f"_p{j}") == F.col("p0") + j),
        ).drop(f"_d{j}", f"_p{j}")
    return (
        base.groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "lang",
            "n_occurrences",
        )
    )


_PHRASE_SQL = _phrase_oracle_sql(_PHRASE_TERMS)


@query("phrase_search_docs", _PHRASE_SQL)
def phrase_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact positional phrase search ('{w1} {w2}') over the corpus —
    the retrieval primitive BM25's bag-of-words scoring cannot
    express: the terms must be ADJACENT, in order. Returns each
    matching document with its occurrence count.

    Spark side is the inverted-index shape a search engine runs at
    scale: posexplode to (doc, position, term) postings, filter to the
    two query terms AT THE SCAN (term filters prune before any
    shuffle), then a positional self-join (doc_id equality + pos+1
    adjacency — an equi-join on both keys since the offset folds into
    the join expression) and a per-doc count. Generalizes to k-term
    phrases as k-1 chained position joins. The oracle replays the
    semantics naively (scan every token list and count adjacent
    pairs), so the index formulation is verified against the
    definition, not against itself.

    Scale: postings for two fixed terms are a tiny filtered slice of
    the corpus; the join shuffles only those postings, keyed by
    (doc_id, position) — skew-free since positions are unique per
    doc. No UDFs; tokenization is the catalog's whitespace
    ``tokens()`` on both sides."""
    docs = t(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    return _phrase_plan(docs, _PHRASE_TERMS)


# keep the docstring template literal resolved at import time
phrase_search_docs.__doc__ = phrase_search_docs.__doc__.replace(
    "{w1}", _PHRASE_W1
).replace("{w2}", _PHRASE_W2)


@query(
    "phrase_search_trigram",
    _phrase_oracle_sql(_TRIGRAM_TERMS),
)
def phrase_search_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-term positional phrase search ('big order scan') — the
    k>2 generalization the bigram entry's docstring promised (r10,
    VERDICT r9 task #8): the SAME ``_phrase_plan`` now chains k-1
    postings joins, each anchoring term_j at base position + j, so a
    k-term phrase costs k scan-level term filters and k-1 skew-free
    (doc_id, position) equi-joins — never a pass over non-matching
    tokens. The oracle replays the naive definition (scan every token
    list for in-order windows), so the chained-index formulation is
    verified against the semantics, not against itself.

    Scale: identical posture to phrase_search_docs — per-term postings
    are tiny filtered slices, intermediate match sets shrink
    monotonically with each chained term, and position keys are
    unique per doc so no reducer hot-spots exist."""
    docs = t(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    return _phrase_plan(docs, _TRIGRAM_TERMS)
