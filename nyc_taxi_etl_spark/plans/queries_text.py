"""Catalog queries for the LLM-training-data operators: text analysis,
dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard), and embedding
similarity search — each with a full DuckDB oracle.

Oracle-portability tricks (validated empirically in tests):
  * MinHash permutations = lexicographic min over ``md5(seed:shingle)``
    hex strings — identical string ops in both engines;
  * SimHash token hashes = 32-bit ints from the md5 hex prefix
    (Spark ``md5_int`` ≡ DuckDB ``md5_int_sql``, ``functions.core``);
  * cosine similarity = strict left-fold dot product in double
    precision (Spark ``aggregate``/``zip_with`` ≡ DuckDB
    ``list_sum(list_transform(list_zip(...)))``) — verified
    bit-identical, so raw doubles are hashed, no rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import width
from ..functions import md5_int_sql
from ..operators import decontam as C
from ..operators import dedup as D
from ..operators import similarity as S
from ..operators import text as X
from .queries import query, t

# ---------------------------------------------------------------------------
# Shared DuckDB SQL fragments (mirror operators/text.py exactly)
# ---------------------------------------------------------------------------

_SQL_TOKENS = "string_split_regex(trim(lower(text)), '\\s+')"

_SQL_SHINGLES_CTE = f"""
tok AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
shl AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3 THEN
                list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               for i in generate_series(1, len(w)-2)])
              WHEN len(w) > 0 THEN [array_to_string(w, ' ')]
              ELSE [] END AS sh
  FROM tok)
"""

_STOP_SQL = "[" + ",".join(f"'{s}'" for s in X.STOPWORDS) + "]"

# Shared word-3-gram Jaccard pair machinery (postings self-join over
# the shingle CTE). ONE definition feeds both the
# ngram_jaccard_near_pairs oracle and every oracle that builds a graph
# on that edge set (near_dup_triangles) — so a threshold or join-rule
# change cannot silently desynchronize them from the Spark operator
# (operators/dedup.py::ngram_jaccard_pairs) they all mirror.
_SQL_NGRAM_PAIR_CTES = f"""{_SQL_SHINGLES_CTE},
    sh AS (SELECT doc_id, unnest(sh) AS s FROM shl),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) n FROM sh GROUP BY 1),
    shared AS (
      SELECT a.doc_id id_a, b.doc_id id_b, CAST(count(*) AS BIGINT) shared
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)"""

_SQL_NGRAM_JACCARD = "shared * 1.0 / (x.n + y.n - shared)"


def ngram_pair_edges_sql(min_jaccard: float = 0.1) -> str:
    """``(id_a, id_b)`` edge SELECT over ``_SQL_NGRAM_PAIR_CTES`` at
    the given Jaccard threshold."""
    return f"""SELECT id_a, id_b
      FROM shared JOIN sizes x ON id_a = x.doc_id
      JOIN sizes y ON id_b = y.doc_id
      WHERE {_SQL_NGRAM_JACCARD} >= {min_jaccard}"""


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def _doc_profile_sql() -> str:
    structs = []
    for lang in sorted(X.LANG_MARKERS):
        markers = "[" + ",".join(f"'{m}'" for m in X.LANG_MARKERS[lang]) + "]"
        structs.append(
            "{'hits': len(list_filter(w, x -> list_contains("
            + markers
            + ", x))), 'lang': '"
            + lang
            + "'}"
        )
    arr = "[" + ", ".join(structs) + "]"
    quality = f"""
           0.4 * (CASE WHEN len(w) BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
         + 0.3 * (len(list_distinct(w)) * 1.0 / len(w))
         + 0.3 * (CASE WHEN len(list_filter(w, x -> list_contains({_STOP_SQL}, x)))
                            * 1.0 / len(w) > 0.0
                        AND len(list_filter(w, x -> list_contains({_STOP_SQL}, x)))
                            * 1.0 / len(w) < 0.6
                       THEN 1.0 ELSE 0.0 END)"""
    return f"""
    WITH tok AS (
      SELECT doc_id, lang, text, {_SQL_TOKENS} AS w FROM documents
    ),
    best AS (SELECT doc_id, list_aggregate({arr}, 'max') AS b FROM tok),
    grams AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 2 THEN
               [w[i] || ' ' || w[i+1] for i in generate_series(1, len(w)-1)]
             ELSE [] END AS bg,
             CASE WHEN len(w) >= 3 THEN
               [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                for i in generate_series(1, len(w)-2)]
             ELSE [] END AS tg
      FROM tok),
    bgc AS (SELECT doc_id, g, count(*) AS c
            FROM (SELECT doc_id, unnest(bg) AS g FROM grams) GROUP BY 1, 2),
    bga AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_bg
            FROM bgc GROUP BY 1),
    tgc AS (SELECT doc_id, g, count(*) AS c
            FROM (SELECT doc_id, unnest(tg) AS g FROM grams) GROUP BY 1, 2),
    tga AS (SELECT doc_id,
                   sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_pos,
                   sum(c) AS n_tg
            FROM tgc GROUP BY 1),
    rep AS (
      SELECT g.doc_id,
             coalesce(bga.top_c * 1.0 / bga.n_bg, 0.0) AS top_bigram_frac,
             coalesce(tga.dup_pos * 1.0 / tga.n_tg, 0.0) AS dup_trigram_frac
      FROM grams g
      LEFT JOIN bga ON g.doc_id = bga.doc_id
      LEFT JOIN tga ON g.doc_id = tga.doc_id)
    SELECT t.doc_id AS doc_id, t.lang AS lang,
           CAST(length(text) AS BIGINT) AS n_char,
           CAST(len(w) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct_tokens,
           len(list_distinct(w)) * 1.0 / len(w) AS type_token_ratio,
           len(list_filter(w, x -> list_contains({_STOP_SQL}, x))) * 1.0
             / len(w) AS stopword_ratio,
           (length(text) - (length(text) - length(replace(text, ' ', ''))))
             * 1.0 / len(w) AS avg_token_len,
           CAST(len(regexp_extract_all(lower(text),
                '[a-z]{{1,4}}|[0-9]|[^a-z0-9\\s]')) AS BIGINT)
             AS n_tokens_bpeish,
           {quality} AS quality,
           CASE WHEN b.hits > 0 THEN b.lang ELSE 'und' END AS pred_lang,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint,
           rep.top_bigram_frac AS top_bigram_frac,
           rep.dup_trigram_frac AS dup_trigram_frac
    FROM tok t JOIN best USING (doc_id) JOIN rep USING (doc_id)
    """


@query("doc_profile", _doc_profile_sql())
def doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text profile — the full text-analysis pass of a
    training pipeline in ONE row-local projection: token/char counts
    and ratios (whitespace tokenization AND a BPE-flavored regex
    token estimate — word pieces ≤4 chars + digits + symbols, the
    cheap deterministic stand-in for a real subword tokenizer),
    composite Gopher/C4-style quality score, stopword-marker
    language-ID (argmax with the deterministic (hits, lang)-max tie
    rule mirrored in SQL), and the normalized-content md5 fingerprint
    (the exact-dedup key).

    Zero shuffles; every ratio is an exact-int ratio (bit-identical
    cross-engine). One scan serves what the reference-era design ran as
    four separate jobs — at 100 TB the scan IS the cost, so fusing the
    per-row features matters more than any other optimization here.
    """
    docs = t(spark, sf_dir, "documents")
    # Materialize BOTH token arrays once per row (plain + normalized):
    # every downstream feature references the materialized columns, so
    # the split never re-evaluates inside the HOF lambdas (no CSE
    # there) — this was an ~8× tokenization fan-out before. The
    # projection survives CollapseProject because the aliases are
    # non-cheap and multiply referenced.
    base = width.spread(docs).select(
        "doc_id",
        "lang",
        "text",
        X.tokens(F.col("text")).alias("_toks"),
        X.tokens(X._norm(F.col("text"))).alias("_ntoks"),
        X.shingle_seq(F.col("text"), 2).alias("_bg"),
        X.shingle_seq(F.col("text"), 3).alias("_tg"),
    )
    # Second projection layer: the repetition struct is non-cheap (an
    # aggregate HOF) and referenced twice below, so CollapseProject
    # keeps it materialized — computed once per row, not per field.
    base = base.select(
        "*",
        X.repetition_metrics(
            F.col("text"), bg=F.col("_bg"), tg=F.col("_tg")
        ).alias("_rep"),
    )
    _rep = F.col("_rep")
    toks = F.col("_toks")
    n_tok = F.size(toks).cast("long")
    n_char = F.length("text").cast("long")
    spaces = F.length("text") - F.length(F.regexp_replace("text", " ", ""))
    return base.select(
        "doc_id",
        "lang",
        n_char.alias("n_char"),
        n_tok.alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        (F.size(F.array_distinct(toks)).cast("double") / n_tok).alias(
            "type_token_ratio"
        ),
        (
            F.size(F.filter(toks, lambda x: x.isin(*X.STOPWORDS))).cast("double")
            / n_tok
        ).alias("stopword_ratio"),
        ((n_char - spaces).cast("double") / n_tok).alias("avg_token_len"),
        X.bpe_ish_token_count(F.col("text")).alias("n_tokens_bpeish"),
        X.quality_score(F.col("text"), toks=toks).alias("quality"),
        X.language_id(F.col("text"), toks=F.col("_ntoks")).alias("pred_lang"),
        X.fingerprint(F.col("text")).alias("fingerprint"),
        _rep["top_bigram_frac"].alias("top_bigram_frac"),
        _rep["dup_trigram_frac"].alias("dup_trigram_frac"),
    )


@query(
    "exact_dedup_groups",
    """
    SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint,
           CAST(min(doc_id) AS BIGINT) AS keeper_id,
           CAST(count(*) AS BIGINT) AS dup_count
    FROM documents GROUP BY 1
    """,
)
def exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one hash-agg on the content fingerprint (U2 + the
    north-star exact-dedup op). Uniform 128-bit key → skew-free
    shuffle at any scale."""
    return D.exact_dedup(t(spark, sf_dir, "documents"))


def _repeat_removal_sql(max_period: int = 3) -> str:
    # Drop condition per period p: i >= 2p and the p-gram ending at i
    # equals the p-gram ending at i-p — generated from the same
    # parameter as the Spark operator so the two cannot drift.
    conds = []
    for p in range(1, max_period + 1):
        eqs = " AND ".join(f"w[i-{j}] = w[i-{j + p}]" for j in range(p))
        conds.append(f"(i >= {2 * p} AND {eqs})")
    drop = " OR ".join(conds)
    return f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
    k AS (
      SELECT doc_id, len(w) AS n_tokens,
             [w[i] for i in generate_series(1, len(w))
              if NOT ({drop})] AS kw
      FROM tok)
    SELECT doc_id, array_to_string(kw, ' ') AS clean_text,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_tokens - len(kw) AS BIGINT) AS removed_tokens
    FROM k
    """


@query("doc_repetition_removal", _repeat_removal_sql())
def doc_repetition_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse immediately-repeated word 1-3-gram runs
    (``operators/text.py::collapse_repeated_ngrams``): the removal
    counterpart of the Gopher repetition metrics — "buy now buy now
    buy now" keeps one period. Reports the cleaned text and how many
    tokens the collapse dropped.

    Scale: row-local array work fused into the scan (one filter/
    transform pass over materialized tokens), zero shuffles, no
    Python; the oracle replays the index rule as a DuckDB list
    comprehension generated from the same parameters.
    """
    docs = t(spark, sf_dir, "documents")
    out = docs.select(
        "doc_id",
        X.collapse_repeated_ngrams(F.lower(F.col("text"))).alias("_r"),
    )
    return out.select(
        "doc_id",
        F.col("_r.clean_text").alias("clean_text"),
        F.col("_r.n_tokens").alias("n_tokens"),
        F.col("_r.removed_tokens").alias("removed_tokens"),
    )


# ---------------------------------------------------------------------------
# Near-dup dedup
# ---------------------------------------------------------------------------


@query(
    "ngram_jaccard_near_pairs",
    f"""
    WITH {_SQL_NGRAM_PAIR_CTES}
    SELECT id_a, id_b,
           {_SQL_NGRAM_JACCARD} AS jaccard
    FROM shared JOIN sizes x ON id_a = x.doc_id JOIN sizes y ON id_b = y.doc_id
    WHERE {_SQL_NGRAM_JACCARD} >= 0.1
    """,
)
def ngram_jaccard_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (j ≥ 0.1) via the
    inverted-index self-join — cost follows postings lists, not n²."""
    return D.ngram_jaccard_pairs(
        t(spark, sf_dir, "documents"), k=3, min_jaccard=0.1
    )


@query(
    "ppjoin_near_pairs",
    f"""
    WITH {_SQL_NGRAM_PAIR_CTES}
    SELECT id_a, id_b,
           {_SQL_NGRAM_JACCARD} AS jaccard
    FROM shared JOIN sizes x ON id_a = x.doc_id JOIN sizes y ON id_b = y.doc_id
    WHERE {_SQL_NGRAM_JACCARD} >= 0.5
    """,
)
def ppjoin_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered EXACT Jaccard near-dup pairs (j >= 0.5 on word
    3-shingles; ``operators/ppjoin.py`` — PPJoin family, Chaudhuri et
    al. ICDE'06 / Xiao et al. WWW'08): the LOSSLESS sub-quadratic
    member of the dedup family. MinHash-LSH and SimHash buy their
    sub-quadratic candidate sets with probabilistic recall; prefix
    filtering buys the same reduction with a proof — order shingles by
    global rarity, index only each set's first |x|−⌈t|x|⌉+1, and every
    true pair still shares an indexed shingle.

    The oracle is deliberately the BRUTE-FORCE inverted-index join:
    the optimized plan must reproduce the unoptimized replay pair for
    pair, which is precisely the losslessness claim. Jaccard is an
    exact-integer ratio — bit-identical cross-engine, no rounding.

    Scale: postings truncated to prefixes (~t/(1+t) shorter, and the
    RARE shingles are the ones kept, so surviving lists are short); a
    positional filter bounds achievable overlap per shared prefix
    token; a size filter prunes cross-size pairs pre-verify;
    verification is row-local array_intersect. One doc-partitioned
    window, never a global sort. Measured: α* 1.02 to sf1; at sf10
    the SYNTHETIC corpus's saturating vocabulary makes even the
    rarest shingles common, so prefix postings stop shrinking and the
    entry joins fuzzy/triangles in the sf10-excluded pair-grain set —
    on real corpora (Zipfian shingle frequencies) rare-first prefixes
    are exactly what keeps this sub-quadratic; when vocabulary
    saturates, the probabilistic members (MinHash-LSH) are the right
    tool and this entry is the exact verifier behind them."""
    from ..operators.ppjoin import ppjoin_pairs

    return ppjoin_pairs(
        t(spark, sf_dir, "documents"), k=3, threshold=0.5
    )


@query(
    "doc_decontamination",
    f"""
    WITH {_SQL_SHINGLES_CTE},
    bench AS (SELECT DISTINCT unnest(sh) AS shingle FROM shl
              WHERE doc_id % 17 = 0),
    tr AS (SELECT doc_id, sh FROM shl WHERE doc_id % 17 <> 0),
    ex AS (SELECT doc_id, unnest(sh) AS shingle FROM tr),
    hits AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS c
             FROM ex e JOIN bench USING (shingle) GROUP BY 1)
    SELECT t.doc_id AS doc_id,
           CAST(len(t.sh) AS BIGINT) AS n_shingles,
           CAST(coalesce(h.c, 0) AS BIGINT) AS contaminated_shingles,
           coalesce(h.c, 0) > 0 AS is_contaminated
    FROM tr t LEFT JOIN hits h USING (doc_id)
    """,
)
def doc_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontam.py): every 17th
    document plays the held-out benchmark suite; the rest are the
    training corpus, and each training doc is scored by how many of
    its distinct word-3-shingles appear anywhere in the benchmark —
    the GPT-3/PaLM n-gram-overlap contamination rule.

    Scale: the benchmark shingle set is bounded by construction (eval
    suites don't grow with the corpus), so it broadcasts and the
    corpus side never shuffles text — only (doc_id, hit) pairs that
    map-side partials collapse to one row per doc. The oracle replays
    shingling, the overlap join, and the per-doc rollup in SQL, so
    the full pipeline is hash-checked."""
    docs = t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    train = docs.filter(F.col("doc_id") % 17 != 0)
    return C.contamination_report(train, bench, k=3)


def _minhash_ctes(
    num_hashes: int = 12,
    bands: int = 4,
    thresh: float = 0.5,
    source: str = "documents",
    pair_pred: str = "{x}.doc_id < {y}.doc_id",
) -> str:
    """CTE chain (no WITH keyword) ending in ``pairs`` = verified
    near-dup pairs over ``source`` — reusable inside larger oracles
    (dedup_components, curate_documents).

    ``pair_pred`` orients pairs; the default canonical ``<`` gives
    the self-dedup pair set. The incremental-ingest oracle passes a
    corpus-side/batch-side split predicate instead ({x} = left/id_a,
    {y} = right/id_b), reproducing the cross-set candidate join of
    ``operators/incremental.py::near_dup_batch_against_corpus``."""
    from ..operators.dedup import MINHASH_P

    r = num_hashes // bands
    # Kirsch-Mitzenmacher permutations from ONE md5 per shingle — the
    # exact arithmetic of operators/dedup.py::minhash_signatures.
    sig_cols = ",\n         ".join(
        f"list_aggregate(list_transform(hp, p -> (p[1] + {i} * p[2])"
        f" % {MINHASH_P}), 'min') AS mh_{i}"
        for i in range(num_hashes)
    )
    band_selects = "\n      UNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, md5("
        + " || '|' || ".join(
            f"CAST(mh_{i} AS VARCHAR)" for i in range(b * r, (b + 1) * r)
        )
        + ") AS bucket FROM sigs"
        for b in range(bands)
    )
    return f"""
    tok AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM {source}),
    shl AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 3 THEN
                    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                   for i in generate_series(1, len(w)-2)])
                  WHEN len(w) > 0 THEN [array_to_string(w, ' ')]
                  ELSE [] END AS sh
      FROM tok),
    hp AS (
      SELECT doc_id,
             list_transform(sh, s -> [{md5_int_sql("s")},
                                      {md5_int_sql("s", 9, 8)}])
               AS hp
      FROM shl),
    sigs AS (SELECT doc_id, {sig_cols} FROM hp),
    banded AS ({band_selects}),
    cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM banded l JOIN banded r
        ON l.band = r.band AND l.bucket = r.bucket
       AND {pair_pred.format(x="l", y="r")}),
    sh AS (SELECT doc_id, unnest(sh) AS s FROM shl),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) n FROM sh GROUP BY 1),
    shared AS (
      SELECT a.doc_id id_a, b.doc_id id_b, CAST(count(*) AS BIGINT) shared
      FROM sh a JOIN sh b ON a.s = b.s
       AND {pair_pred.format(x="a", y="b")}
      GROUP BY 1, 2),
    pairs AS (
      SELECT s.id_a AS id_a, s.id_b AS id_b,
             s.shared * 1.0 / (x.n + y.n - s.shared) AS jaccard
      FROM shared s
      JOIN cand c ON s.id_a = c.id_a AND s.id_b = c.id_b
      JOIN sizes x ON s.id_a = x.doc_id JOIN sizes y ON s.id_b = y.doc_id
      WHERE s.shared * 1.0 / (x.n + y.n - s.shared) >= {thresh})
    """


def _closure_ctes(stages: int = 24) -> str:
    """CTE chain (no WITH keyword) from ``edges(a, b)`` — assumed to
    hold BOTH directions of every pair — to ``comp(id, component)``
    with component = min reachable id, for every node appearing in
    ``edges``.

    Scale path (sf0.1 gate): min-label propagation with POINTER
    JUMPING, unrolled ``stages`` times — each stage is two hash joins
    plus one hash agg over E rows, so total work is O(stages·E). The
    earlier recursive-CTE transitive closure (``reach``) materialized
    every (node, reachable-node) pair: O(Σ|C|²) rows, which on a
    giant near-dup component (sf0.1 semantic_dedup: 1 828 of 2 000
    vectors in one cluster) meant minutes of runtime growing
    quadratically. Hop+jump is the Shiloach-Vishkin argument: label
    chains at least halve each stage, so 24 stages converge for any
    graph DuckDB can hold (≫ 2²⁴ nodes); the matching Spark operator
    is the same fixpoint computed as large-star/small-star
    (operators/dedup.py::connected_components)."""
    # AS MATERIALIZED is load-bearing: every stage references the
    # previous lab CTE three times and edges once — without it DuckDB
    # INLINES each reference (exponential plan expansion; the planner
    # ran out of file handles re-opening the parquet views before the
    # rewrite even executed)
    parts = [
        """cl_nodes AS MATERIALIZED (SELECT DISTINCT a AS id FROM edges),
    lab0 AS MATERIALIZED (
      SELECT n.id, least(n.id, coalesce(min(e.b), n.id)) AS lab
      FROM cl_nodes n LEFT JOIN edges e ON e.a = n.id GROUP BY n.id)"""
    ]
    for k in range(1, stages + 1):
        p = k - 1
        parts.append(
            f"""lab{k} AS MATERIALIZED (
      SELECT l.id,
             least(l.lab,
                   coalesce(j.lab, l.lab),
                   coalesce(nb.mn, l.lab)) AS lab
      FROM lab{p} l
      LEFT JOIN lab{p} j ON j.id = l.lab
      LEFT JOIN (SELECT e.a AS id, min(x.lab) AS mn
                 FROM edges e JOIN lab{p} x ON x.id = e.b
                 GROUP BY e.a) nb ON nb.id = l.id)"""
        )
    parts.append(f"comp AS (SELECT id, lab AS component FROM lab{stages})")
    return ",\n    ".join(parts)


def _minhash_sql(num_hashes: int = 12, bands: int = 4, thresh: float = 0.5) -> str:
    return f"""
    WITH {_minhash_ctes(num_hashes, bands, thresh)}
    SELECT id_a, id_b, jaccard FROM pairs
    """


@query("minhash_lsh_near_pairs", _minhash_sql())
def minhash_lsh_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(12)+LSH(4 bands) candidates, exact-Jaccard verified at
    0.5 (shingle→minhash→band→bucket-join per the north star).

    The whole pipeline — signatures, banding, candidate join, verify —
    is replayed by the oracle SQL, so this is a full hash-match, not a
    rows-only check. P(candidate | j=0.9) ≈ 0.995 with r=3, b=4.
    """
    return D.minhash_lsh_pairs(
        t(spark, sf_dir, "documents"),
        k=3,
        num_hashes=12,
        bands=4,
        verify_threshold=0.5,
    )


@query(
    "simhash_near_pairs",
    f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS w
      FROM documents),
    h AS (SELECT doc_id, {md5_int_sql("w")} AS hv FROM tok),
    bits AS (
      SELECT doc_id, i,
             sum(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h, unnest(generate_series(0, 31)) AS t(i)
      GROUP BY 1, 2),
    sig AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 THEN 1::BIGINT << i ELSE 0 END) AS BIGINT)
               AS simhash
      FROM bits GROUP BY 1)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ORDER BY hamming, id_a, id_b LIMIT 20000
    """,
)
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3 of 32), closest-first
    top-20k by (hamming, id_a, id_b).

    Spark plan uses pigeonhole block-joins (sub-quadratic, the
    Manku/Jain/Sarma web-dedup shape); the oracle brute-forces all
    pairs — same result set, which is exactly the point: the optimized
    plan must agree with the naive spec. The oracle replays the FULL
    signature computation (bit-majority fold per doc) before pairing,
    so per-document SimHash signatures are hash-verified transitively
    by this row (operators/dedup.py::simhash also has a dedicated
    DuckDB parity test in tests).

    The operator itself (``D.simhash_near_pairs``) is uncapped; the
    CATALOG entry bounds its result with a deterministic top-N — at
    32-bit signatures the Hamming≤3 pair count grows superlinearly
    with corpus size (sf0.1 emits 1.57 M pairs), and a result surface
    should be a ranked report, not an unbounded dump. 20 000 exceeds
    every pair count at sf≤0.01 (15 351 at sf0.01), so smaller-SF
    results are byte-identical to the uncapped entry; Spark plans it
    as TakeOrdered (no full sort)."""
    return (
        D.simhash_near_pairs(
            t(spark, sf_dir, "documents"), bits=32, max_hamming=3, blocks=4
        )
        .select("id_a", "id_b", "hamming")
        .orderBy("hamming", "id_a", "id_b")
        .limit(20000)
    )


def _components_sql() -> str:
    # components over the SAME pair set the minhash query emits;
    # component = min reachable id (incl. self), via the unrolled
    # hop+jump closure (_closure_ctes — sub-quadratic like Spark's
    # large-star/small-star)
    return f"""
    WITH pairs AS ({_minhash_sql()}),
    edges AS MATERIALIZED (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b AS a, id_a AS b FROM pairs),
    {_closure_ctes()}
    SELECT CAST(id AS BIGINT) AS doc_id,
           CAST(component AS BIGINT) AS component
    FROM comp
    """


@query("dedup_components", _components_sql())
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: MinHash-LSH near-dup pairs (jaccard ≥ 0.5)
    → connected components → one (doc_id, component) row per clustered
    doc, component = min doc id (the canonical keeper).

    Spark side runs alternating large-star/small-star (O(log² n)
    rounds, no driver-side graph); the oracle brute-forces the
    transitive closure with a recursive CTE — the scalable plan must
    agree with the naive spec.
    """
    pairs = D.minhash_lsh_pairs(
        t(spark, sf_dir, "documents"),
        k=3,
        num_hashes=12,
        bands=4,
        verify_threshold=0.5,
    )
    cc = D.connected_components(pairs)
    return cc.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


def _curate_sql(quality_threshold: float = 0.5, jaccard_threshold: float = 0.5) -> str:
    quality = f"""
         0.4 * (CASE WHEN len(w) BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
       + 0.3 * (len(list_distinct(w)) * 1.0 / len(w))
       + 0.3 * (CASE WHEN len(list_filter(w, x -> list_contains({_STOP_SQL}, x)))
                          * 1.0 / len(w) > 0.0
                      AND len(list_filter(w, x -> list_contains({_STOP_SQL}, x)))
                          * 1.0 / len(w) < 0.6
                     THEN 1.0 ELSE 0.0 END)"""
    return f"""
    WITH
    tok0 AS (SELECT doc_id, lang, source, text, {_SQL_TOKENS} AS w FROM documents),
    scored AS (SELECT doc_id, lang, source, text, {quality} AS quality FROM tok0),
    passed AS (SELECT * FROM scored WHERE quality >= {quality_threshold}),
    fp AS (SELECT *, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
                       AS fingerprint
           FROM passed),
    keep1 AS (SELECT fingerprint, min(doc_id) AS doc_id FROM fp GROUP BY 1),
    corpus AS (SELECT fp.doc_id, fp.lang, fp.source, fp.text, fp.quality
               FROM fp JOIN keep1 USING (fingerprint, doc_id)),
    {_minhash_ctes(thresh=jaccard_threshold, source="corpus")},
    edges AS MATERIALIZED (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b AS a, id_a AS b FROM pairs),
    {_closure_ctes()},
    dropped AS (SELECT id FROM comp WHERE component != id)
    SELECT CAST(c.doc_id AS BIGINT) AS doc_id, c.lang, c.source, c.quality
    FROM corpus c LEFT JOIN dropped d ON c.doc_id = d.id
    WHERE d.id IS NULL
    """


def _curation_audit_sql(
    quality_threshold: float = 0.5, jaccard_threshold: float = 0.5
) -> str:
    quality = f"""
         0.4 * (CASE WHEN len(w) BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
       + 0.3 * (len(list_distinct(w)) * 1.0 / len(w))
       + 0.3 * (CASE WHEN len(list_filter(w, x -> list_contains({_STOP_SQL}, x)))
                          * 1.0 / len(w) > 0.0
                      AND len(list_filter(w, x -> list_contains({_STOP_SQL}, x)))
                          * 1.0 / len(w) < 0.6
                     THEN 1.0 ELSE 0.0 END)"""
    return f"""
    WITH
    tok0 AS (SELECT doc_id, text, {_SQL_TOKENS} AS w FROM documents),
    scored AS (SELECT doc_id, text, {quality} AS quality FROM tok0),
    fp AS (SELECT *, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
                       AS fingerprint
           FROM scored WHERE quality >= {quality_threshold}),
    ex AS (SELECT f.doc_id, mk.keeper AS ex_keeper
           FROM fp f JOIN (SELECT fingerprint, min(doc_id) AS keeper
                           FROM fp GROUP BY 1) mk USING (fingerprint)),
    corpus AS (SELECT fp.doc_id, fp.text FROM fp JOIN ex USING (doc_id)
               WHERE ex.ex_keeper = fp.doc_id),
    {_minhash_ctes(thresh=jaccard_threshold, source="corpus")},
    edges AS MATERIALIZED (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b AS a, id_a AS b FROM pairs),
    {_closure_ctes()}
    SELECT CAST(s.doc_id AS BIGINT) AS doc_id, s.quality,
           CASE WHEN s.quality < {quality_threshold} THEN 'dropped_quality'
                WHEN e.ex_keeper != s.doc_id THEN 'dropped_exact_dup'
                WHEN c.component IS NOT NULL AND c.component != s.doc_id
                     THEN 'dropped_near_dup'
                ELSE 'kept' END AS fate,
           CAST(CASE WHEN s.quality < {quality_threshold} THEN NULL
                     WHEN e.ex_keeper != s.doc_id THEN e.ex_keeper
                     WHEN c.component IS NOT NULL AND c.component != s.doc_id
                          THEN c.component
                     ELSE s.doc_id END AS BIGINT) AS keeper_id
    FROM scored s
    LEFT JOIN ex e ON e.doc_id = s.doc_id
    LEFT JOIN comp c ON c.id = s.doc_id
    """


@query("curation_audit", _curation_audit_sql())
def curation_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation provenance (``operators/curate.py::curation_audit``):
    one row per INPUT document with its quality score, fate
    (kept / dropped_quality / dropped_exact_dup / dropped_near_dup,
    first-failing-stage precedence) and the keeper it collapsed into —
    the where-did-my-document-go report over the flagship pipeline.

    The oracle replays all stages incl. the recursive-CTE closure and
    the per-stage keeper joins; fates partition the corpus, so this
    entry also pins the stage ACCOUNTING of curate_documents (kept
    rows here == its output ids).
    """
    from ..operators.curate import curation_audit

    return curation_audit(
        t(spark, sf_dir, "documents"),
        quality_threshold=0.5,
        jaccard_threshold=0.5,
    )


@query("curate_documents", _curate_sql())
def curate_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship training-data pipeline: quality filter → exact dedup →
    MinHash-LSH near-dedup → connected-components keeper selection, as
    ONE lazy plan (operators/curate.py). The oracle replays all four
    stages including the recursive-CTE transitive closure — the full
    composition is hash-checked, not just its parts.

    Scale: stage order shrinks data before the expensive hash stages;
    every join is key-local (fingerprint, band bucket, doc id); the
    one iterative stage (components) is O(log² n) rounds with no
    driver-side graph.
    """
    from ..operators.curate import curate_documents as _curate

    kept = _curate(
        t(spark, sf_dir, "documents"),
        quality_threshold=0.5,
        jaccard_threshold=0.5,
    )
    return kept.select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang", "source", "quality"
    )


# ---------------------------------------------------------------------------
# Embedding similarity search
# ---------------------------------------------------------------------------

_SQL_VEC = "list_transform(embedding, x -> x::DOUBLE)"
_SQL_DOT = "list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"


def _cos_sql(a: str, b: str) -> str:
    dot = _SQL_DOT.format(a=a, b=b)
    na = _SQL_DOT.format(a=a, b=a)
    nb = _SQL_DOT.format(a=b, b=b)
    return f"{dot} / (sqrt({na}) * sqrt({nb}))"


@query(
    "knn_bruteforce_cosine",
    f"""
    WITH dd AS (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM dd WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {_cos_sql("q.qv", "c.v")} AS cosine_sim
      FROM dd c JOIN q ON c.vec_id != q.query_id)
    SELECT query_id, neighbor_id, cosine_sim, CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) rnk
          FROM scored)
    WHERE rnk <= 5
    """,
)
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for 10 query vectors against the corpus —
    the ANN baseline. Broadcast query side; corpus scanned once;
    double-fold dot product is bit-identical to the oracle."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.brute_force_knn(emb, queries, k=5).select(
        "query_id", "neighbor_id", "cosine_sim", "rank"
    )


def _plane_sql(plane: list[float]) -> str:
    """One hyperplane as a DuckDB literal double list — ``repr`` floats
    round-trip exactly, so the SQL constant equals the plan literal."""
    return "[" + ",".join(repr(w) for w in plane) + "]"


def _bucket_sql(vec: str, planes: list[list[float]]) -> str:
    """Packed sign-bit bucket of ``vec`` against ``planes`` — replays
    operators/similarity.py::_signature_sql: per-plane left-fold dot
    product (list_sum is bit-identical to Spark's strict fold), sign
    bit j worth 2^j."""
    terms = [
        f"(CASE WHEN {_SQL_DOT.format(a=vec, b=_plane_sql(plane))} > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j, plane in enumerate(planes)
    ]
    return "(" + " + ".join(terms) + ")"


_PAIRS_BITS, _PAIRS_TABLES = 4, 6


def _embedding_near_pairs_sql(threshold: float = 0.35) -> str:
    sig_cols = ",\n           ".join(
        f"{_bucket_sql('v', S.hyperplanes(64, _PAIRS_BITS, seed=7 + tbl))} AS b{tbl}"
        for tbl in range(_PAIRS_TABLES)
    )
    any_shared = " OR ".join(f"a.b{t} = b.b{t}" for t in range(_PAIRS_TABLES))
    return f"""
    WITH dd AS (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings),
    sig AS (SELECT vec_id, v,
           {sig_cols}
    FROM dd),
    cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb
      FROM sig a JOIN sig b ON a.vec_id < b.vec_id AND ({any_shared}))
    SELECT id_a, id_b, {_cos_sql("va", "vb")} AS cosine_sim
    FROM cand
    WHERE {_cos_sql("va", "vb")} >= {threshold}
    """


@query("embedding_near_pairs", _embedding_near_pairs_sql())
def embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (sim ≥ 0.35) through the
    SUB-QUADRATIC path: hyperplane-LSH bucket candidates (6 tables ×
    4 bits) → exact cosine verification — the 100 TB plan shape, now
    the oracle-verified one (the O(n²) exact variant survives as the
    recall yardstick in tests/test_dedup_similarity.py).

    The oracle embeds the IDENTICAL hyperplane literals and replays
    bucket assignment + candidate join + cosine verify, so the full
    LSH pipeline is hash-checked, not just its output shape. On this
    synthetic near-uniform corpus (max pairwise cos ≈ 0.5) the 0.35
    threshold sits at ~65-70° angles, where 4-bit buckets keep ~60% of
    exact pairs — recall documented, determinism exact; at production
    near-dup thresholds (≥ 0.9, small angles) the same parameters give
    ≥ 0.99 recall with a 2^4-fold per-table candidate cut.

    Bits TRACK the corpus (``adaptive_lsh_bits``): fixed bits let
    bucket width — and within-bucket pair expansion — grow with n (the
    r6 sf1 rehearsal measured semantic_dedup 3.6 s → 151 s for 10×
    vectors at bits=4). At every oracle-checked SF (≤ 2 000 vectors)
    the formula returns exactly 4, so the static-SQL oracle and all
    recorded hashes are unchanged; beyond that bits grow as
    log2(n/125), keeping candidates per vector flat.
    """
    emb = t(spark, sf_dir, "embeddings")
    bits = S.adaptive_lsh_bits(emb.count(), floor_bits=_PAIRS_BITS)
    cand = S.hyperplane_lsh_pairs(
        emb, bits=bits, tables=_PAIRS_TABLES, dim=64, seed=7
    )
    return S.cosine_near_pairs(emb, threshold=0.35, candidates=cand)


_ANN_BITS, _ANN_TABLES = 3, 10


def _ann_lsh_sql(k: int = 5, n_queries: int = 10) -> str:
    sig_cols = ",\n           ".join(
        f"{_bucket_sql('v', S.hyperplanes(64, _ANN_BITS, seed=7 + tbl))} AS b{tbl}"
        for tbl in range(_ANN_TABLES)
    )
    any_shared = " OR ".join(f"c.b{t} = q.b{t}" for t in range(_ANN_TABLES))
    return f"""
    WITH dd AS (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings),
    sig AS (SELECT vec_id, v,
           {sig_cols}
    FROM dd),
    q AS (SELECT * FROM sig WHERE vec_id < {n_queries}),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             q.v AS qv, c.v AS cv
      FROM sig c JOIN q ON c.vec_id != q.vec_id AND ({any_shared})),
    scored AS (
      SELECT query_id, neighbor_id, {_cos_sql("qv", "cv")} AS cosine_sim
      FROM cand)
    SELECT query_id, neighbor_id, cosine_sim, CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) rnk
          FROM scored)
    WHERE rnk <= {k}
    """


@query("ann_lsh_cosine", _ann_lsh_sql())
def ann_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors for 10 queries via random-hyperplane
    LSH (10 tables × 3 bits) + exact re-rank — the scale path for ANN.
    Bits/tables tuned to this corpus's near-uniform geometry (max
    pairwise cosine ≈ 0.5 ⇒ bucket-collision P per bit ≈ 0.66): 3 bits
    × 10 tables gives measured recall ≈ 0.86 vs brute force. Clustered
    real-world embeddings would take more bits per table.

    Full SQL oracle: the hyperplanes are seeded plan-time literals, so
    the oracle embeds the same constants and replays signature →
    bucket-candidate join → exact re-rank; tests/test_dedup_similarity
    additionally asserts recall ≥ 0.6 against exact brute force.
    """
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.hyperplane_lsh_knn(
        emb, queries, k=5, bits=_ANN_BITS, tables=_ANN_TABLES, dim=64
    ).select("query_id", "neighbor_id", "cosine_sim", "rank")


def _semantic_dedup_sql(threshold: float = 0.35) -> str:
    # Same hyperplane literals + candidate join as the near-pairs
    # oracle, then the recursive-CTE transitive closure (the
    # dedup_components spec) and a LEFT JOIN back to every vector.
    #
    # Scale path (sf0.1 gate): candidates come from a UNION of
    # PER-TABLE equi-joins on the bucket id — hash joins DuckDB
    # executes in O(Σ bucket²) like the Spark plan — instead of one
    # OR-of-equalities join (which DuckDB nested-loops, O(n²·tables):
    # ~2 min at 2 000 vectors and growing quadratically). Vector
    # payloads join back by id AFTER the dedup'd candidate set.
    sig_cols = ",\n           ".join(
        f"{_bucket_sql('v', S.hyperplanes(64, _PAIRS_BITS, seed=7 + tbl))} AS b{tbl}"
        for tbl in range(_PAIRS_TABLES)
    )
    per_table = "\n      UNION\n".join(
        f"SELECT a.vec_id AS id_a, b.vec_id AS id_b "
        f"FROM sig a JOIN sig b ON a.b{t} = b.b{t} AND a.vec_id < b.vec_id"
        for t in range(_PAIRS_TABLES)
    )
    return f"""
    WITH dd AS (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings),
    sig AS (SELECT vec_id, v,
           {sig_cols}
    FROM dd),
    cand AS (
      {per_table}),
    pairs AS (
      SELECT id_a, id_b
      FROM cand
      JOIN dd da ON da.vec_id = cand.id_a
      JOIN dd db ON db.vec_id = cand.id_b
      WHERE {_cos_sql("da.v", "db.v")} >= {threshold}),
    edges AS MATERIALIZED (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b AS a, id_a AS b FROM pairs),
    {_closure_ctes()}
    SELECT dd.vec_id,
           CAST(coalesce(comp.component, dd.vec_id) AS BIGINT) AS keeper_id,
           CAST(CASE WHEN comp.component IS NOT NULL
                      AND comp.component != dd.vec_id
                     THEN 1 ELSE 0 END AS BIGINT) AS is_dup
    FROM dd LEFT JOIN comp ON comp.id = dd.vec_id
    """


@query("semantic_dedup", _semantic_dedup_sql())
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (``operators/similarity.py::semantic_dedup``): embedding
    near-coincidence (cos ≥ 0.35 on this near-uniform corpus; ≥ 0.95 in
    production) → connected components → keep min id per cluster; one
    row per vector with its keeper and a drop flag.

    This entry gates candidates through the hyperplane-LSH tables
    (plan-time literals) so the FULL pipeline — signatures, candidate
    join, cosine verify, transitive closure, keeper choice — is
    value-hash checked against a recursive-CTE oracle. The paper's
    k-means-cell gating is the operator's default path, recall-tested
    in pytest (iterative quantizer ⇒ no SQL spec).

    Bits TRACK the corpus (``adaptive_lsh_bits``; the r6 sf1 scaling
    rehearsal caught fixed bits=4 growing 3.6 s → 151 s for 10×
    vectors — within-bucket pair expansion is quadratic when bucket
    width grows with n). Every oracle-checked SF has ≤ 2 000 vectors
    where the formula returns exactly 4 — static oracle and hashes
    unchanged; at sf1 bits=8 cuts candidates 16× (measured 151 s →
    see SCALING.md). Recall at the production threshold (cos ≥ 0.95)
    stays ≥ 96% per the S-curve; at this corpus's demo threshold
    (0.35) the gate trades recall instead of work — the documented
    posture for a candidate gate (a low-threshold EXACT pair set is
    itself quadratic and needs the brute-force path).
    """
    emb = t(spark, sf_dir, "embeddings")
    bits = S.adaptive_lsh_bits(emb.count(), floor_bits=_PAIRS_BITS)
    cand = S.hyperplane_lsh_pairs(
        emb, bits=bits, tables=_PAIRS_TABLES, dim=64, seed=7
    )
    return S.semantic_dedup(emb, threshold=0.35, candidates=cand)


#: 6/16 probed cells: the seeded (untrained) quantizer needs more
#: probes than the trained one for comparable recall on this
#: near-uniform corpus — measured 0.70 @ sf0.001 / 0.58 @ sf0.01 vs
#: brute force (the trained path's pytest bar is 0.5)
_IVF_CELLS, _IVF_PROBE = 16, 6
_IVF_CENTROIDS = S.seeded_unit_centroids(64, _IVF_CELLS, seed=13)


def _ann_ivf_sql(k: int = 5, n_queries: int = 10) -> str:
    # One dot-product expression per centroid literal; the sims LIST
    # replays ivf_knn's cell_sims array. Cell assignment = first
    # position of the max (list_position, like F.array_position);
    # probe ranking = sim DESC then cell DESC (the reverse(array_sort)
    # of (sim, cell) structs on the Spark side).
    sims = "[" + ", ".join(
        _SQL_DOT.format(a="v", b=_plane_sql(c)) for c in _IVF_CENTROIDS
    ) + "]"
    return f"""
    WITH dd AS (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings),
    sims AS (SELECT vec_id, v, {sims} AS s FROM dd),
    assigned AS (
      SELECT vec_id AS neighbor_id, v AS cv,
             CAST(list_position(s, list_aggregate(s, 'max')) - 1 AS INT)
               AS cell
      FROM sims),
    q AS (SELECT vec_id AS query_id, v AS qv, s FROM sims
          WHERE vec_id < {n_queries}),
    cells AS (SELECT unnest(range({_IVF_CELLS})) AS cell),
    probes AS (
      SELECT query_id, qv, CAST(cell AS INT) AS cell
      FROM (SELECT q.query_id, q.qv, c.cell,
                   row_number() OVER (
                     PARTITION BY q.query_id
                     ORDER BY q.s[CAST(c.cell AS INT) + 1] DESC,
                              c.cell DESC) AS rk
            FROM q CROSS JOIN cells c)
      WHERE rk <= {_IVF_PROBE}),
    scored AS (
      SELECT p.query_id, a.neighbor_id,
             {_cos_sql("p.qv", "a.cv")} AS cosine_sim
      FROM assigned a JOIN probes p USING (cell)
      WHERE a.neighbor_id != p.query_id)
    SELECT query_id, neighbor_id, cosine_sim, CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) rnk
          FROM scored)
    WHERE rnk <= {k}
    """


@query("ann_ivf_cosine", _ann_ivf_sql())
def ann_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors for 10 queries via an IVF index
    (16 Voronoi cells, 4 probed cells) — the second scale path for ANN
    next to hyperplane LSH: each query scores only ~n_probe/n_centroids
    of the corpus. Candidate generation differs from LSH (Voronoi cells
    vs random hyperplanes), so the two approximations fail differently
    — running both is the standard production hedge.

    FULL SQL oracle (promoted r8, VERDICT r7 task #4): the quantizer
    here is the SEEDED data-independent one (seeded_unit_centroids —
    unit-norm LCG vectors as plan-time literals), so the oracle embeds
    the same constants and replays cell argmax → top-4 probe → exact
    re-rank bit-for-bit. The TRAINED k-means quantizer stays the
    operator default (ivf_knn with centroids=None), recall/determinism
    pytest-pinned; trading it for seeded cells here costs a little
    recall (recovered via n_probe) and buys exact replayability."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.ivf_knn(
        emb, queries, k=5, n_centroids=_IVF_CELLS, n_probe=_IVF_PROBE,
        centroids=_IVF_CENTROIDS,
    ).select("query_id", "neighbor_id", "cosine_sim", "rank")


# ---------------------------------------------------------------------------
# Corpus statistics (vocabulary / TF-IDF / shingle frequency)
# ---------------------------------------------------------------------------


@query(
    "doc_top_terms",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM tok WHERE term <> '' GROUP BY 1, 2),
    dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
    scored AS (
      SELECT t.doc_id, t.term, t.tf, d.df,
             ROUND(t.tf * ln(n.n / d.df), 4) AS tfidf,
             row_number() OVER (PARTITION BY t.doc_id
                                ORDER BY t.tf * (n.n / d.df) DESC, t.term)
               AS rk
      FROM tf t JOIN dfreq d USING (term) CROSS JOIN n)
    SELECT doc_id, term, tf, df, tfidf FROM scored WHERE rk <= 3
    """,
)
def doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF. The oracle
    replays the full vocabulary pass (per-term tf and df) before
    scoring, so corpus vocabulary-building is hash-verified
    transitively by this row (the standalone top-100 vocab query
    remains DuckDB-parity-tested in tests/test_ingest_sinks_sql.py).

    Cross-engine determinism: the RANKING key is the rational score
    ``tf * (N/df)`` — products/quotients of exact integers are
    bit-identical IEEE doubles in both engines, unlike ``ln`` which
    may differ by 1 ulp — with term ASC tiebreak; the DISPLAYED tfidf
    (``tf·ln(N/df)``) is r4-rounded. N arrives via broadcast of a
    1-row aggregate, so the per-doc ranking is one shuffle."""
    docs = t(spark, sf_dir, "documents")
    ex = docs.select(
        "doc_id", F.explode(X.tokens(F.lower(F.col("text")))).alias("term")
    ).filter(F.col("term") != "")
    tf = ex.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").cast("double").alias("n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("ratio", F.col("n") / F.col("df"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        (F.col("tf") * F.col("ratio")).desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(F.col("tf") * F.log(F.col("ratio")), 4).alias("tfidf"),
        )
    )


@query(
    "shingle_doc_frequency",
    f"""
    WITH {_SQL_SHINGLES_CTE},
    ex AS (SELECT doc_id, unnest(sh) AS shingle FROM shl)
    SELECT shingle, CAST(count(*) AS BIGINT) AS df
    FROM ex GROUP BY 1 ORDER BY df DESC, shingle LIMIT 100
    """,
)
def shingle_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 word-3-shingles by document frequency — the boilerplate
    detector that feeds dedup threshold tuning (shingles are distinct
    per doc, so counts are doc frequencies). One explode + hash agg."""
    from ..functions import topk

    docs = t(spark, sf_dir, "documents")
    ex = docs.select(F.explode(X.shingles(F.col("text"), 3)).alias("shingle"))
    agg = ex.groupBy("shingle").agg(F.count("*").alias("df"))
    return topk(agg, ["shingle"], "df", 100)


def fuzzy_candidates_sql() -> str:
    """The blocking + exact-lower-bound stage of the fuzzy oracle:
    shingle-inverted-index candidates pruned by length difference
    (|len a − len b| ≤ d) and character-bag L1 distance (each edit
    moves the char histogram by ≤ 2, so L1 ≤ 2d). Both bounds are
    necessary conditions for distance ≤ 50, so this drops the 1.1 M
    shingle-blocked candidates at sf0.1 to ~183 k with zero recall
    loss. Exposed separately so the sf0.1 gate can verify distances
    with the proven-equivalent banded engine (tests/fastlev.py).

    A hashed-bigram-histogram q-gram prune (L1 ≤ 4d; 64 buckets) was
    measured here and removed only 0.7 % of the survivors for +5 s of
    histogram work: this corpus draws documents from a shared 64-word
    vocabulary, so surviving candidates are near-word-permutations
    whose bigram multisets differ by ~2 per reordered word — well
    inside the 4·d = 200 slack at d = 50. Any q-gram bound is
    mathematically vacuous against permutation-shaped near-misses at
    this threshold; the fix is a faster exact distance, not a looser
    filter."""
    return f"""
    WITH {_SQL_SHINGLES_CTE},
    post AS (SELECT doc_id, unnest(sh) AS s FROM shl),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM post a JOIN post b USING (s) WHERE a.doc_id < b.doc_id),
    n AS (SELECT doc_id,
                 lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
          FROM documents),
    h AS (SELECT doc_id, t,
                 [length(t) - length(replace(t, c, ''))
                  for c in ['a','b','c','d','e','f','g','h','i','j','k','l',
                            'm','n','o','p','q','r','s','t','u','v','w','x',
                            'y','z','0','1','2','3','4','5','6','7','8','9',
                            ' ']] AS hist
          FROM n)
    SELECT id_a, id_b, na.t AS ta, nb.t AS tb
    FROM cand JOIN h na ON id_a = na.doc_id JOIN h nb ON id_b = nb.doc_id
    WHERE abs(length(na.t) - length(nb.t)) <= 50
      AND list_sum(list_transform(list_zip(na.hist, nb.hist),
                                  p -> abs(p[1] - p[2]))) <= 100
    """


def fuzzy_oracle_sql() -> str:
    """Full pure-SQL fuzzy oracle: candidates + levenshtein verify,
    evaluated ONCE per pair via the scored CTE."""
    return f"""
    WITH cands AS ({fuzzy_candidates_sql()}),
    scored AS (SELECT id_a, id_b, levenshtein(ta, tb) AS d FROM cands)
    SELECT id_a, id_b, CAST(d AS BIGINT) AS distance
    FROM scored WHERE d <= 50
    """


@query(
    "fuzzy_near_pairs",
    fuzzy_oracle_sql(),
)
def fuzzy_near_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein near-dup pairs (≤50 char edits on normalized text)
    gated by the shared-shingle inverted index
    (``operators/fuzzy.py``) — the edit-distance member of the dedup
    family, for near-identical records where set-overlap metrics
    under/over-count small in-place edits.

    Scale: blocking is the posting-list equi-join (never n²; hot
    postings cappable via ``max_doc_freq``); verification uses Spark's
    banded threshold levenshtein — O(d·n) per candidate, not O(n²).
    """
    from ..operators.fuzzy import fuzzy_near_pairs

    return fuzzy_near_pairs(
        t(spark, sf_dir, "documents"), max_distance=50, k=3
    )


def _pq_books():
    from ..operators.pq import seeded_codebooks

    return seeded_codebooks(64, _PQ_M, _PQ_K, seed=17)


_PQ_M, _PQ_K, _PQ_RERANK = 16, 16, 16
_PQ_BOOKS = None  # built lazily (import-order: pq imports similarity)


def _ann_pq_sql(k: int = 5, n_queries: int = 10) -> str:
    global _PQ_BOOKS
    if _PQ_BOOKS is None:
        _PQ_BOOKS = _pq_books()
    m, kk = _PQ_M, _PQ_K
    dsub = 64 // m
    # centroid squared norms exactly as _codebook_frame computes them
    # (sequential float64 sum of squares)
    norms = [
        [sum(x * x for x in c) for c in row] for row in _PQ_BOOKS
    ]

    def pq_dot(sub: str, c: list[float]) -> str:
        return _SQL_DOT.format(a=sub, b=_plane_sql(c))

    def sub(col: str, j: int) -> str:
        return f"{col}[{j * dsub + 1}:{(j + 1) * dsub}]"

    dist_cols = ",\n           ".join(
        "["
        + ", ".join(
            f"({norms[j][c]!r} - 2.0 * {pq_dot(sub('nvec', j), _PQ_BOOKS[j][c])})"
            for c in range(kk)
        )
        + f"] AS d{j}"
        for j in range(m)
    )
    code_arr = "[" + ", ".join(
        f"CAST(list_position(d{j}, list_aggregate(d{j}, 'min')) - 1 AS INT)"
        for j in range(m)
    ) + "]"
    tbl_arr = "[" + ", ".join(
        pq_dot(sub("nvec", j), _PQ_BOOKS[j][c])
        for j in range(m)
        for c in range(kk)
    ) + "]"
    j_idx = "[" + ", ".join(str(j) for j in range(m)) + "]"
    return f"""
    WITH dd AS (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings),
    nv AS (SELECT vec_id,
           list_transform(v, x -> x / greatest(
             sqrt({_SQL_DOT.format(a="v", b="v")}), 1e-12)) AS nvec
           FROM dd),
    dists AS (SELECT vec_id, nvec,
           {dist_cols}
    FROM nv),
    codes AS (SELECT vec_id, {code_arr} AS codes FROM dists),
    qtbl AS (SELECT vec_id AS query_id, {tbl_arr} AS tbl
             FROM nv WHERE vec_id < {n_queries}),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(c.codes, {j_idx}),
               p -> q.tbl[p[2] * {kk} + p[1] + 1])) AS approx_sim
      FROM codes c CROSS JOIN qtbl q
      WHERE c.vec_id != q.query_id),
    cand AS (
      SELECT query_id, neighbor_id
      FROM (SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY approx_sim DESC, neighbor_id ASC) AS arank
            FROM scored)
      WHERE arank <= {_PQ_RERANK * k}),
    rer AS (
      SELECT cand.query_id, cand.neighbor_id,
             {_cos_sql("qd.v", "cd.v")} AS cosine_sim
      FROM cand
      JOIN dd qd ON qd.vec_id = cand.query_id
      JOIN dd cd ON cd.vec_id = cand.neighbor_id)
    SELECT query_id, neighbor_id, cosine_sim, CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) rnk
          FROM rer)
    WHERE rnk <= {k}
    """


@query("ann_pq_cosine", _ann_pq_sql())
def ann_pq_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors for 10 queries via product
    quantization (``operators/pq.py``): 16×16 codebooks, compressed
    ADC scan (m lookups per pair instead of D multiplies), exact
    re-rank of the top candidates — the ANN path that also COMPRESSES
    the index 32× so 100 TB of embeddings fit a fraction of the
    footprint at rest.

    FULL SQL oracle (promoted r8, extending VERDICT r7 task #4 beyond
    IVF): the codebooks here are SEEDED data-independent literals
    (``seeded_codebooks`` — unit LCG centroids scaled to the expected
    subvector norm), so the oracle embeds the same constants and
    replays normalize → per-subspace argmin encode → ADC lookup-table
    scan → deterministic candidate cut → exact re-rank bit-for-bit.
    The TRAINED Lloyd codebooks stay the operator default
    (``train_pq``), recall-pinned in pytest; the seeded entry widens
    ``rerank`` (16·k candidates vs the trained default's 8·k) to buy
    back the coarser quantization's candidate recall."""
    from ..operators.pq import pq_knn

    global _PQ_BOOKS
    if _PQ_BOOKS is None:
        _PQ_BOOKS = _pq_books()
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_knn(
        emb, queries, k=5, m=_PQ_M, n_codes=_PQ_K, rerank=_PQ_RERANK,
        codebooks=_PQ_BOOKS,
    ).select("query_id", "neighbor_id", "cosine_sim", "rank")


@query("doc_compression_signal")
def doc_compression_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression-ratio quality signal per document
    (``operators/signals.py``): repetitive/templated text compresses
    far better than prose — the classic curation tail-detector used
    beside the Gopher rules.

    No SQL oracle (zlib is not expressible in DuckDB SQL); rows-only
    check + crafted-text separation and determinism pinned in pytest.
    Arrow-batched mapInPandas, zero shuffles.
    """
    from ..operators.signals import compression_signals

    return compression_signals(t(spark, sf_dir, "documents"))


@query(
    "cross_source_near_dups",
    f"""
    WITH {_minhash_ctes()},
    src AS (SELECT doc_id, source FROM documents)
    SELECT least(sa.source, sb.source) AS source_a,
           greatest(sa.source, sb.source) AS source_b,
           CAST(count(*) AS BIGINT) AS near_dup_pairs,
           ROUND(avg(p.jaccard), 4) AS avg_similarity
    FROM pairs p
    JOIN src sa ON p.id_a = sa.doc_id
    JOIN src sb ON p.id_b = sb.doc_id
    GROUP BY 1, 2
    """,
)
def cross_source_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sub-corpus duplication matrix: MinHash-LSH near-dup pairs
    rolled up to the (source_a, source_b) grain — off-diagonal cells
    are content shared BETWEEN feeds (syndication/mirror contamination
    that makes naive mixture weights double-count), diagonal cells are
    within-source duplication. The oracle replays the entire minhash
    pipeline plus the rollup, so the full path is hash-checked.
    Per-pair jaccard is bit-identical cross-engine; only the
    order-dependent avg is rounded."""
    docs = t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, k=3, num_hashes=12, bands=4, verify_threshold=0.5
    )
    return D.cross_source_overlap(docs, pairs)


@query(
    "hard_negative_mining",
    f"""
    WITH dd AS (SELECT vec_id, label, {_SQL_VEC} AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS q_label, v AS qv
          FROM dd WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             c.label AS neighbor_label,
             {_cos_sql("q.qv", "c.v")} AS cosine_sim
      FROM dd c JOIN q ON c.vec_id != q.query_id AND c.label != q.q_label)
    SELECT query_id, neighbor_id, neighbor_label, cosine_sim,
           CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) rnk
          FROM scored)
    WHERE rnk <= 5
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard negatives: for each of 10 query vectors, the
    top-5 most-similar corpus vectors with a DIFFERENT label — the
    high-loss negatives a retrieval/embedding trainer mines between
    epochs. Label filter rides the join condition (pruned before the
    dot-product fold); exact path here, LSH-candidate path composes
    for billion-row corpora. Full SQL oracle."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    return S.hard_negative_knn(emb, queries, k=5).select(
        "query_id", "neighbor_id", "neighbor_label", "cosine_sim", "rank"
    )


@query(
    "semantic_decontamination",
    f"""
    WITH dd AS (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings),
    ev AS (SELECT v AS evv FROM dd WHERE vec_id % 20 = 0),
    tr AS (SELECT vec_id, v FROM dd WHERE vec_id % 20 <> 0),
    s AS (
      SELECT t.vec_id, max({_cos_sql("t.v", "e.evv")}) AS max_eval_sim
      FROM tr t CROSS JOIN ev e GROUP BY 1)
    SELECT vec_id, max_eval_sim,
           max_eval_sim >= 0.35 AS is_contaminated
    FROM s
    """,
)
def semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level decontamination: every 20th vector plays the
    held-out eval suite; each remaining training vector is scored by
    its MAX cosine against any eval vector and flagged at 0.35 — the
    semantic companion to doc_decontamination's n-gram rule (catches
    paraphrased eval leakage that shares no shingles). Eval side is
    bounded by construction → broadcast; the corpus never shuffles.
    Per-pair cosine is the bit-identical strict fold, and max is
    order-free, so the oracle hashes raw doubles."""
    emb = t(spark, sf_dir, "embeddings")
    ev = emb.filter(F.col("vec_id") % 20 == 0)
    tr = emb.filter(F.col("vec_id") % 20 != 0)
    return C.semantic_contamination(tr, ev, threshold=0.35)


_WINNOW_K, _WINNOW_W, _WINNOW_MIN = 20, 8, 5


@query(
    "winnow_near_pairs",
    f"""
    WITH n AS (
      SELECT doc_id,
             lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
      FROM documents),
    h AS (
      SELECT doc_id, t,
             list_transform(
               [t[i:i+{_WINNOW_K - 1}]
                for i in generate_series(1, length(t) - {_WINNOW_K - 1})],
               g -> {md5_int_sql("g")}) AS hs
      FROM n),
    g AS (
      SELECT doc_id,
             CASE WHEN length(t) >= {_WINNOW_K + _WINNOW_W - 1} THEN
                    list_distinct([list_min(hs[p:p+{_WINNOW_W - 1}])
                       for p in generate_series(1, len(hs) - {_WINNOW_W - 1})])
                  WHEN length(t) >= {_WINNOW_K} THEN [list_min(hs)]
                  ELSE [] END AS fps
      FROM h),
    e AS (SELECT doc_id, unnest(fps) AS fp FROM g)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS shared_fps
    FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= {_WINNOW_MIN}
    """,
)
def winnow_near_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint near-dup pairs (Schleimer et al., SIGMOD
    2003 — the MOSS algorithm; ``operators/winnow.py``): windowed-min
    selection over rolling char-20-gram hashes gives a GUARANTEE —
    every verbatim shared run of ≥ k+w−1 = 27 chars contributes an
    identical fingerprint to both documents — so ``shared_fps``
    counts certified shared passages, where MinHash only estimates
    set overlap. Pairs share ≥ 5 fingerprints. The oracle replays
    normalization → rolling hashes → window minima → inverted-index
    join bit-for-bit (md5-prefix integers, the dedup-family
    portability contract)."""
    from ..operators.winnow import winnow_near_pairs

    return winnow_near_pairs(
        t(spark, sf_dir, "documents"),
        k=_WINNOW_K,
        w=_WINNOW_W,
        min_shared=_WINNOW_MIN,
    )


_CBS_BITS, _CBS_SEED, _CBS_PCT_DEN = 4, 101, 5  # keep ceil(n/5) per cell


def _cluster_balanced_sample_sql() -> str:
    cell = _bucket_sql("v", S.hyperplanes(64, _CBS_BITS, seed=_CBS_SEED))
    return f"""
    WITH dd AS (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings),
    sig AS (SELECT vec_id, {cell} AS cell FROM dd),
    r AS (SELECT vec_id, cell,
            CAST(count(*) OVER (PARTITION BY cell) AS BIGINT) AS cell_n,
            CAST(row_number() OVER (
              PARTITION BY cell
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT)
              AS pick_rank
          FROM sig)
    SELECT vec_id, CAST(cell AS BIGINT) AS cell, cell_n, pick_rank
    FROM r WHERE pick_rank <= (cell_n + {_CBS_PCT_DEN - 1}) // {_CBS_PCT_DEN}
    """


@query("cluster_balanced_sample", _cluster_balanced_sample_sql())
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced 20% subset of the embedding corpus: bucket the
    space into 2^4 hyperplane cells (a deterministic stand-in for
    k-means cluster ids), then keep ceil(n/5) vectors per cell by
    seeded hash rank.

    The diversity-sampling primitive for training-data selection:
    uniform sampling reproduces the corpus's mode collapse (dense
    regions dominate), while per-cell proportional allocation
    preserves coverage of sparse regions — the cluster-balanced
    selection step of SemDeDup/DCLM-style pipelines, expressed as one
    shuffle.

    Scale: ONE exchange on the cell key; within each cell a sort by
    md5(vec_id) ranks deterministically (no RNG state, reproducible
    under retries/speculation). Cell counts ride the same window
    partition. Random hyperplanes balance cells on isotropic data; a
    production corpus with hot cells raises ``bits`` so per-cell sort
    stays bounded — allocation stays proportional by construction.
    The oracle replays the identical plane literals, hash order, and
    integer ceiling, so selection is hash-checked end-to-end."""
    emb = t(spark, sf_dir, "embeddings")
    cell = F.expr(
        S._signature_sql(
            "`embedding`", S.hyperplanes(64, _CBS_BITS, seed=_CBS_SEED)
        )
    )
    sig = emb.select("vec_id", cell.alias("cell"))
    w_cnt = Window.partitionBy("cell")
    w_rank = Window.partitionBy("cell").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    ranked = sig.select(
        "vec_id",
        "cell",
        F.count("*").over(w_cnt).alias("cell_n"),
        F.row_number().over(w_rank).cast("long").alias("pick_rank"),
    )
    return ranked.filter(
        F.col("pick_rank")
        <= F.expr(f"(cell_n + {_CBS_PCT_DEN - 1}) div {_CBS_PCT_DEN}")
    ).select("vec_id", "cell", "cell_n", "pick_rank")


def _incremental_minhash_sql() -> str:
    # corpus side ({x}) = doc_id % 5 <> 0 (at rest); batch side ({y})
    # = doc_id % 5 = 0 — the same split the Spark entry stages
    return f"""
    WITH {_minhash_ctes(
        pair_pred="{x}.doc_id % 5 <> 0 AND {y}.doc_id % 5 = 0"
    )}
    SELECT id_a AS id_corpus, id_b AS id_batch, jaccard FROM pairs
    """


@query("incremental_near_dup_ingest", _incremental_minhash_sql())
def incremental_near_dup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup ingestion gate
    (``operators/incremental.py::near_dup_batch_against_corpus``):
    every 5th document plays the arriving batch, the rest the
    corpus-at-rest; emitted rows are batch documents that are
    MinHash-LSH candidates against an at-rest document, verified at
    exact Jaccard ≥ 0.5 — the documents a continuous-crawl pipeline
    would REJECT before appending.

    Scale (the reason this entry exists): per-delivery cost is
    O(batch) hashing + one equi-join of the batch's band keys against
    the STORED (id, band, bucket) index (``banded_signatures``), then
    Jaccard verification that shingles only colliding docs on either
    side — the corpus is never re-hashed, and corpus text is re-read
    only for candidate docs. Re-running whole-corpus LSH per delivery
    is O(corpus) work for an O(batch) change; this is the batch
    counterpart of the streaming dedup entries.

    Oracle: the full cross-set pipeline (signatures, banding,
    corpus×batch candidate join, exact-Jaccard verify) replayed in
    DuckDB via the shared minhash CTEs with a split pair predicate."""
    from ..operators.incremental import near_dup_batch_against_corpus

    docs = t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    return near_dup_batch_against_corpus(
        batch, corpus, k=3, num_hashes=12, bands=4, verify_threshold=0.5
    ).select(
        F.col("id_a").alias("id_corpus"),
        F.col("id_b").alias("id_batch"),
        "jaccard",
    )


_JSD_SQL = """
    WITH tok AS (
      SELECT source,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
      FROM documents WHERE trim(text) <> ''),
    cs AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS c_s
      FROM tok GROUP BY 1, 2),
    ts AS (
      SELECT source, CAST(sum(c_s) AS BIGINT) AS t_s
      FROM cs GROUP BY 1),
    cg AS (
      SELECT w, CAST(sum(c_s) AS BIGINT) AS c_g
      FROM cs GROUP BY 1),
    tg AS (SELECT CAST(sum(c_g) AS BIGINT) AS t_g FROM cg),
    grid AS (
      SELECT ts.source, ts.t_s, cg.w, cg.c_g
      FROM ts CROSS JOIN cg),
    j AS (
      SELECT g.source, g.t_s, g.c_g,
             COALESCE(cs.c_s, 0) AS c_s
      FROM grid g
      LEFT JOIN cs ON cs.source = g.source AND cs.w = g.w),
    terms AS (
      SELECT source, t_s,
             CAST(c_s AS DOUBLE) / CAST(t_s AS DOUBLE) AS p,
             CAST(c_g AS DOUBLE) / CAST(t.t_g AS DOUBLE) AS q
      FROM j CROSS JOIN tg t)
    SELECT source,
           CAST(max(t_s) AS BIGINT) AS n_tokens,
           round(sum(CASE WHEN p > 0
                          THEN 0.5 * p * log2(p / ((p + q) / 2.0))
                          ELSE 0.0 END
                     + 0.5 * q * log2(q / ((p + q) / 2.0))), 4)
             AS jsd_bits
    FROM terms GROUP BY 1
"""


@query("source_token_jsd", _JSD_SQL)
def source_token_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's token distribution
    from the CORPUS distribution (Lin 1991) — the mixture-curation
    readout that ranks sources by how distributionally deviant they
    are before reweighting: JSD(P_s ‖ Q) = ½KL(P_s‖M) + ½KL(Q‖M),
    M = (P_s+Q)/2, in bits (log2; bounded [0,1], symmetric, finite
    even where a source is missing vocabulary — exactly why JSD and
    not raw KL, which is infinite on any unseen token).

    Cross-engine: counts are exact integers and each p, q is one IEEE
    division, but the Σ over the vocabulary is an order-dependent
    double sum and log2 is a libm call, so the result is rounded to 4
    decimals (the catalog's r4 convention for order-dependent float
    aggregates; the accumulated noise is ~1e-12).

    Scale shape: one token explode + hash agg to the (source, token)
    grain, then everything runs at VOCABULARY scale, never corpus
    scale — the dense (source × vocab) grid the missing-token terms
    require is |sources| (bounded mixture registry) × |vocab|
    (language-bounded), built by replicating the broadcast per-source
    totals over the global vocab table. Same posture as the DSIR /
    LM-score entries that already operate at vocab grain."""
    docs = t(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    tok = docs.select(
        "source", F.explode(X.tokens(F.lower(F.col("text")))).alias("w")
    )
    cs = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c_s")
    )
    ts = cs.groupBy("source").agg(
        F.sum("c_s").cast("long").alias("t_s")
    )
    cg = cs.groupBy("w").agg(F.sum("c_s").cast("long").alias("c_g"))
    tg = cg.agg(F.sum("c_g").cast("long").alias("t_g"))
    grid = cg.crossJoin(F.broadcast(ts))
    j = grid.join(cs, ["source", "w"], "left").select(
        "source",
        "t_s",
        "c_g",
        F.coalesce(F.col("c_s"), F.lit(0)).alias("c_s"),
    )
    terms = j.crossJoin(F.broadcast(tg)).select(
        "source",
        "t_s",
        (F.col("c_s").cast("double") / F.col("t_s").cast("double")).alias(
            "p"
        ),
        (F.col("c_g").cast("double") / F.col("t_g").cast("double")).alias(
            "q"
        ),
    )
    m = (F.col("p") + F.col("q")) / F.lit(2.0)
    contrib = (
        F.when(
            F.col("p") > 0,
            F.lit(0.5) * F.col("p") * F.log2(F.col("p") / m),
        ).otherwise(F.lit(0.0))
        + F.lit(0.5) * F.col("q") * F.log2(F.col("q") / m)
    )
    return terms.groupBy("source").agg(
        F.max("t_s").cast("long").alias("n_tokens"),
        F.round(F.sum(contrib), 4).alias("jsd_bits"),
    )
