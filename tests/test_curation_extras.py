"""Chunking / packing / redaction / unigram-LM scoring: DuckDB parity
(same order-insensitive value gate as the driver) plus semantic
invariants the SQL replica can't express (reconstruction, monotone
packing, placeholder non-cascade)."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from nyc_taxi_etl_spark.operators import chunking, lm, redact
from nyc_taxi_etl_spark.sources.catalog import load_table

from .compare import assert_frames_match
from .conftest import SF_DIR

# DuckDB replica of text.tokens(): trim, split on runs of whitespace,
# empty list for blank text.
_TOKS = (
    "CASE WHEN trim({t}) = '' THEN CAST([] AS VARCHAR[]) "
    "ELSE string_split_regex(trim({t}), '\\s+') END"
)


def _docs(spark):
    return load_table(spark, SF_DIR, "documents")


# ---------------------------------------------------------------------------
# chunk_by_chars
# ---------------------------------------------------------------------------


def test_chunk_by_chars_matches_duckdb(spark, duck):
    out = chunking.chunk_by_chars(
        _docs(spark), chunk_chars=200, overlap=40
    ).toPandas()
    stride = 160
    oracle = duck.execute(
        f"""
        WITH e AS (
          SELECT doc_id, text,
                 unnest(range(0, CASE WHEN length(text) = 0 THEN 0
                     ELSE (length(text) - 1) // {stride} + 1 END)) AS i
          FROM documents)
        SELECT doc_id, CAST(i AS INT) AS chunk_ix,
               substring(text, CAST(i * {stride} + 1 AS INT), 200) AS chunk_text,
               CAST(length(substring(text, CAST(i * {stride} + 1 AS INT), 200))
                    AS BIGINT) AS chunk_len
        FROM e
        """
    ).df()
    assert_frames_match(out, oracle, "chunk_by_chars")


def test_chunk_overlap_reconstructs_document(spark):
    docs = _docs(spark).limit(20).toPandas().set_index("doc_id")["text"]
    chunks = (
        chunking.chunk_by_chars(
            _docs(spark).limit(20), chunk_chars=100, overlap=25
        )
        .toPandas()
        .sort_values(["doc_id", "chunk_ix"])
    )
    for doc_id, grp in chunks.groupby("doc_id"):
        parts = list(grp["chunk_text"])
        rebuilt = parts[0] + "".join(p[25:] for p in parts[1:])
        assert rebuilt == docs[doc_id]


def test_chunk_by_chars_validates_overlap(spark):
    with pytest.raises(ValueError):
        chunking.chunk_by_chars(_docs(spark), chunk_chars=10, overlap=10)


def test_chunk_by_chars_plan_has_no_exchange(spark):
    import contextlib
    import io

    df = chunking.chunk_by_chars(_docs(spark), chunk_chars=128)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "Exchange" not in buf.getvalue()  # row-local: narrow, no shuffle


# ---------------------------------------------------------------------------
# chunk_by_tokens
# ---------------------------------------------------------------------------


def test_chunk_by_tokens_matches_duckdb(spark, duck):
    out = chunking.chunk_by_tokens(
        _docs(spark), chunk_tokens=30, overlap=0
    ).toPandas()
    toks = _TOKS.format(t="text")
    oracle = duck.execute(
        f"""
        WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
        e AS (
          SELECT doc_id, toks,
                 unnest(range(0, CASE WHEN len(toks) = 0 THEN 0
                     ELSE (len(toks) - 1) // 30 + 1 END)) AS i
          FROM t)
        SELECT doc_id, CAST(i AS INT) AS chunk_ix,
               array_to_string(list_slice(toks, CAST(i*30 + 1 AS INT),
                                          CAST(i*30 + 30 AS INT)), ' ')
                 AS chunk_text,
               CAST(len(list_slice(toks, CAST(i*30 + 1 AS INT),
                                   CAST(i*30 + 30 AS INT))) AS BIGINT)
                 AS chunk_tokens
        FROM e
        """
    ).df()
    assert_frames_match(out, oracle, "chunk_by_tokens")


# ---------------------------------------------------------------------------
# pack_sequences
# ---------------------------------------------------------------------------


def _pack_oracle(duck, capacity: int) -> pd.DataFrame:
    toks = _TOKS.format(t="text")
    return duck.execute(
        f"""
        WITH t AS (SELECT doc_id, len({toks}) AS n FROM documents),
        c AS (SELECT doc_id, n,
                     sum(n) OVER (ORDER BY doc_id) - n AS before
              FROM t)
        SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
               CAST(before // {capacity} AS BIGINT) AS pack_id,
               CAST(before % {capacity} AS BIGINT) AS pack_offset
        FROM c
        """
    ).df()


def test_pack_sequences_matches_single_window_oracle(spark, duck):
    out = chunking.pack_sequences(_docs(spark), capacity=1000).toPandas()
    assert_frames_match(out, _pack_oracle(duck, 1000), "pack_sequences")


def test_pack_sequences_bucket_count_is_semantically_free(spark):
    a = (
        chunking.pack_sequences(_docs(spark), capacity=500, buckets=1)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    b = (
        chunking.pack_sequences(_docs(spark), capacity=500, buckets=37)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_pack_sequences_invariants(spark):
    out = (
        chunking.pack_sequences(_docs(spark), capacity=777)
        .toPandas()
        .sort_values("doc_id")
    )
    assert (out["pack_offset"] < 777).all()
    assert (out["pack_offset"] >= 0).all()
    assert out["pack_id"].is_monotonic_increasing
    # stream-consistency: before_me of doc i+1 == before_me of i + n_i
    before = out["pack_id"] * 777 + out["pack_offset"]
    assert (before.diff().dropna() == out["n_tokens"].shift(1).dropna()).all()


# ---------------------------------------------------------------------------
# redaction
# ---------------------------------------------------------------------------

_PII_SAMPLES = [
    (0, "mail me at jane.doe+x@example.co.uk or visit https://ex.io/a?b=1"),
    (1, "server 10.0.255.3 answered; card 4111 1111 1111 1111 on file"),
    (2, "ssn 123-45-6789, phone (212) 555-0100 or +1 212.555.0100"),
    (3, "no pii here, just version 1.2.3 and a year 2026"),
    (4, ""),
]


def test_redact_known_samples(spark):
    df = spark.createDataFrame(_PII_SAMPLES, ["doc_id", "text"])
    out = (
        redact.redact_documents(df)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert out.loc[0, "redacted_text"] == "mail me at <EMAIL> or visit <URL>"
    assert out.loc[1, "redacted_text"] == "server <IP> answered; card <CARD> on file"
    assert out.loc[2, "redacted_text"] == "ssn <SSN>, phone <PHONE> or <PHONE>"
    assert out.loc[3, "redacted_text"] == _PII_SAMPLES[3][1]  # untouched
    assert out.loc[0, "email_count"] == 1 and out.loc[0, "url_count"] == 1
    assert out.loc[1, "ipv4_count"] == 1 and out.loc[1, "card_count"] == 1
    assert out.loc[2, "ssn_count"] == 1 and out.loc[2, "phone_count"] == 2
    assert out.loc[3].drop("redacted_text").sum() == 0


def test_redact_matches_duckdb(spark, duck):
    pdf = pd.DataFrame(_PII_SAMPLES, columns=["doc_id", "text"])
    duck.register("pii_samples", pdf)
    replaced = "text"
    counts = []
    for name, pattern, placeholder in redact.PII_RULES:
        sql_pat = pattern.replace("'", "''")
        counts.append(
            f"CAST(len(regexp_extract_all(text, '{sql_pat}')) AS BIGINT)"
            f" AS {name}_count"
        )
        replaced = f"regexp_replace({replaced}, '{sql_pat}', '{placeholder}', 'g')"
    oracle = duck.execute(
        f"SELECT doc_id, {replaced} AS redacted_text, {', '.join(counts)} "
        f"FROM pii_samples"
    ).df()
    spark_df = redact.redact_documents(
        spark.createDataFrame(_PII_SAMPLES, ["doc_id", "text"])
    ).toPandas()
    assert_frames_match(spark_df, oracle, "redact_documents")
    duck.unregister("pii_samples")


def test_redact_corpus_is_stable(spark):
    # Placeholders must never cascade: redacting twice is identity.
    once = redact.redact_documents(_docs(spark))
    twice = redact.redact_documents(
        once.select("doc_id", F.col("redacted_text").alias("text"))
    )
    joined = once.alias("a").join(twice.alias("b"), "doc_id")
    assert (
        joined.filter(
            F.col("a.redacted_text") != F.col("b.redacted_text")
        ).count()
        == 0
    )


# ---------------------------------------------------------------------------
# unigram LM scoring
# ---------------------------------------------------------------------------


def test_lm_scores_match_duckdb(spark, duck):
    docs = _docs(spark)
    model = lm.train_unigram(docs)
    out = lm.score_documents(docs, model).toPandas()
    toks = _TOKS.format(t="lower(text)")
    oracle = duck.execute(
        f"""
        WITH doc_tok AS (
          SELECT doc_id, unnest({toks}) AS token FROM documents),
        model AS (SELECT token, count(*) AS cnt FROM doc_tok GROUP BY 1),
        tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total,
                       CAST(count(*) AS DOUBLE) AS vocab FROM model),
        scored AS (
          SELECT d.doc_id,
                 CAST(count(*) AS BIGINT) AS n_tokens,
                 avg(ln((m.cnt + 0.5) / (t.total + 0.5 * (t.vocab + 1))))
                   AS raw_avg
          FROM doc_tok d JOIN model m USING (token) CROSS JOIN tot t
          GROUP BY d.doc_id)
        SELECT doc.doc_id,
               COALESCE(s.n_tokens, 0) AS n_tokens,
               ROUND(s.raw_avg, 4) AS avg_logprob,
               ROUND(exp(-s.raw_avg), 4) AS perplexity
        FROM documents doc LEFT JOIN scored s USING (doc_id)
        """
    ).df()
    assert_frames_match(out, oracle, "lm_scores")


def test_lm_oov_scores_below_seen(spark):
    train = spark.createDataFrame(
        [(0, "alpha beta gamma alpha beta alpha")], ["doc_id", "text"]
    )
    model = lm.train_unigram(train)
    score_df = spark.createDataFrame(
        [(1, "alpha alpha"), (2, "zzz qqq")], ["doc_id", "text"]
    )
    out = (
        lm.score_documents(score_df, model)
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[1, "avg_logprob"] > out.loc[2, "avg_logprob"]
    for doc_id in (1, 2):
        assert math.isclose(
            out.loc[doc_id, "perplexity"],
            math.exp(-out.loc[doc_id, "avg_logprob"]),
            rel_tol=1e-3,
        )


def test_lm_empty_document_gets_null_scores(spark):
    model = lm.train_unigram(_docs(spark))
    df = spark.createDataFrame([(7, "")], ["doc_id", "text"])
    row = lm.score_documents(df, model).first()
    assert row.n_tokens == 0
    assert row.avg_logprob is None and row.perplexity is None


# ---------------------------------------------------------------------------
# boilerplate removal
# ---------------------------------------------------------------------------

_HEADER = "subscribe to our newsletter today"
_FOOTER = "all rights reserved"
# Bodies share NO word across docs — shared body words would correctly
# become boilerplate themselves and mask more than the template.
_BOILER_DOCS = [
    (i, f"{_HEADER} alpha{i} beta{i} gamma{i} delta{i} {_FOOTER}")
    for i in range(8)
] + [(8, "a fully unique document with no template at all"), (9, "")]


def _boiler_oracle_sql(source: str, k: int, frac: float) -> str:
    toks = (
        "CASE WHEN trim(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) = ''"
        " THEN CAST([] AS VARCHAR[]) ELSE string_split("
        "lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') END"
    )
    return f"""
    WITH norm AS (SELECT doc_id, {toks} AS toks FROM {source}),
    sh AS (
      SELECT doc_id, i,
             array_to_string(list_slice(toks, CAST(i+1 AS INT),
                                        CAST(i+{k} AS INT)), ' ') AS s
      FROM (SELECT doc_id, toks,
                   unnest(range(0, greatest(len(toks) - {k} + 1, 0))) AS i
            FROM norm)),
    n AS (SELECT count(*) AS n FROM {source}),
    b AS (SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS d FROM sh GROUP BY 1), n
          WHERE d >= ceil({frac} * n)),
    cov AS (SELECT DISTINCT doc_id, unnest(range(i, i + {k})) AS p
            FROM sh WHERE s IN (SELECT s FROM b)),
    tok AS (SELECT doc_id, i AS p, toks[CAST(i+1 AS INT)] AS tkn, len(toks) AS n_tok
            FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS i FROM norm)),
    kept AS (SELECT t.doc_id, t.p, t.tkn FROM tok t
             ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.p),
    agg AS (SELECT doc_id, string_agg(tkn, ' ' ORDER BY p) AS clean_text,
                   count(*) AS n_kept
            FROM kept GROUP BY doc_id),
    nt AS (SELECT doc_id, len(toks) AS n_tokens FROM norm)
    SELECT nt.doc_id,
           COALESCE(agg.clean_text, '') AS clean_text,
           CAST(nt.n_tokens AS BIGINT) AS n_tokens,
           CAST(nt.n_tokens - COALESCE(agg.n_kept, 0) AS BIGINT) AS removed_tokens
    FROM nt LEFT JOIN agg USING (doc_id)
    """


def test_remove_boilerplate_strips_template_keeps_body(spark):
    from nyc_taxi_etl_spark.operators import boilerplate

    df = spark.createDataFrame(_BOILER_DOCS, ["doc_id", "text"])
    out = (
        boilerplate.remove_boilerplate(df, min_doc_frac=0.5)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    for i in range(8):
        clean = out.loc[i, "clean_text"]
        assert _HEADER not in clean and _FOOTER not in clean
        assert f"alpha{i} beta{i} gamma{i} delta{i}" in clean
        assert out.loc[i, "removed_tokens"] > 0
    # untemplated + empty docs untouched
    assert out.loc[8, "clean_text"] == _BOILER_DOCS[8][1]
    assert out.loc[8, "removed_tokens"] == 0
    assert out.loc[9, "clean_text"] == "" and out.loc[9, "n_tokens"] == 0


def test_remove_boilerplate_matches_duckdb(spark, duck):
    from nyc_taxi_etl_spark.operators import boilerplate

    pdf = pd.DataFrame(_BOILER_DOCS, columns=["doc_id", "text"])
    duck.register("boiler_docs", pdf)
    oracle = duck.execute(_boiler_oracle_sql("boiler_docs", 3, 0.5)).df()
    out = boilerplate.remove_boilerplate(
        spark.createDataFrame(_BOILER_DOCS, ["doc_id", "text"]),
        min_doc_frac=0.5,
    ).toPandas()
    assert_frames_match(out, oracle, "remove_boilerplate")
    duck.unregister("boiler_docs")


def test_remove_boilerplate_corpus_matches_duckdb(spark, duck):
    from nyc_taxi_etl_spark.operators import boilerplate

    out = boilerplate.remove_boilerplate(
        _docs(spark), min_doc_frac=0.02
    ).toPandas()
    oracle = duck.execute(_boiler_oracle_sql("documents", 3, 0.02)).df()
    assert_frames_match(out, oracle, "remove_boilerplate_corpus")


def test_boilerplate_shingle_set_is_bounded(spark):
    from nyc_taxi_etl_spark.operators import boilerplate

    df = spark.createDataFrame(_BOILER_DOCS, ["doc_id", "text"])
    found = boilerplate.boilerplate_shingles(df, min_doc_frac=0.5).toPandas()
    assert len(found) > 0
    assert (found["doc_freq"] >= 5).all()
    # every detected shingle is made of template words only — the
    # per-doc body words never reach the boilerplate set
    template_words = set((_HEADER + " " + _FOOTER).split())
    for s in found["shingle"]:
        assert set(s.split()) <= template_words


def test_bigram_lm_semantics(spark):
    """Hand-checkable corpus: pair counts, interpolation, and the
    unigram-only first token."""
    import math

    from nyc_taxi_etl_spark.operators.lm import (
        score_documents_bigram,
        train_bigram,
        train_unigram,
    )

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "c"), (4, "")],
        "doc_id long, text string",
    )
    big = {
        (r.prev, r.token): r.pair_count
        for r in train_bigram(docs).collect()
    }
    # "a b a b": (a,b)x2 + (b,a); "a b": (a,b); "c"/"" contribute none
    assert big == {("a", "b"): 3, ("b", "a"): 1}

    uni = train_unigram(docs)
    out = (
        score_documents_bigram(docs, uni, train_bigram(docs))
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert out.loc[4, "n_tokens"] == 0  # empty doc kept, null scores
    # doc 3 = single token "c": unigram-only path.
    # corpus: tokens a:3 b:3 c:1, total 7, vocab 3
    p_c = (1 + 0.5) / (7 + 0.5 * 4)
    assert abs(out.loc[3, "avg_logprob"] - round(math.log(p_c), 4)) < 1e-9
    # doc 2 = "a b": ln(P_uni(a)) then ln(.7*c(a,b)/c(a.) + .3*P_uni(b))
    p_a = (3 + 0.5) / 9.0
    p_b_given_a = 0.7 * (3 / 3) + 0.3 * p_a  # c(a,b)=3, ctx(a)=3; uni(b)=uni(a)
    expected = (math.log(p_a) + math.log(p_b_given_a)) / 2
    assert abs(out.loc[2, "avg_logprob"] - round(expected, 4)) < 1e-9
    # unseen pair (b,c): ML term 0, probability degrades to the
    # 0.3*P_uni floor instead of -inf -- the point of interpolation --
    # so the seen-pair doc must outscore it
    unseen = spark.createDataFrame([(9, "b c")], "doc_id long, text string")
    u = score_documents_bigram(unseen, uni, train_bigram(docs)).collect()[0]
    assert math.isfinite(u.avg_logprob)
    p_c_uni = (1 + 0.5) / 9.0
    exp_u = (math.log(p_b := (3 + 0.5) / 9.0) + math.log(0.3 * p_c_uni)) / 2
    assert abs(u.avg_logprob - round(exp_u, 4)) < 1e-9
    assert out.loc[2, "avg_logprob"] > u.avg_logprob


def test_curation_audit_partitions_and_agrees_with_curate(spark):
    """Fates partition the input corpus; 'kept' ids are exactly
    curate_documents' output; keeper rules hold."""
    from nyc_taxi_etl_spark.operators.curate import (
        curate_documents,
        curation_audit,
    )
    from nyc_taxi_etl_spark.sources.catalog import load_table
    from .conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    audit = curation_audit(docs).toPandas()
    assert len(audit) == docs.count()
    kept_ids = set(audit[audit.fate == "kept"].doc_id)
    curated = {r.doc_id for r in curate_documents(docs).collect()}
    assert kept_ids == curated
    # keeper invariants
    k = audit.set_index("doc_id")
    for _, row in audit.iterrows():
        if row.fate == "kept":
            assert row.keeper_id == row.doc_id
        elif row.fate == "dropped_quality":
            assert pd.isna(row.keeper_id)  # NULL keeper
        else:
            assert row.keeper_id in kept_ids, row.doc_id
    # the planted test corpus exercises quality and near-dup drops
    # (its duplicates are NEAR dups -- no byte-identical pairs at this
    # SF, so dropped_exact_dup is legitimately absent here; the exact
    # path is covered by a synthetic frame below)
    assert {"kept", "dropped_quality", "dropped_near_dup"} <= set(audit.fate)
    twin = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog " * 3),
         (2, "the quick brown fox jumps over the lazy dog " * 3)],
        "doc_id long, text string",
    )
    tw = curation_audit(twin).toPandas().set_index("doc_id")
    assert tw.loc[1, "fate"] == "kept"
    assert tw.loc[2, "fate"] == "dropped_exact_dup"
    assert tw.loc[2, "keeper_id"] == 1


def test_pipeline_cap_and_weighted_stages(spark):
    from nyc_taxi_etl_spark.operators.pipeline import prepare_training_corpus
    from nyc_taxi_etl_spark.sources.catalog import load_table
    from .conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    base = prepare_training_corpus(docs, chunk_tokens=64)
    capped = prepare_training_corpus(
        docs, chunk_tokens=64, cap_per=("source", 3)
    )
    # 20 sources × cap 3 = ≤60 docs reach curation; chunks shrink
    base_docs = base.select("doc_id").distinct().count()
    capped_docs = capped.select("doc_id").distinct().count()
    assert capped_docs <= 60 < base_docs
    sampled = prepare_training_corpus(
        docs, chunk_tokens=64, weighted_k=50, seed=3
    )
    assert sampled.select("doc_id").distinct().count() <= 50
    # deterministic under the seed
    again = prepare_training_corpus(
        docs, chunk_tokens=64, weighted_k=50, seed=3
    )
    assert sorted(
        map(tuple, sampled.select("doc_id", "chunk_ix").collect())
    ) == sorted(map(tuple, again.select("doc_id", "chunk_ix").collect()))


def test_curation_drops_null_ids(spark):
    """Contract: ids are unique and non-null; a null-id row is dropped
    before scoring. It used to surface as an all-null curated row
    (its text lost) and as a 'kept' audit row with a null keeper."""
    from nyc_taxi_etl_spark.operators.curate import (
        curate_documents,
        curation_audit,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog by the river"),
            (2, "a completely different sentence about spring weather here"),
            (None, "yet another document with enough plain words to pass"),
        ],
        "doc_id long, text string",
    )
    curated = curate_documents(docs).collect()
    audit = curation_audit(docs).collect()
    assert all(r.doc_id is not None for r in curated), curated
    assert all(r.doc_id is not None for r in audit), audit
    kept = {r.doc_id for r in audit if r.fate == "kept"}
    assert kept == {r.doc_id for r in curated}
