"""Deeper checks for dedup/similarity internals — beyond the catalog's
end-output oracles (which can mask candidate-generation bugs behind the
verify step)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_taxi_etl_spark.operators import dedup as D
from nyc_taxi_etl_spark.operators import similarity as S
from nyc_taxi_etl_spark.sources.catalog import load_table

from .compare import assert_frames_match
from .conftest import SF_DIR


def test_minhash_signatures_match_oracle(spark, duck):
    """Signatures themselves (not just verified pairs) must replay in
    DuckDB — catches seed-shadowing / degenerate-hash bugs."""
    docs = load_table(spark, SF_DIR, "documents")
    sp = D.minhash_signatures(docs, num_hashes=4).toPandas()
    du = duck.execute(
        """
        WITH tok AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') w
                     FROM documents),
        shl AS (SELECT doc_id,
                  CASE WHEN len(w) >= 3 THEN
                    list_distinct([w[i]||' '||w[i+1]||' '||w[i+2]
                                   for i in generate_series(1, len(w)-2)])
                  WHEN len(w) > 0 THEN [array_to_string(w, ' ')]
                  ELSE [] END sh FROM tok),
        hp AS (SELECT doc_id,
                 list_transform(sh, s -> [('0x' || substr(md5(s), 1, 8))::BIGINT,
                                          ('0x' || substr(md5(s), 9, 8))::BIGINT]) hp
               FROM shl)
        SELECT doc_id,
          list_aggregate(list_transform(hp, p -> (p[1] + 0 * p[2]) % 4294967291), 'min') mh_0,
          list_aggregate(list_transform(hp, p -> (p[1] + 1 * p[2]) % 4294967291), 'min') mh_1,
          list_aggregate(list_transform(hp, p -> (p[1] + 2 * p[2]) % 4294967291), 'min') mh_2,
          list_aggregate(list_transform(hp, p -> (p[1] + 3 * p[2]) % 4294967291), 'min') mh_3
        FROM hp
        """
    ).df()
    assert_frames_match(sp, du, "minhash_signatures")


def test_minhash_signature_columns_are_independent(spark):
    """The num_hashes permutations must actually differ (degenerate
    identical columns would silently weaken LSH to one band)."""
    docs = load_table(spark, SF_DIR, "documents")
    row = D.minhash_signatures(docs, num_hashes=6).limit(1).collect()[0]
    sig = [row[f"mh_{i}"] for i in range(6)]
    assert len(set(sig)) == 6, f"degenerate signature: {sig}"


def test_lsh_recall_against_bruteforce(spark):
    """Hyperplane-LSH ANN must recover most exact top-5 neighbors."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_knn(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in S.hyperplane_lsh_knn(
            emb, queries, k=5, bits=3, tables=10, dim=64
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"LSH recall too low: {recall}"


def test_minhash_lsh_finds_planted_near_dups(spark):
    """LSH candidates must recover ALL pairs with jaccard ≥ 0.8 (the
    planted near-dups) — P(miss | j=0.9, r=3, b=4) < 1%, and the test
    data's pairs are ≥ 0.88."""
    docs = load_table(spark, SF_DIR, "documents")
    truth = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(docs, min_jaccard=0.8).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(docs, verify_threshold=0.8).collect()
    }
    assert truth, "expected planted near-dup pairs in test data"
    assert truth == lsh, f"missed={truth - lsh} extra={lsh - truth}"


def test_simhash_near_dups_have_small_hamming(spark):
    """Planted near-dups (jaccard ≥ 0.9) should land within Hamming ≤ 6
    of 32 simhash bits; unrelated docs should not."""
    docs = load_table(spark, SF_DIR, "documents")
    sig = {r.doc_id: r.simhash for r in D.simhash(docs).collect()}
    truth = [
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(docs, min_jaccard=0.9).collect()
    ]
    assert truth
    for a, b in truth:
        ham = bin(sig[a] ^ sig[b]).count("1")
        assert ham <= 6, f"near-dup pair ({a},{b}) hamming {ham}"


def test_exact_dedup_no_false_merges(spark):
    docs = load_table(spark, SF_DIR, "documents")
    n_docs = docs.count()
    groups = D.exact_dedup(docs)
    assert groups.agg(F.sum("dup_count")).collect()[0][0] == n_docs


def test_ivf_recall_against_bruteforce(spark):
    from nyc_taxi_etl_spark.operators.similarity import brute_force_knn, ivf_knn

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_knn(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_knn(emb, queries, k=5, n_centroids=16, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_ivf_seeded_centroids_recall(spark):
    """The catalog entry's data-independent quantizer
    (seeded_unit_centroids — plan-time literals so the DuckDB oracle
    replays it) must still clear the recall bar at its chosen
    n_probe=6: replayability must not cost retrieval quality."""
    from nyc_taxi_etl_spark.operators.similarity import (
        brute_force_knn,
        ivf_knn,
        seeded_unit_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_knn(emb, queries, k=5).collect()
    }
    cents = seeded_unit_centroids(64, 16, seed=13)
    assert all(abs(sum(x * x for x in c) - 1.0) < 1e-12 for c in cents)
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_knn(
            emb, queries, k=5, n_centroids=16, n_probe=6, centroids=cents
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"seeded-IVF recall too low: {recall}"


def test_ivf_deterministic(spark):
    from nyc_taxi_etl_spark.operators.similarity import ivf_knn

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = ivf_knn(emb, queries, k=3, seed=7).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    b = ivf_knn(emb, queries, k=3, seed=7).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    assert a.equals(b)


def _uf_components(edges):
    """Reference union-find for cross-checking connected_components."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_chain_and_islands(spark):
    from nyc_taxi_etl_spark.operators.dedup import connected_components

    edges = [(1, 2), (2, 3), (3, 4), (5, 6), (9, 8)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 8: 8, 9: 8}


def test_connected_components_long_chain_converges(spark):
    # a 60-node path: naive label propagation would need ~60 rounds;
    # large-star/small-star must finish inside the 25-round cap
    from nyc_taxi_etl_spark.operators.dedup import connected_components

    edges = [(i, i + 1) for i in range(60)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert got == {i: 0 for i in range(61)}


def test_connected_components_matches_union_find(spark):
    import random

    from nyc_taxi_etl_spark.operators.dedup import connected_components

    rng = random.Random(42)
    edges = [
        (rng.randrange(200), rng.randrange(200))
        for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    expected = _uf_components(edges)
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert got == expected


def test_connected_components_local_and_distributed_paths_agree(spark):
    # the r5 adaptive small-graph fast path (driver union-find below
    # the edge bound) must be output-identical to the distributed
    # large-star/small-star loop (forced via local_solve_edges=0)
    import random

    from nyc_taxi_etl_spark.operators.dedup import connected_components

    rng = random.Random(7)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(400)]
    edges = [(a, b) for a, b in edges if a != b]
    expected = _uf_components(edges)
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    local = {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    dist = {
        r["node"]: r["component"]
        for r in connected_components(pairs, local_solve_edges=0).collect()
    }
    assert local == expected
    assert dist == expected


def test_bucket_pairs_hot_bucket_capped_but_connected(spark):
    # Pathological hot bucket: 200 ids in one (band, bucket) — e.g.
    # templated boilerplate that survived exact dedup.  The capped
    # expansion must (a) stay O(cap² + B) pairs, not C(200,2)=19900,
    # (b) keep EVERY member in ≥1 candidate pair (star edges to the
    # bucket min), so connected_components restores one cluster.
    from nyc_taxi_etl_spark.operators.dedup import (
        MAX_BUCKET_WIDTH,
        _bucket_pairs,
        connected_components,
        lsh_bucket_stats,
    )

    hot = [(f"d{i:03d}", 0, "hot") for i in range(200)]
    cold = [(f"x{i}", 0, "cold") for i in range(3)]
    banded = spark.createDataFrame(hot + cold, ["doc_id", "band", "bucket"])

    pairs = _bucket_pairs(banded, "doc_id").collect()
    cap = MAX_BUCKET_WIDTH
    expected_hot = cap * (cap - 1) // 2 + (200 - cap)  # window pairs + star tail
    assert len(pairs) == expected_hot + 3  # + C(3,2) cold pairs
    for r in pairs:
        assert r["id_a"] < r["id_b"]
    members = {r["id_a"] for r in pairs} | {r["id_b"] for r in pairs}
    assert {f"d{i:03d}" for i in range(200)} <= members

    comp = connected_components(
        spark.createDataFrame(pairs, ["id_a", "id_b"])
    ).collect()
    hot_components = {r["component"] for r in comp if r["node"].startswith("d")}
    assert hot_components == {"d000"}

    stats = lsh_bucket_stats(banded).first()
    assert stats["n_buckets"] == 2
    assert stats["max_bucket_width"] == 200
    assert stats["n_overflow_buckets"] == 1


def test_bucket_pairs_uncapped_matches_capped_on_small_buckets(spark):
    # Below the cap the capped and uncapped plans are identical.
    from nyc_taxi_etl_spark.operators.dedup import _bucket_pairs

    rows = [(f"d{i}", b, f"bk{i % 4}") for b in range(2) for i in range(20)]
    banded = spark.createDataFrame(rows, ["doc_id", "band", "bucket"])
    capped = {tuple(r) for r in _bucket_pairs(banded, "doc_id").collect()}
    full = {
        tuple(r)
        for r in _bucket_pairs(banded, "doc_id", max_bucket=None).collect()
    }
    assert capped == full and len(full) > 0


def test_simhash_signatures_match_oracle(spark, duck):
    # parity of the per-document signature itself (the near-pairs
    # catalog oracle replays it transitively; this pins it directly)
    got = (
        D.simhash(load_table(spark, SF_DIR, "documents"), bits=32)
        .toPandas()
    )
    want = duck.execute(
        """
        WITH tok AS (
          SELECT doc_id,
                 unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS w
          FROM documents),
        h AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS hv FROM tok),
        bits AS (
          SELECT doc_id, i,
                 sum(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
          FROM h, unnest(generate_series(0, 31)) AS t(i)
          GROUP BY 1, 2)
        SELECT doc_id,
               CAST(sum(CASE WHEN v > 0 THEN 1::BIGINT << i ELSE 0 END) AS BIGINT)
                 AS simhash
        FROM bits GROUP BY 1
        """
    ).df()
    assert_frames_match(got, want, "simhash_signatures")


def test_embedding_lsh_pairs_recall_and_precision(spark):
    # the LSH-gated near-pairs (catalog entry) vs the exact O(n²)
    # variant: gated output must be a SUBSET (precision 1.0 — every
    # emitted pair is cosine-verified) with usable recall even on this
    # near-uniform synthetic corpus (wide 65-70° angles, the hardest
    # regime for sign-LSH; production near-dup thresholds sit at small
    # angles where the same parameters give >=0.99 recall).
    emb = load_table(spark, SF_DIR, "embeddings")
    cand = S.hyperplane_lsh_pairs(emb, bits=4, tables=6, dim=64, seed=7)
    gated = {
        (r["id_a"], r["id_b"])
        for r in S.cosine_near_pairs(emb, threshold=0.35, candidates=cand).collect()
    }
    exact = {
        (r["id_a"], r["id_b"])
        for r in S.cosine_near_pairs(emb, threshold=0.35).collect()
    }
    assert gated <= exact
    assert len(gated) / len(exact) >= 0.4


def test_multiprobe_lsh_improves_recall(spark):
    # probe_hamming=1 must be a superset of the unprobed candidates and
    # lift recall of the gated near-pairs vs the exact result
    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {
        (r["id_a"], r["id_b"])
        for r in S.cosine_near_pairs(emb, threshold=0.35).collect()
    }

    def gated(ph):
        cand = S.hyperplane_lsh_pairs(
            emb, bits=4, tables=6, dim=64, seed=7, probe_hamming=ph
        )
        return {
            (r["id_a"], r["id_b"])
            for r in S.cosine_near_pairs(
                emb, threshold=0.35, candidates=cand
            ).collect()
        }

    plain, probed = gated(0), gated(1)
    assert plain <= probed <= exact
    assert len(probed) > len(plain)
    assert len(probed) / len(exact) >= 0.8


def test_semantic_dedup_finds_planted_clones(spark):
    """IVF-cell-gated default path: clone 10 corpus vectors with tiny
    perturbations; every clone must be flagged dup with its original
    (the min id) as keeper, and untouched vectors must survive."""
    from nyc_taxi_etl_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    originals = emb.filter(F.col("vec_id") < 10)
    clones = originals.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.0001))
        .cast("array<float>")
        .alias("embedding"),
    )
    corpus = emb.unionByName(clones)
    out = (
        semantic_dedup(corpus, threshold=0.99, n_centroids=8)
        .toPandas()
        .set_index("vec_id")
        .sort_index()
    )
    assert len(out) == corpus.count()
    for i in range(10):
        assert out.loc[100000 + i, "is_dup"] == 1, i
        assert out.loc[100000 + i, "keeper_id"] == i, i
        assert out.loc[i, "is_dup"] == 0, i  # original is the keeper
    # corpus vectors are near-uniform (max pairwise cos ~0.5): nothing
    # else should be merged at 0.99
    untouched = out.drop(index=[i for i in range(10)] + [100000 + i for i in range(10)])
    assert (untouched.is_dup == 0).all()
    assert (untouched.keeper_id == untouched.index).all()


def test_semantic_dedup_keeper_invariants(spark):
    """Keepers are never dups; every keeper_id refers to a row that
    survives (LSH-gated variant, the oracle-checked configuration)."""
    from nyc_taxi_etl_spark.operators.similarity import (
        hyperplane_lsh_pairs,
        semantic_dedup,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cand = hyperplane_lsh_pairs(emb, bits=4, tables=6, dim=64, seed=7)
    out = semantic_dedup(emb, threshold=0.35, candidates=cand).toPandas()
    keepers = set(out[out.is_dup == 0].vec_id)
    assert set(out.keeper_id) <= keepers
    assert (out[out.is_dup == 0].keeper_id == out[out.is_dup == 0].vec_id).all()


# -- fuzzy (edit-distance) near pairs --------------------------------------


def test_fuzzy_near_pairs_semantics(spark):
    from nyc_taxi_etl_spark.operators.fuzzy import (
        fuzzy_candidates,
        fuzzy_near_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, base),
        (1, base.replace("lazy", "hazy")),          # 1 edit
        (2, base.replace("quick brown", "slow red")),  # several edits
        (3, "completely unrelated text about spark queries and shuffles"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in fuzzy_near_pairs(df, max_distance=5).collect()
    }
    assert out[(0, 1)] == 1
    assert (0, 3) not in out and (1, 3) not in out
    # (0,2) shares shingles (candidate: distance 9) but exceeds the threshold
    cands = {
        (r["id_a"], r["id_b"]) for r in fuzzy_candidates(df).collect()
    }
    assert (0, 2) in cands and (0, 2) not in out


def test_fuzzy_length_band_is_lossless(spark):
    """The r11 length-band prefilter (|len_a − len_b| ≤ band pushed into
    the candidate self-join) is a NECESSARY condition for levenshtein ≤
    band, so the near-pair result must be identical with and without it
    — including pairs sitting exactly ON the band boundary."""
    from nyc_taxi_etl_spark.operators.fuzzy import (
        fuzzy_candidates,
        fuzzy_near_pairs,
    )

    rows = [
        (0, "alpha beta gamma delta"),
        (1, "alpha beta gamma delta xx"),      # +3 chars, distance 3
        (2, "alpha beta gamma delta " + "y" * 40),  # way out of band
        (3, "alpha beta gamma delta zz"),      # distance 3 from 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    banded = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in fuzzy_near_pairs(df, max_distance=3).collect()
    }
    unbanded = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in fuzzy_near_pairs(
            df, max_distance=3, candidates=fuzzy_candidates(df)
        ).collect()
    }
    assert banded == unbanded
    assert (0, 1, 3) in banded  # boundary pair survives the band
    # candidate stage: the band drops the out-of-band doc's pairs
    n_all = fuzzy_candidates(df).count()
    n_band = fuzzy_candidates(df, length_band=3).count()
    assert n_band < n_all


def test_fuzzy_length_band_keeps_caller_len_column(spark):
    """The band's normalized length is an internal column; a caller
    column that happens to be named ``_len`` (here the id) must come
    through as the caller's values, not be overwritten by lengths."""
    from nyc_taxi_etl_spark.operators.fuzzy import fuzzy_near_pairs

    rows = [
        (100, "alpha beta gamma delta"),
        (200, "alpha beta gamma delta xx"),
        (300, "alpha beta gamma delta zz"),
    ]
    df = spark.createDataFrame(rows, "_len long, text string")
    got = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in fuzzy_near_pairs(df, id_col="_len", max_distance=3).collect()
    }
    assert got == {(100, 200, 3), (100, 300, 3), (200, 300, 2)}


def test_pin_verify_width_replaces_dedup_exchange(spark):
    """_pin_verify_width must land as REPARTITION_BY_NUM satisfying the
    following distinct's clustering — ONE pinned exchange, not a pinned
    exchange plus a coalescible ENSURE_REQUIREMENTS one (the r11 AQE
    width-starvation fix; a future refactor reintroducing the second
    exchange would silently re-expose the verify stage to bytes-based
    coalescing)."""
    from nyc_taxi_etl_spark.operators.dedup import _pin_verify_width

    pairs = spark.range(100).selectExpr(
        "id AS id_a", "id + 1 AS id_b"
    )
    plan = (
        _pin_verify_width(pairs, "id_a", "id_b")
        .distinct()
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "REPARTITION_BY_NUM" in plan
    assert "ENSURE_REQUIREMENTS" not in plan


def test_fuzzy_hot_posting_cap_drops_stop_shingles(spark):
    from nyc_taxi_etl_spark.operators.fuzzy import fuzzy_candidates

    # every doc shares the same hot prefix shingle; unique tails
    rows = [(i, "common stop shingle unique%d tail%d word%d" % (i, i, i))
            for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    all_pairs = fuzzy_candidates(df).count()
    capped = fuzzy_candidates(df, max_doc_freq=3).count()
    assert all_pairs == 15  # C(6,2): the hot shingle blocks everyone
    assert capped == 0      # cap removes the hot posting entirely


# -- product quantization ---------------------------------------------------


def test_pq_knn_recall_vs_brute_force(spark):
    from nyc_taxi_etl_spark.operators.pq import pq_knn
    from nyc_taxi_etl_spark.operators.similarity import brute_force_knn
    from nyc_taxi_etl_spark.sources.catalog import load_table
    from .conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_knn(emb, queries, k=5)
    approx = pq_knn(emb, queries, k=5, m=16, n_codes=16, seed=42)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(a) == len(e) == 50
    recall = len(e & a) / len(e)
    assert recall >= 0.7, recall
    # determinism: same seed, same result set
    again = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_knn(emb, queries, k=5, m=16, n_codes=16, seed=42).collect()
    }
    assert again == a


def test_pq_encode_codes_shape_and_reconstruction(spark):
    import numpy as np

    from nyc_taxi_etl_spark.operators.pq import pq_encode, train_pq
    from nyc_taxi_etl_spark.sources.catalog import load_table
    from .conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    books = train_pq(emb, m=8, k=16, seed=1)
    assert books.shape == (8, 16, 8)
    codes = pq_encode(emb, books).collect()
    assert all(len(r["codes"]) == 8 for r in codes)
    assert all(0 <= c < 16 for r in codes for c in r["codes"])
    # encoding is the L2-argmin: reconstruction beats a shifted code
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    r0 = codes[0]
    x = np.asarray(vecs[r0["vec_id"]], dtype=float)
    x = x / np.linalg.norm(x)
    recon = np.concatenate([books[j, c] for j, c in enumerate(r0["codes"])])
    worse = np.concatenate(
        [books[j, (c + 1) % 16] for j, c in enumerate(r0["codes"])]
    )
    assert np.linalg.norm(x - recon) <= np.linalg.norm(x - worse)


def test_pq_seeded_codebooks_recall(spark):
    """The catalog entry's data-independent codebooks
    (seeded_codebooks — plan-time literals so the DuckDB oracle
    replays encode/ADC/re-rank) must clear the recall bar at the
    entry's widened rerank=16: replayability must not gut retrieval
    quality. Also pins the codebook contract: m·k unit-direction
    centroids scaled to the expected subvector norm."""
    import math

    from nyc_taxi_etl_spark.operators.pq import pq_knn, seeded_codebooks
    from nyc_taxi_etl_spark.operators.similarity import brute_force_knn
    from nyc_taxi_etl_spark.sources.catalog import load_table
    from .conftest import SF_DIR

    books = seeded_codebooks(64, 16, 16, seed=17)
    assert len(books) == 16 and all(len(row) == 16 for row in books)
    want_norm = math.sqrt(4 / 64)
    for row in books:
        for c in row:
            assert abs(math.sqrt(sum(x * x for x in c)) - want_norm) < 1e-12
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_knn(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_knn(
            emb, queries, k=5, m=16, n_codes=16, rerank=16, codebooks=books
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"seeded-PQ recall too low: {recall}"


def test_pq_knn_rejects_unbounded_query_set(spark):
    """The per-query ADC tables are broadcast, so the query batch must
    be bounded — an over-cap query table raises instead of silently
    OOMing the broadcast."""
    import pytest as _pytest

    from nyc_taxi_etl_spark.operators.pq import pq_knn
    from nyc_taxi_etl_spark.sources.catalog import load_table
    from .conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    with _pytest.raises(ValueError, match="max_queries"):
        pq_knn(emb, queries, k=5, m=16, n_codes=16, seed=42, max_queries=5)


def test_pq_knn_adc_tables_built_distributively(spark):
    """The query→ADC-table stage is a Catalyst plan over the query
    frame joined to the 1-row broadcast codebook frame — no driver-side
    collect of query vectors (plan shows the broadcast codebook join,
    not a LocalTableScan of per-query tables)."""
    from nyc_taxi_etl_spark.operators.pq import pq_knn
    from nyc_taxi_etl_spark.sources.catalog import load_table
    from .conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = pq_knn(emb, queries, k=3, m=16, n_codes=16, seed=42)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the codebook constants ride the 1-row aux frame (_books) on BOTH
    # the encode side and the ADC-table side
    assert plan.count("_books") >= 2, plan.count("_books")
    assert out.count() == 9


def test_hard_negative_knn_label_and_rank_invariants(spark):
    """Every mined negative must carry a label different from its
    query's, ranks must be a dense 1..k prefix per query, and each
    returned similarity can never exceed the brute-force best
    same-rank neighbor (the negatives are a label-filtered subset)."""
    from nyc_taxi_etl_spark.operators.similarity import (
        brute_force_knn,
        hard_negative_knn,
    )
    from nyc_taxi_etl_spark.sources.catalog import load_table
    from .conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    got = hard_negative_knn(emb, queries, k=4).collect()
    by_q: dict = {}
    for r in got:
        assert r["neighbor_label"] != labels[r["query_id"]]
        assert r["neighbor_label"] == labels[r["neighbor_id"]]
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q
    # subset property vs the unfiltered exact top-k
    bf = {
        (r["query_id"], r["rank"]): r["cosine_sim"]
        for r in brute_force_knn(emb, queries, k=4).collect()
    }
    for r in got:
        assert r["cosine_sim"] <= bf[(r["query_id"], r["rank"])] + 1e-12


def test_cross_source_overlap_known_matrix(spark):
    """Tiny planted case: pairs (1,2) cross-source, (3,4) within-source
    → one off-diagonal and one diagonal cell with exact counts and
    averaged similarity."""
    from nyc_taxi_etl_spark.operators.dedup import cross_source_overlap

    docs = spark.createDataFrame(
        [(1, "web"), (2, "books"), (3, "web"), (4, "web"), (5, "books")],
        ["doc_id", "source"],
    )
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (3, 4, 0.7), (1, 4, 0.5)],
        ["id_a", "id_b", "jaccard"],
    )
    got = {
        (r["source_a"], r["source_b"]): (
            r["near_dup_pairs"],
            r["avg_similarity"],
        )
        for r in cross_source_overlap(docs, pairs).collect()
    }
    assert got == {
        ("books", "web"): (1, 0.9),
        ("web", "web"): (2, 0.6),
    }


def test_semantic_contamination_flags_planted_eval_clone(spark):
    """A training vector equal to an eval vector must be flagged with
    max_eval_sim == 1.0; an orthogonal one must not be."""
    from nyc_taxi_etl_spark.operators.decontam import semantic_contamination

    ev = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0])], ["vec_id", "embedding"]
    )
    tr = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [0.9, 0.1, 0.0])],
        ["vec_id", "embedding"],
    )
    got = {
        r["vec_id"]: (round(r["max_eval_sim"], 6), r["is_contaminated"])
        for r in semantic_contamination(tr, ev, threshold=0.95).collect()
    }
    assert got[1] == (1.0, True)
    assert got[2] == (0.0, False)
    # cos([0.9, 0.1, 0], [1, 0, 0]) = 0.9/√0.82 ≈ 0.9939 — above 0.95
    assert got[3][1] is True and 0.995 > got[3][0] > 0.993


def test_fuzzy_bag_prune_is_exact(spark):
    """bag_prune=True (the long-document knob) must return the
    identical pair set — the char-bag L1 bound is a necessary
    condition for distance <= d, never a filter on true pairs."""
    from nyc_taxi_etl_spark.operators.fuzzy import fuzzy_near_pairs

    docs = load_table(spark, SF_DIR, "documents")
    base = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in fuzzy_near_pairs(docs, max_distance=50).collect()
    }
    pruned = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in fuzzy_near_pairs(docs, max_distance=50, bag_prune=True).collect()
    }
    assert base == pruned and base


def test_arrow_knn_matches_catalyst_brute_force(spark):
    """The numpy/mapInPandas kNN must agree with the Catalyst fold:
    identical neighbor sets per query and similarities within ulp-level
    tolerance (pairwise vs strict-left-fold summation)."""
    from nyc_taxi_etl_spark.operators.similarity import (
        brute_force_knn,
        brute_force_knn_arrow,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine_sim"]
        for r in brute_force_knn(emb, queries, k=5).collect()
    }
    arrow = {
        (r["query_id"], r["neighbor_id"]): r["cosine_sim"]
        for r in brute_force_knn_arrow(emb, queries, k=5).collect()
    }
    assert set(exact) == set(arrow)
    for key, sim in exact.items():
        assert abs(sim - arrow[key]) < 1e-9, key


def test_arrow_knn_rejects_unbounded_query_set(spark):
    import pytest as _pytest

    from nyc_taxi_etl_spark.operators.similarity import brute_force_knn_arrow

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    with _pytest.raises(ValueError, match="max_queries"):
        brute_force_knn_arrow(emb, queries, k=3, max_queries=5)


def test_arrow_knn_empty_query_set(spark):
    from nyc_taxi_etl_spark.operators.similarity import brute_force_knn_arrow

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    assert brute_force_knn_arrow(emb, queries, k=3).count() == 0


def test_winnow_guarantee_shared_passage_detected(spark):
    """Schleimer et al.'s theorem: a verbatim shared run of length
    >= w + k - 1 contributes at least one identical fingerprint to
    both documents — certainty, not probability."""
    from nyc_taxi_etl_spark.operators.winnow import winnow_near_pairs

    k, w = 8, 4
    passage = "the quick brown fox jumps over the lazy dog tonight"
    assert len(passage) >= k + w - 1
    rows = [
        (1, "AAAA " + passage + " BBBB"),
        (2, "completely different preamble text " + passage),
        (3, "no overlap with anything else here at all zzz qqq"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = winnow_near_pairs(df, k=k, w=w, min_shared=1).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in found
    assert not any(3 in p for p in found)


def test_winnow_short_doc_still_fingerprints(spark):
    """A doc with >= 1 k-gram but fewer than w of them keeps its
    global-min hash: no non-empty document fingerprints to nothing."""
    from nyc_taxi_etl_spark.operators.winnow import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "xy")], "doc_id long, text string"
    )
    fps = winnow_fingerprints(df, k=8, w=4).collect()
    assert {r.doc_id for r in fps} == {1}
    assert len(fps) == 1


def test_winnow_max_doc_freq_drops_boilerplate(spark):
    """Corpus-stopword fingerprints (shared boilerplate in every doc)
    are dropped before the self-join; genuine pairwise overlap above
    the cap survives."""
    from nyc_taxi_etl_spark.operators.winnow import winnow_near_pairs

    k, w = 8, 4
    boiler = "standard footer text appearing everywhere in corpus"
    uniq = "some genuinely shared rare passage between just two docs"
    rows = [(i, f"doc number {i} says {boiler}") for i in range(10)]
    rows += [(100, "X " + uniq), (101, "Y " + uniq)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # cap=3: boilerplate fps have doc-freq 10, and the context-dependent
    # minima near each doc's unique digit yield fps with doc-freq 4-8 —
    # all above the cap; the planted pair's fps have doc-freq 2
    pairs = winnow_near_pairs(
        df, k=k, w=w, min_shared=1, max_doc_freq=3
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (100, 101) in found
    assert not any(p[0] < 100 and p[1] < 100 for p in found)


def test_ngram_jaccard_candidates_leave_no_cached_frames(spark):
    """ADVICE r6: the candidates frame used to be persist()ed with no
    unpersist, accumulating CacheManager entries per call (incremental
    ingestion drives this path once per batch). Now an eager
    localCheckpoint materializes it instead: the CacheManager must
    stay exactly as empty as before the calls."""
    from nyc_taxi_etl_spark.operators.dedup import ngram_jaccard_pairs

    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm is not None
    before_empty = cm.isEmpty()
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different text with no overlap here"),
        ],
        "doc_id int, text string",
    )
    cands = spark.createDataFrame([(1, 2)], "id_a int, id_b int")
    for _ in range(3):
        ngram_jaccard_pairs(
            docs, k=3, min_jaccard=0.1, candidates=cands
        ).count()
    # directional: the old persist() leak ADDED an entry per call
    assert cm.isEmpty() or not before_empty


def test_ppjoin_equals_brute_force_and_keeps_boundary(spark):
    """PPJoin's prefix filter is LOSSLESS: its pair set must equal the
    plain inverted-index join at the same threshold — including a pair
    constructed to sit EXACTLY at j = 0.5 (4 shared shingles, sizes
    6/6 -> 4/8), and across a corpus with graded overlaps."""
    from nyc_taxi_etl_spark.operators.dedup import ngram_jaccard_pairs
    from nyc_taxi_etl_spark.operators.ppjoin import ppjoin_pairs

    base = "w{} " * 8
    docs = [
        # boundary pair: shingles {abc bcd cde def efg fgh} vs
        # {abc bcd cde def efx fxy} share exactly 4 of 6+6
        (1, "a b c d e f g h"),
        (2, "a b c d e f x y"),
        # identical pair
        (3, "p q r s t u"),
        (4, "p q r s t u"),
        # sub-threshold overlap
        (5, "p q r m n o"),
        # graded filler with partial shared runs
        *[
            (10 + i, base.format(*range(i, i + 8)).strip())
            for i in range(12)
        ],
        # singleton vocabulary
        (50, "zz yy xx ww vv"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    pp = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ppjoin_pairs(df, k=3, threshold=0.5).collect()
    }
    brute = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, k=3, min_jaccard=0.5).collect()
    }
    assert pp == brute
    assert pp[(1, 2)] == 0.5  # the exact-boundary pair survives
    assert (3, 4) in pp and pp[(3, 4)] == 1.0
    assert not any(5 in p for p in pp)
