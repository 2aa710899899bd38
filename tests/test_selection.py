"""Token-budget selection: exact greedy semantics and the scalable
histogram-cutoff variant's invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_taxi_etl_spark.operators.selection import (
    budget_quality_cutoff,
    select_top_quality_within_budget,
)


def _frame(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, source string, quality double, n_tokens long"
    )


def test_exact_greedy_admission_and_blocking(spark):
    df = _frame(
        spark,
        [
            (1, "a", 0.9, 50),
            (2, "a", 0.8, 40),
            (3, "a", 0.7, 100),  # overflows the 120 budget -> blocks
            (4, "a", 0.6, 10),  # ...even though this one would fit
            (5, "b", 0.5, 120),  # exactly the budget
            (6, "b", 0.4, 1),
        ],
    )
    kept = select_top_quality_within_budget(df, 120).toPandas()
    assert sorted(kept[kept.source == "a"].doc_id) == [1, 2]
    assert sorted(kept[kept.source == "b"].doc_id) == [5]
    a = kept[kept.source == "a"].set_index("doc_id")
    assert a.loc[1, "cum_tokens"] == 50 and a.loc[2, "cum_tokens"] == 90
    assert list(a.sort_index().sel_rank) == [1, 2]


def test_exact_tiebreak_on_id(spark):
    df = _frame(
        spark, [(7, "a", 0.5, 60), (3, "a", 0.5, 60), (9, "a", 0.5, 60)]
    )
    kept = select_top_quality_within_budget(df, 120).toPandas()
    assert sorted(kept.doc_id) == [3, 7]  # equal quality -> lowest ids


def test_cutoff_matches_admitted_mass(spark):
    """Filtering by the emitted cutoff admits exactly tokens_admitted
    (bucket-aligned), which never exceeds the budget."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from nyc_taxi_etl_spark.operators.text import quality_score, tokens

    staged = docs.select(
        "doc_id",
        "source",
        F.size(tokens(F.lower(F.col("text")))).cast("long").alias("n_tokens"),
        quality_score(F.col("text"), tokens(F.lower(F.col("text")))).alias(
            "quality"
        ),
    )
    budget = 800
    cut = budget_quality_cutoff(staged, budget).toPandas().set_index("source")
    assert (cut.tokens_admitted <= budget).all()
    admitted = (
        staged.join(
            spark.createDataFrame(cut.reset_index()), "source"
        )
        .filter(F.col("quality") >= F.col("cutoff"))
        .groupBy("source")
        .agg(F.sum("n_tokens").cast("long").alias("toks"))
        .toPandas()
        .set_index("source")
    )
    for src in cut.index:
        assert int(admitted.loc[src, "toks"]) == int(
            cut.loc[src, "tokens_admitted"]
        ), src


def test_cutoff_no_source_fits_empty(spark):
    df = _frame(spark, [(1, "a", 0.9, 500)])
    assert budget_quality_cutoff(df, 100).count() == 0


# ---------------------------------------------------------------------------
# DSIR importance resampling (operators/dsir.py)
# ---------------------------------------------------------------------------


def _dsir_corpus(spark):
    """Target docs speak 'alpha beta'; raw doc 10 mimics them, raw
    docs 11/12 speak unrelated vocabulary."""
    rows = [
        (1, "alpha beta alpha beta alpha", "tgt"),
        (2, "beta alpha beta alpha", "tgt"),
        (3, "alpha alpha beta", "tgt"),
        (10, "alpha beta alpha", "raw"),
        (11, "gamma delta gamma delta", "raw"),
        (12, "epsilon zeta epsilon", "raw"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, kind string")


def test_dsir_ratios_sign_and_scores(spark):
    """Tokens exclusive to the target LM carry positive log-ratios,
    raw-exclusive ones negative; the target-like raw document outranks
    the off-domain ones."""
    from pyspark.sql import functions as F

    from nyc_taxi_etl_spark.operators.dsir import (
        dsir_log_ratios,
        dsir_scores,
        dsir_select,
    )

    df = _dsir_corpus(spark)
    tgt = F.col("kind") == "tgt"
    lr = {r["token"]: r["log_ratio"] for r in dsir_log_ratios(df, tgt).collect()}
    assert lr["gamma"] < 0 < lr["alpha"]
    assert lr["beta"] > 0 and lr["epsilon"] < 0
    scores = dsir_scores(df, tgt, carry_cols=("kind",))
    got = {r["doc_id"]: r for r in scores.collect()}
    # target docs are never candidates; every raw doc is scored
    assert set(got) == {10, 11, 12}
    assert got[10]["log_weight"] > got[11]["log_weight"]
    assert got[10]["log_weight"] > got[12]["log_weight"]
    assert got[10]["n_tokens"] == 3 and got[10]["kind"] == "raw"
    top = dsir_select(scores, 1).collect()
    assert [r["doc_id"] for r in top] == [10]
    assert top[0]["rank"] == 1


def test_dsir_resample_gumbel_topk(spark):
    """Seeded Gumbel-top-k: deterministic under replay, ranks are
    1..n, and across many seeds the high-weight document is sampled
    far more often than the low-weight tail (importance resampling,
    not uniform sampling)."""
    from pyspark.sql import functions as F

    from nyc_taxi_etl_spark.operators.dsir import dsir_resample

    # weights: doc 1 carries almost all the mass
    scores = spark.createDataFrame(
        [(1, 4.0), (2, 0.0), (3, -1.0), (4, -2.0)],
        "doc_id long, log_weight double",
    )
    a = dsir_resample(scores, 2, seed=7).collect()
    b = dsir_resample(scores, 2, seed=7).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert sorted(r["rank"] for r in a) == [1, 2]
    hits = {i: 0 for i in (1, 2, 3, 4)}
    for seed in range(40):
        for r in dsir_resample(scores, 1, seed=seed).collect():
            hits[r["doc_id"]] += 1
    assert hits[1] > 25  # e^4 : 1 odds dominate
    assert hits[4] <= 2


def test_cluster_balanced_sample_allocation(spark):
    """Every LSH cell contributes exactly ceil(cell_n/5) picks, ranks
    are 1..k contiguous, and picked ids are a subset of the corpus."""
    import math

    from nyc_taxi_etl_spark.plans import CATALOG

    sf = "/root/testdata/sf0.001"
    out = CATALOG["cluster_balanced_sample"](spark, sf).collect()
    assert out
    by_cell = {}
    for r in out:
        by_cell.setdefault(r["cell"], []).append(r)
    total = 0
    for cell, rows in by_cell.items():
        n = rows[0]["cell_n"]
        assert all(r["cell_n"] == n for r in rows)
        k = math.ceil(n / 5)
        assert len(rows) == k
        assert sorted(r["pick_rank"] for r in rows) == list(range(1, k + 1))
        total += n
    n_vec = spark.read.parquet(f"{sf}/embeddings.parquet").count()
    assert total == n_vec  # cells partition the corpus
