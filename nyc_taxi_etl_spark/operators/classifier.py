"""Hashed n-gram linear quality classifier (fastText-style).

The missing supervised axis next to the heuristic scorers (``text.py``)
and the corpus LM (``lm.py``): CCNet/GPT-3-style curation trains a
cheap linear classifier on weak labels ("looks like reference text"
vs "looks like raw crawl") and keeps documents by its score. The
reference repo has no ML-over-text surface; this extends the engine
per the north-star training-pipeline charter.

Architecture (both halves share ONE portable feature space — buckets
of md5-hashed unigrams + word bigrams, the hashing trick):

* **Inference** is a row-local Catalyst expression: hash the n-grams,
  fold weights over the feature array, sigmoid. Zero shuffles, no
  Python — at 100 TB scoring is a narrow projection fused into the
  scan, exactly how fastText inference behaves (model ships with the
  task, data never moves). Ships with a small fixed lexicon model
  (integer milli-weights → exact integer accumulation, no float-order
  sensitivity) so the catalog entry is value-hash oracle-checkable.
* **Training** is distributed MLlib ``LogisticRegression`` over the
  same hashed buckets: sparse counts via one explode + hash-agg,
  dense assembly via ``array_to_vector`` (JVM-side, no Python UDF),
  L2-regularized LBFGS. Labeled sets are bounded by labeling budget
  (weak supervision, not the 100 TB corpus), so the dense D-vector per
  labeled doc is the standard, affordable layout. The fitted model
  comes back as a ``(bucket, weight)`` table for the join-based scorer
  — AQE picks broadcast vs shuffle by measured size, so a
  billion-bucket model degrades gracefully to a sort-merge join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import md5_int, md5_int_py
from .text import shingle_seq, tokens

__all__ = [
    "feature_bucket",
    "hashed_features",
    "LEXICON_MILLI",
    "score_fixed_lexicon",
    "featurize_counts",
    "train_classifier",
    "score_with_weights",
]

N_BUCKETS = 4096


def feature_bucket(feat: Column, n_buckets: int = N_BUCKETS) -> Column:
    """Portable hash bucket for a feature string: first 6 hex digits of
    md5, mod ``n_buckets`` — bit-identical in DuckDB as
    ``md5_int_sql("f", n=6) % n`` (the same hash the sampling/split
    operators use)."""
    return md5_int(feat, n=6) % n_buckets


def _py_bucket(feat: str, n_buckets: int = N_BUCKETS) -> int:
    """Driver-side replica of :func:`feature_bucket` (same md5 prefix),
    used to place lexicon entries into buckets at model-build time."""
    return md5_int_py(feat, n=6) % n_buckets


def hashed_features(
    text: Column, n_buckets: int = N_BUCKETS, bigrams: bool = True
) -> Column:
    """array<long> of hashed feature ids: unigram buckets + (optionally)
    word-bigram buckets, lowercased. Row-local — one regex pass for the
    bigram sequence (see ``text.shingle_seq``), no explode at this
    stage."""
    uni = tokens(F.lower(text))
    feats = F.transform(uni, lambda x: feature_bucket(x, n_buckets))
    if bigrams:
        bi = shingle_seq(text, 2)
        feats = F.concat(
            feats, F.transform(bi, lambda x: feature_bucket(x, n_buckets))
        )
    return feats


# ---------------------------------------------------------------------------
# Fixed lexicon model (oracle-checkable inference demo)
# ---------------------------------------------------------------------------

# Integer MILLI-weights per feature string. Positive evidence: function
# words and their bigrams (fluent running text); negative: spam/template
# vocabulary (the C4/CCNet bad-list flavor). Integers make the per-doc
# accumulation exact — no float-order sensitivity anywhere before the
# final sigmoid.
LEXICON_MILLI: dict[str, int] = {
    **{w: 250 for w in ("the", "a", "of", "and", "to", "in", "is", "that")},
    **{b: 400 for b in ("of the", "in the", "to the", "and the")},
    **{
        w: -900
        for w in (
            "click",
            "subscribe",
            "buy",
            "free",
            "winner",
            "cookie",
            "lorem",
            "ipsum",
        )
    },
    "click here": -1500,
    "buy now": -1500,
}

_FIXED_BIAS = -0.5
# Gain applied to the mean milli-weight (milli → natural units is /1000;
# the ×10 gain calibrates the sigmoid so lexicon-rich text clears the
# 0.5 keep threshold against the bias).
_FIXED_GAIN = 10.0
# bucket → summed milli-weight (collisions between lexicon entries, if
# any, sum — faithful hashing-trick semantics).
_FIXED_MILLI: dict[int, int] = {}
for _f, _w in LEXICON_MILLI.items():
    _b = _py_bucket(_f)
    _FIXED_MILLI[_b] = _FIXED_MILLI.get(_b, 0) + _w


def _milli_weight_case(h: Column) -> Column:
    """CASE chain bucket → milli-weight (0 for non-lexicon buckets)."""
    w: Column = F.lit(0)
    for bucket, milli in sorted(_FIXED_MILLI.items()):
        w = F.when(h == F.lit(bucket), F.lit(milli)).otherwise(w)
    return w


def fixed_milli_weight_sql(var: str = "h") -> str:
    """The same CASE chain, DuckDB syntax — generated from the same
    dict so the oracle can never drift from the operator."""
    arms = " ".join(
        f"WHEN {b} THEN {m}" for b, m in sorted(_FIXED_MILLI.items())
    )
    return f"CASE {var} {arms} ELSE 0 END"


def score_fixed_lexicon(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Score every document under the fixed lexicon model.

    Per doc: feats = hashed unigrams+bigrams; total = Σ milli-weight
    (exact BIGINT fold over the array); logit = bias + total/(1000·n);
    prob = sigmoid(logit). Returns ``(id, n_features, lex_hits,
    quality_logit, quality_prob, label)`` — counts exact, floats
    r4-rounded, label a deterministic 'keep'/'drop' at prob ≥ 0.5.

    Scale: entirely row-local (narrow projection over the scan — the
    aggregate fold and the CASE chain are Catalyst expressions); zero
    shuffles, zero Python, no model-distribution step since the model
    IS the expression tree.
    """
    # Materialize the per-feature WEIGHT array once: HOF lambdas are
    # re-evaluated per consumer (no CSE inside transform/aggregate/
    # filter), so deriving total/hits/n straight from hashed_features
    # would run the md5 hashing and the CASE chain three times per
    # feature — measured 3.4× slower at sf0.1. One transform does all
    # the expensive work; the three consumers fold over cheap longs.
    # (CollapseProject keeps the alias materialized: Catalyst refuses
    # to inline a non-trivial expression referenced more than once.)
    staged = df.select(
        F.col(id_col),
        F.transform(
            hashed_features(F.col(text_col)),
            lambda h: _milli_weight_case(h).cast("long"),
        ).alias("_ws"),
    )
    total = F.aggregate(
        F.col("_ws"), F.lit(0).cast("long"), lambda acc, w: acc + w
    )
    hits = F.size(F.filter(F.col("_ws"), lambda w: w != 0)).cast("long")
    n = F.size(F.col("_ws"))
    logit = F.lit(_FIXED_BIAS) + F.when(
        n > 0, total.cast("double") * F.lit(_FIXED_GAIN) / (F.lit(1000.0) * n)
    ).otherwise(F.lit(0.0))
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
    return staged.select(
        F.col(id_col),
        n.cast("long").alias("n_features"),
        hits.alias("lex_hits"),
        total.alias("milli_total"),
        F.round(logit, 4).alias("quality_logit"),
        F.round(prob, 4).alias("quality_prob"),
        F.when(prob >= 0.5, F.lit("keep")).otherwise(F.lit("drop")).alias("label"),
    )


# ---------------------------------------------------------------------------
# Trained model path (MLlib over the same feature space)
# ---------------------------------------------------------------------------


def featurize_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """Sparse hashed-feature counts ``(id, bucket, cnt)`` — one explode
    + one hash-agg on (id, bucket); partial aggregation collapses the
    per-doc duplicates map-side, so the exchange carries at most one
    row per (doc, distinct bucket)."""
    feats = hashed_features(F.col(text_col), n_buckets)
    return (
        df.select(F.col(id_col), F.explode(feats).alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def train_classifier(
    labeled: DataFrame,
    label_col: str = "label",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = N_BUCKETS,
    reg_param: float = 0.01,
    max_iter: int = 50,
):
    """Fit L2 logistic regression on length-normalized hashed-bucket
    counts (the fastText "mean of feature embeddings" layout, depth 0).

    Dense assembly stays JVM-side: counts → per-doc map →
    ``transform(sequence(0, D-1))`` → ``array_to_vector`` — no Python
    UDF, no driver collect. Returns ``(intercept, weights_df)`` where
    ``weights_df`` is the ``(bucket, weight)`` table (only nonzero
    coefficients) for :func:`score_with_weights`.
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    counts = featurize_counts(labeled, id_col, text_col, n_buckets)
    per_doc = counts.groupBy(id_col).agg(
        F.map_from_arrays(
            F.collect_list("bucket"), F.collect_list("cnt")
        ).alias("m"),
        F.sum("cnt").cast("double").alias("tot"),
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(n_buckets - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("m"), i.cast("long")).cast("double"), F.lit(0.0)
        )
        / F.col("tot"),
    )
    train = per_doc.join(
        labeled.select(id_col, F.col(label_col).cast("double").alias("y")),
        id_col,
    ).select(array_to_vector(dense).alias("features"), F.col("y").alias("label"))
    lr = LogisticRegression(regParam=reg_param, maxIter=max_iter)
    model = lr.fit(train)
    coef = model.coefficients.toArray()
    spark = labeled.sparkSession
    weights = spark.createDataFrame(
        [(int(i), float(v)) for i, v in enumerate(coef) if v != 0.0],
        "bucket long, weight double",
    )
    return float(model.intercept), weights


def score_with_weights(
    df: DataFrame,
    weights: DataFrame,
    intercept: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """Score under a trained ``(bucket, weight)`` model: explode hashed
    features, join weights on bucket (AQE-sized — broadcast while the
    model fits, sort-merge at billion-bucket vocabularies, the same
    posture as ``lm.score_documents``), mean contribution per doc,
    sigmoid. Returns ``(id, n_features, quality_prob)``."""
    feats = hashed_features(F.col(text_col), n_buckets)
    exploded = df.select(
        F.col(id_col), F.explode_outer(feats).alias("bucket")
    )
    agg = (
        exploded.join(weights, "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.count("bucket").cast("long").alias("n_features"),
            F.sum(F.coalesce(F.col("weight"), F.lit(0.0))).alias("_wsum"),
        )
    )
    logit = F.lit(intercept) + F.when(
        F.col("n_features") > 0, F.col("_wsum") / F.col("n_features")
    ).otherwise(F.lit(0.0))
    return agg.select(
        id_col,
        "n_features",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 4).alias(
            "quality_prob"
        ),
    )
