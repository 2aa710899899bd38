"""Seasonal decomposition, robust (MAD) outliers, and bigram
collocations — the second wave of statistics entries.

Portability: the decomposition's trend is a centered 7-day moving
average over the bounded post-agg daily table (RANGE-free ROWS frame
— both engines agree exactly on row frames given the same total
order); seasonal indices divide r4-rounded aggregates; the PMI
collocation RANKING key is the exact-integer rational
``c_xy·N/(c_x·c_y)`` (bit-identical cross-engine), with the displayed
PMI log r4-rounded — the doc_top_terms discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import md5_int_sql, r4
from ..operators import text as X
from .queries import query, t


@query(
    "daily_seasonality_decomposition",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(isodow(ts) AS BIGINT) AS dow,
             ROUND(sum(value), 4) AS total
      FROM events GROUP BY 1, 2),
    trended AS (
      SELECT d, dow, total,
             CASE WHEN count(*) OVER w = 7
                  THEN ROUND(avg(total) OVER w, 4) END AS trend
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    seasonal AS (
      SELECT dow, ROUND(avg(total / trend), 4) AS seasonal_index
      FROM trended WHERE trend IS NOT NULL GROUP BY 1)
    SELECT strftime(t.d, '%Y-%m-%d') AS day, t.dow, t.total, t.trend,
           s.seasonal_index,
           ROUND(t.total / t.trend / s.seasonal_index, 4) AS remainder
    FROM trended t JOIN seasonal s USING (dow)
    """,
)
def daily_seasonality_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical multiplicative decomposition of the daily value
    series: trend = centered 7-day moving average (only where the
    full window exists — edges yield NULL trend, excluded from the
    seasonal fit), seasonal index = mean detrended ratio per ISO
    weekday, remainder = value/(trend·seasonal) — the engine-side
    version of the reference's eyeballed seasonality notebooks
    (A7 family, `cab_wise_analysis.ipynb`).

    Scale: everything after the daily hash-agg operates on the
    bounded day table (single-partition window safe — the
    daily_pct_of_baseline posture); seasonal fit is a 7-key agg."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("d"),
        (F.weekday("ts") + 1).cast("long").alias("dow"),
    ).agg(r4(F.sum("value")).alias("total"))
    w = Window.orderBy("d").rowsBetween(-3, 3)
    trended = daily.select(
        "d",
        "dow",
        "total",
        F.when(
            F.count("*").over(w) == 7, r4(F.avg("total").over(w))
        ).alias("trend"),
    )
    seasonal = (
        trended.filter(F.col("trend").isNotNull())
        .groupBy("dow")
        .agg(r4(F.avg(F.col("total") / F.col("trend"))).alias("seasonal_index"))
    )
    return trended.join(seasonal, "dow").select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "dow",
        "total",
        "trend",
        "seasonal_index",
        r4(
            F.col("total") / F.col("trend") / F.col("seasonal_index")
        ).alias("remainder"),
    )


@query(
    "mad_outlier_days",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, ROUND(sum(value), 4) AS total
      FROM events GROUP BY 1),
    med AS (SELECT median(total) AS m FROM daily),
    dev AS (SELECT d, total, abs(total - (SELECT m FROM med)) AS adev
            FROM daily),
    madv AS (SELECT median(adev) AS mad FROM dev)
    SELECT strftime(d, '%Y-%m-%d') AS day, total,
           ROUND((SELECT m FROM med), 4) AS median_total,
           ROUND(0.6745 * (total - (SELECT m FROM med))
                 / (SELECT mad FROM madv), 4) AS robust_z
    FROM dev
    WHERE abs(0.6745 * (total - (SELECT m FROM med))
              / (SELECT mad FROM madv)) > 2.0
    """,
)
def mad_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier days via median absolute deviation: robust z =
    0.6745·(x−median)/MAD, flag |z| > 2 — the breakdown-resistant
    companion to the mean/stddev z-score entry (extreme_days_zscore),
    which a single extreme day can mask by inflating σ; the median
    and MAD cannot be dragged by the outliers they're meant to find.

    Scale: two exact medians over the bounded post-agg day table,
    each a 1-row broadcast back into the row set (the scalar-join
    pattern); swap approx_percentile at hypertable scale."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        r4(F.sum("value")).alias("total")
    )
    med = daily.agg(F.median("total").alias("m"))
    dev = daily.crossJoin(F.broadcast(med)).select(
        "d", "total", "m", F.abs(F.col("total") - F.col("m")).alias("adev")
    )
    madv = dev.agg(F.median("adev").alias("mad"))
    scored = dev.crossJoin(F.broadcast(madv)).withColumn(
        "robust_z",
        F.lit(0.6745) * (F.col("total") - F.col("m")) / F.col("mad"),
    )
    return scored.filter(F.abs(F.col("robust_z")) > 2.0).select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "total",
        r4(F.col("m")).alias("median_total"),
        r4(F.col("robust_z")).alias("robust_z"),
    )


@query(
    "bigram_collocations",
    """
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM documents),
    grams AS (
      SELECT w[i] AS w1, w[i + 1] AS w2
      FROM tok, UNNEST(generate_series(1, len(w) - 1)) AS g(i)
      WHERE w[i] <> '' AND w[i + 1] <> ''),
    big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
            FROM grams GROUP BY 1, 2),
    uni AS (
      SELECT w1 AS wrd, CAST(sum(c_xy) AS BIGINT) AS c FROM big GROUP BY 1),
    n AS (SELECT CAST(sum(c_xy) AS DOUBLE) AS n FROM big),
    scored AS (
      SELECT b.w1, b.w2, b.c_xy,
             b.c_xy * (SELECT n FROM n) / (u1.c * u2.c) AS lift
      FROM big b
      JOIN uni u1 ON u1.wrd = b.w1
      JOIN uni u2 ON u2.wrd = b.w2
      WHERE b.c_xy >= 25)
    SELECT w1, w2, c_xy, ROUND(ln(lift), 4) AS pmi
    FROM (SELECT *, row_number() OVER (ORDER BY lift DESC, w1, w2) AS rk
          FROM scored)
    WHERE rk <= 50
    """,
)
def bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 bigram collocations by PMI (pointwise mutual
    information) with a min-count support floor — the phrase-mining
    pass (tokenizer merges, "new york"-style units) beside the LM and
    TF-IDF entries.

    Determinism discipline: the RANK key is the exact-int rational
    ``c_xy·N/(c_x·c_y)`` — identical IEEE doubles both engines —
    with (w1,w2) tiebreak; the DISPLAYED pmi=ln(lift) is r4-rounded
    (doc_top_terms' ulp-proof pattern). Unigram totals derive from
    the bigram table (left-position marginals) so both engines count
    from the identical gram stream.

    Scale: one token-explode pass into a (w1,w2) hash-agg; the
    support floor prunes the long tail before the marginal joins; at
    corpus scale the marginals broadcast."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", X.tokens(F.lower(F.col("text"))).alias("w")
    )
    grams = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), "
                    "i -> struct(w[i - 1] AS w1, w[i] AS w2))"
                )
            ).alias("g")
        )
        .select("g.w1", "g.w2")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    big = grams.groupBy("w1", "w2").agg(F.count("*").alias("c_xy"))
    uni = big.groupBy(F.col("w1").alias("wrd")).agg(
        F.sum("c_xy").alias("c")
    )
    n = big.agg(F.sum("c_xy").cast("double").alias("n"))
    scored = (
        big.filter(F.col("c_xy") >= 25)
        .join(F.broadcast(uni.withColumnRenamed("wrd", "w1").withColumnRenamed("c", "c1")), "w1")
        .join(F.broadcast(uni.withColumnRenamed("wrd", "w2").withColumnRenamed("c", "c2")), "w2")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "lift", F.col("c_xy") * F.col("n") / (F.col("c1") * F.col("c2"))
        )
    )
    wr = Window.orderBy(F.col("lift").desc(), F.col("w1"), F.col("w2"))
    return (
        scored.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 50)
        .select("w1", "w2", "c_xy", r4(F.log("lift")).alias("pmi"))
    )


@query(
    "doc_hashed_embeddings",
    f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
      FROM documents),
    hashed AS (
      SELECT doc_id,
             {md5_int_sql("term", n=6)} % 64 AS dim,
             CASE WHEN {md5_int_sql("term", 7, 1)} % 2 = 0
                  THEN 1.0 ELSE -1.0 END AS s
      FROM tok WHERE term <> ''),
    sums AS (
      SELECT doc_id, dim, sum(s) AS raw FROM hashed GROUP BY 1, 2),
    norms AS (
      SELECT doc_id, sqrt(sum(raw * raw)) AS l2 FROM sums GROUP BY 1)
    SELECT CAST(s.doc_id AS BIGINT) AS doc_id, CAST(s.dim AS BIGINT) AS dim,
           ROUND(s.raw / n.l2, 4) AS weight
    FROM sums s JOIN norms n USING (doc_id)
    WHERE n.l2 > 0
    """,
)
def doc_hashed_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free document embeddings by signed feature hashing
    (operators/embed.py): tokens hash to 64 signed buckets, bucket
    sums L2-normalize — deterministic text→vector plumbing whose
    output drops straight into the ANN/semantic-dedup operators, and
    (unlike a learned encoder) is bit-reproducible cross-engine, so
    this long-form entry carries a full DuckDB oracle.

    Scale: explode → (doc, bucket) hash-agg → per-doc norm — one
    doc_id shuffle; output ≤ |docs|·dim rows (dense form via
    hashed_ngram_embed for the vector operators)."""
    from ..operators.embed import hashed_embed_long

    docs = t(spark, sf_dir, "documents")
    long = hashed_embed_long(docs, dim=64)
    return long.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("dim").cast("long").alias("dim"),
        F.round("weight", 4).alias("weight"),
    )
