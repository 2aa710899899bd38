"""Deterministic stratified sampling: per-stratum rates applied via a
portable key hash, so the same subset materializes on every engine,
every run, and every retry — the reproducibility the reference chased
with seeded ``.sample(n=5000, random_state=42)`` (M1–M3), made
cluster-safe (seeded RNG sampling is partition-layout-dependent on
Spark; a key hash is not).

Scale posture: the predicate is a pure narrow filter (md5 of the key,
mod 1000, compared to a per-stratum threshold from a literal CASE
chain) — no shuffle, no driver state, survives any table size, and
composes with partition pruning. Oversampling rare strata is the
training-data use case: class-balanced subsets without a groupBy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import md5_int

__all__ = [
    "hash_bucket_permille",
    "stratified_hash_sample",
    "mixture_rates",
    "mixture_resample",
    "weighted_sample",
]


def hash_bucket_permille(key: Column) -> Column:
    """Uniform bucket in [0, 1000) from md5 of the key's string form —
    bit-portable (DuckDB: ``md5_int_sql("CAST(k AS VARCHAR)", n=6)
    % 1000``)."""
    return md5_int(key.cast("string"), n=6) % 1000


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates_permille: dict[str, int],
    default_permille: int = 0,
) -> DataFrame:
    """Keep each row iff its key hash-bucket falls under its stratum's
    per-mille rate. Strata absent from ``rates_permille`` get
    ``default_permille``."""
    rate: Column = F.lit(default_permille)
    for value, permille in rates_permille.items():
        rate = F.when(F.col(strata_col) == value, F.lit(permille)).otherwise(rate)
    return df.filter(hash_bucket_permille(F.col(key_col)) < rate)


def _salted_bucket_permille(key: Column, salt: str) -> Column:
    """Like :func:`hash_bucket_permille` but salted, so independent
    sampling decisions (mixture vs split vs stratified) decorrelate."""
    return md5_int(F.concat(F.lit(salt), key.cast("string")), n=6) % 1000


def mixture_rates(
    df: DataFrame,
    source_col: str,
    weights_permille: dict[str, int],
) -> DataFrame:
    """Per-source keep rates that realize a target domain MIXTURE
    (the Pile/Gopher-style "data mixture" knob: e.g. web 600‰, code
    250‰, books 150‰ of the OUTPUT corpus) at the largest total the
    inventory supports without oversampling any source.

    All arithmetic is INTEGER (``DIV``), so the rates are bit-identical
    cross-engine — no float-threshold divergence between the plan and
    its SQL oracle:

      * n_total  = min over sources of (n_src * 1000 DIV w_src) — the
        output size at which the scarcest source is exhausted;
      * rate_src = (w_src * n_total) DIV n_src per-mille of that
        source's OWN rows, so expected kept ≈ w_src·n_total/1000.

    Scale: one hash-agg over the corpus on the low-cardinality source
    key (map-side partials collapse it), one 1-row global min joined
    back as a broadcast scalar — the standard scalar-join pattern, no
    driver collect. Returns (source, n_src, w_pm, rate_pm); sources
    absent from ``weights_permille`` get rate 0 (dropped)."""
    w: Column = F.lit(0)
    for value, permille in weights_permille.items():
        w = F.when(F.col(source_col) == value, F.lit(permille)).otherwise(w)
    counts = (
        df.groupBy(source_col)
        .agg(F.count("*").alias("n_src"))
        .withColumn("w_pm", w)
    )
    weighted = counts.filter(F.col("w_pm") > 0)
    cap = weighted.select(
        F.min(F.expr("n_src * 1000 DIV w_pm")).alias("n_total")
    )
    return (
        weighted.crossJoin(F.broadcast(cap))
        .withColumn("rate_pm", F.expr("w_pm * n_total DIV n_src"))
        .select(source_col, "n_src", "w_pm", "rate_pm")
    )


def mixture_resample(
    df: DataFrame,
    key_col: str,
    source_col: str,
    weights_permille: dict[str, int],
    salt: str = "mix:0:",
) -> DataFrame:
    """Deterministically resample ``df`` to the target source mixture:
    keep a row iff its salted key-hash per-mille bucket falls under its
    source's :func:`mixture_rates` rate.

    The rates side is one row per source (bounded like a dimension
    table → broadcast); the corpus side stays a narrow filter after
    the join — no corpus shuffle, no skew sensitivity (acceptance is
    per-row, not per-partition), idempotent across retries/engines."""
    rates = mixture_rates(df, source_col, weights_permille)
    return (
        df.join(F.broadcast(rates), source_col)
        .filter(
            _salted_bucket_permille(F.col(key_col), salt) < F.col("rate_pm")
        )
        .select(*df.columns)  # original schema/order, helper cols gone
    )


def temperature_rates(
    df: DataFrame,
    source_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Per-source keep rates realizing TEMPERATURE sampling (the
    multilingual-LM mixture knob: sample source i with probability
    ∝ n_i^α, α < 1 upweighting low-resource sources — XLM-R /
    mBERT-style exponent smoothing) at the largest feasible output:
    the smallest source is kept whole, and every other source keeps
    ``rate_i = (n_min / n_i)^(1-α)`` of its rows, which realizes the
    n^α share profile exactly.

    Determinism: rates are ``floor(1000 · pow(n_min/n_i, 1−α))``.
    With the default α = 0.5 the power IS ``sqrt``, which IEEE-754
    requires to be correctly rounded — so the rate table is
    bit-identical cross-engine (the catalog oracle relies on this).
    Other α values use ``pow``, whose last-ulp behavior is libm-
    dependent; they are fine for production use but are not offered
    an oracle guarantee.

    Scale: one low-cardinality hash agg (map-side partials), a 1-row
    broadcast scalar for n_min — same shape as :func:`mixture_rates`.
    Returns (source, n_src, rate_pm)."""
    counts = df.groupBy(source_col).agg(F.count("*").alias("n_src"))
    n_min = counts.agg(F.min("n_src").alias("n_min"))
    ratio = F.col("n_min").cast("double") / F.col("n_src").cast("double")
    smoothed = (
        F.sqrt(ratio)
        if alpha == 0.5
        else F.pow(ratio, F.lit(1.0 - alpha))
    )
    return (
        counts.crossJoin(F.broadcast(n_min))
        .select(
            source_col,
            "n_src",
            F.floor(F.lit(1000.0) * smoothed).cast("long").alias(
                "rate_pm"
            ),
        )
    )


def temperature_resample(
    df: DataFrame,
    key_col: str,
    source_col: str,
    alpha: float = 0.5,
    salt: str = "temp:0:",
) -> DataFrame:
    """Deterministically resample ``df`` to the temperature-α mixture:
    keep a row iff its salted key-hash per-mille bucket falls under
    its source's :func:`temperature_rates` rate. Same broadcast-rates
    + narrow-filter shape as :func:`mixture_resample` (no corpus
    shuffle, skew-immune, idempotent across retries)."""
    rates = temperature_rates(df, source_col, alpha)
    return (
        df.join(F.broadcast(rates), source_col)
        .filter(
            _salted_bucket_permille(F.col(key_col), salt)
            < F.col("rate_pm")
        )
        .select(*df.columns)
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    seed: int = 42,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Weighted random sampling without replacement (Efraimidis &
    Spirakis 2006 A-ES), deterministic and cluster-safe: each row's
    sort key is ``ln(u)/w`` with ``u`` a uniform derived from
    ``md5(seed || id)`` — inclusion probability tracks the weight, and
    the same (seed, ids) always yields the same sample on any
    partition layout (Spark's seeded ``sample()`` is layout-dependent;
    a key hash is not). Rows with non-positive/null weight are
    excluded, per the algorithm's domain.

    The training-data use: quality-weighted corpus subsampling — k
    documents favoring high quality scores without a hard cutoff.

    Scale: the key is a narrow per-row expression; selection is one
    per-group top-k window (swap in ``functions.skew.two_phase_topk``
    for a pathologically hot group). Returns the sampled rows plus
    ``sample_key`` (for audit/reproducibility checks)."""
    from pyspark.sql import Window

    h = md5_int(
        F.concat(F.lit(str(seed)), F.lit("|"), F.col(id_col).cast("string")), n=13
    )
    u = (h.cast("double") + 0.5) / float(16**13)
    key = F.log(u) / F.col(weight_col)
    base = (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("sample_key", key)
    )
    w = (
        Window.partitionBy(*group_cols) if group_cols else Window.partitionBy()
    ).orderBy(F.col("sample_key").desc(), F.col(id_col).asc())
    return (
        base.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )
