"""Reusable column-expression helpers (SURVEY.md §2.9).

Each helper re-expresses a scalar pattern from the reference as a pure
Catalyst expression — JVM-side, codegen'd, no Python UDFs — so every
consumer stays inside WholeStageCodegen at any scale.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "season",
    "safe_div",
    "safe_cast_double",
    "month_period",
    "epoch_nanos_ts",
    "fare_from_components",
    "histogram_bucket",
    "topk",
    "zscore_over_all",
    "r4",
    "cents",
    "money_sum",
    "hex_int",
    "md5_int",
    "cents_sql",
    "money_sum_sql",
    "md5_int_sql",
    "md5_int_py",
]

_NUMERIC_RE = r"^-?\d+(\.\d+)?$"


def season(month: Column) -> Column:
    """Month → season label.

    Reference: ``scripts/analytics_summary.py:13-14`` dict mapping
    {12,1,2:Winter, 3-5:Spring, 6-8:Summer, 9-11:Fall}.
    """
    return (
        F.when(month.isin(12, 1, 2), F.lit("Winter"))
        .when(month.isin(3, 4, 5), F.lit("Spring"))
        .when(month.isin(6, 7, 8), F.lit("Summer"))
        .otherwise(F.lit("Fall"))
    )


def safe_div(num: Column, den: Column) -> Column:
    """Guarded division: null when the denominator is not positive.

    Reference: ``spark_jobs/utils.py:75-76`` —
    ``when(dist > 0, fare/dist).otherwise(None)``.
    """
    return F.when(den > 0, num / den).otherwise(F.lit(None))


def safe_cast_double(c: Column) -> Column:
    """Regex-validated string→double cast (null unless fully numeric).

    Reference: ``spark_jobs/utils.py:30-32``.
    """
    return F.when(c.rlike(_NUMERIC_RE), c.cast("double")).otherwise(F.lit(None))


def month_period(ts: Column) -> Column:
    """'yyyy-MM' month period label (pandas ``dt.to_period("M")``,
    ``scripts/analytics_pandas.py:160``)."""
    return F.date_format(ts, "yyyy-MM")


def epoch_nanos_ts(name: str) -> Column:
    """Epoch-nanosecond long column → microsecond TIMESTAMP (the form
    TIMESTAMP(NANOS) parquet takes under
    ``spark.sql.legacy.parquet.nanosAsLong``). Integer ``DIV``: a
    double holds 53 bits, so float division of ~1.7e18 nanos can land
    just under the true microsecond and truncate 1 µs early."""
    return F.timestamp_micros(F.expr(f"`{name}` DIV 1000"))


def fare_from_components(*cols: Column) -> Column:
    """Total cost as null-safe component sum (fhvhv fare reconstruction,
    ``scripts/analytics_pandas.py:139-153``)."""
    out = F.coalesce(cols[0], F.lit(0.0))
    for c in cols[1:]:
        out = out + F.coalesce(c, F.lit(0.0))
    return out


def histogram_bucket(c: Column, width: float) -> Column:
    """Fixed-width histogram bucket index (floor(c/width)).

    Reference: ``plt.hist(dur, bins=60)`` — the engine exposes the
    aggregation-side histogram (A18) instead of a plotting call.
    """
    return F.floor(c / F.lit(width)).cast("long")


def topk(df: DataFrame, key_cols: list[str], order_col: str, k: int) -> DataFrame:
    """Deterministic top-k: order by metric desc then keys asc so ties
    cannot flip membership between engines (A3/A10/O1/O3)."""
    return df.orderBy(F.desc(order_col), *[F.asc(c) for c in key_cols]).limit(k)


def zscore_over_all(c: Column) -> Column:
    """z-score against the whole frame via an unpartitioned window
    (A15: ``scipy.stats.zscore`` over daily counts)."""
    from pyspark.sql import Window

    w = Window.partitionBy()
    return (c - F.avg(c).over(w)) / F.stddev_samp(c).over(w)


def r4(c: Column) -> Column:
    """Round to 4 decimals — applied to every float the oracle hashes so
    last-ulp aggregation-order noise between Spark and DuckDB vanishes."""
    return F.round(c, 4)


def normal_two_sided_p(z: Column) -> Column:
    """Two-sided normal tail 2(1−Φ(|z|)) = erfc(|z|/√2) via the
    Abramowitz & Stegun 7.1.26 polynomial (|error| < 1.5e-7) — shared
    by every entry that reports a z-based p-value (Mann-Whitney,
    Mann-Kendall). Neither Spark nor DuckDB ships a builtin erf, so
    BOTH engines evaluate this same closed form; callers round the
    result (r4) because exp() is the one libm call whose last ulp may
    differ between the JVM and a C runtime. The SQL oracles embed the
    identical expression via ``NORMAL_P_SQL``."""
    x = F.abs(z) / F.sqrt(F.lit(2.0))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    poly = t * (
        F.lit(0.254829592)
        + t
        * (
            F.lit(-0.284496736)
            + t
            * (
                F.lit(1.421413741)
                + t * (F.lit(-1.453152027) + t * F.lit(1.061405429))
            )
        )
    )
    return poly * F.exp(-(x * x))


def normal_p_sql(z_expr: str) -> str:
    """The oracle-side twin of ``normal_two_sided_p``: the same A&S
    7.1.26 erfc as a SQL expression over ``z_expr`` (which must be a
    plain column reference — it is substituted textually several
    times)."""
    x = f"(abs({z_expr}) / sqrt(2.0))"
    t = f"(1.0 / (1.0 + 0.3275911 * {x}))"
    return (
        f"(({t} * (0.254829592 + {t} * (-0.284496736 + {t} * (1.421413741"
        f" + {t} * (-1.453152027 + {t} * 1.061405429)))))"
        f" * exp(-({x} * {x})))"
    )


# ---------------------------------------------------------------------------
# Cross-engine conventions: one spelling per engine. Each Spark helper has a
# DuckDB twin (``*_sql``, which renders SQL text for the oracles) that
# computes the same value bit for bit; the md5 hash also has a Python twin.
# ---------------------------------------------------------------------------


def cents(c: Column) -> Column:
    """Exact integer cents of a money value: ``round(c * 100)`` as a
    long. Sums and comparisons of cents are order-independent and
    boundary-stable, which float money is not. DuckDB twin:
    ``cents_sql``."""
    return F.round(c * 100, 0).cast("long")


def money_sum(c: Column) -> Column:
    """Σ of a money column as exact cents, returned as a double in
    currency units (twin: ``money_sum_sql``)."""
    return F.sum(cents(c)).cast("double") / 100


def hex_int(hexed: Column, start: int, n: int) -> Column:
    """The ``n`` hex digits of ``hexed`` from 1-based ``start`` read as a
    long. Lets a caller hash once and read several windows."""
    return F.conv(F.substring(hexed, start, n), 16, 10).cast("long")


def md5_int(s: Column, start: int = 1, n: int = 8) -> Column:
    """md5-prefix hash: ``n`` hex digits of ``md5(s)`` from 1-based
    ``start`` read as an integer (``n`` ≤ 15 stays a non-negative
    long). Twins: ``md5_int_sql`` and ``md5_int_py``."""
    return hex_int(F.md5(s), start, n)


def cents_sql(expr: str) -> str:
    """DuckDB twin of ``cents``. ``expr`` is substituted textually, so a
    compound expression must bind tighter than ``*``."""
    return f"CAST(round({expr} * 100) AS BIGINT)"


def money_sum_sql(expr: str) -> str:
    """DuckDB twin of ``money_sum``."""
    return f"CAST(sum({cents_sql(expr)}) AS DOUBLE) / 100"


def md5_int_sql(expr: str, start: int = 1, n: int = 8) -> str:
    """DuckDB twin of ``md5_int`` over a VARCHAR SQL expression."""
    return f"('0x' || substr(md5({expr}), {start}, {n}))::BIGINT"


def md5_int_py(s: str, start: int = 1, n: int = 8) -> int:
    """Python twin of ``md5_int`` (md5 of the UTF-8 bytes)."""
    return int(hashlib.md5(s.encode()).hexdigest()[start - 1 : start - 1 + n], 16)
