"""r9 ADVICE regression: nation_revenue_trend's r² numerator is a
DOUBLE product of the exact integer `num`, not decimal(38,0)², so the
top revenue decades can't silently NULL under Spark's non-ANSI decimal
overflow (DuckDB would error instead — an engine/oracle divergence).
This fixture pushes the monthly cents moments into the 1e17–1e18 range
(num ≈ 1.7e18, within a long but squaring toward the decimal(38)
ceiling) and value-compares both engines."""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from nyc_taxi_etl_spark.plans import CATALOG

from .compare import assert_frames_match
from .conftest import SF_DIR, TABLES, _register



@pytest.fixture(scope="module")
def giant_sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("sf_giant")
    # empty schema-preserving mirrors for the tables the entry ignores
    for t in TABLES:
        schema = pq.read_schema(os.path.join(SF_DIR, f"{t}.parquet"))
        pq.write_table(schema.empty_table(), str(d / f"{t}.parquet"))
    # one nation, one customer, 12 monthly orders with revenue growing
    # by 1e13 dollars (1e15 cents) per month -> num ≈ 1.7e18
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array([0], pa.int32()),
                "n_name": pa.array(["GIANTLAND"], pa.string()),
                "n_regionkey": pa.array([0], pa.int32()),
            }
        ),
        str(d / "nation.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([1], pa.int64()),
                "c_name": pa.array(["c1"], pa.string()),
                "c_nationkey": pa.array([0], pa.int32()),
                "c_acctbal": pa.array([0.0], pa.float64()),
                "c_mktsegment": pa.array(["BUILDING"], pa.string()),
            }
        ),
        str(d / "customer.parquet"),
    )
    import datetime as dt

    months = list(range(12))
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(months, pa.int64()),
                "o_custkey": pa.array([1] * 12, pa.int64()),
                "o_orderstatus": pa.array(["F"] * 12, pa.string()),
                # 1e13 * (m+1) dollars; double holds these exactly
                # (integers < 2^53) so round(x*100) is exact cents
                "o_totalprice": pa.array(
                    [1e13 * (m + 1) for m in months], pa.float64()
                ),
                "o_orderdate": pa.array(
                    [dt.datetime(1995, m + 1, 15) for m in months],
                    pa.timestamp("us"),
                ),
                "o_orderpriority": pa.array(["1-URGENT"] * 12, pa.string()),
            }
        ),
        str(d / "orders.parquet"),
    )
    return str(d)


def test_trend_r2_survives_giant_magnitudes(spark, giant_sf_dir):
    from nyc_taxi_etl_spark.plans.queries_stats import _TREND_SQL

    out = CATALOG["nation_revenue_trend"](spark, giant_sf_dir).toPandas()
    assert len(out) == 1
    row = out.iloc[0]
    # perfectly linear series: slope 1e15 cents/month, r2 exactly 1
    assert row["r2"] == pytest.approx(1.0, abs=1e-12)
    assert row["slope_cents_per_month"] == pytest.approx(1e15, rel=1e-12)
    assert not out.isna().any().any(), out
    con = duckdb.connect()
    _register(con, giant_sf_dir)
    duck = con.execute(_TREND_SQL).df()
    assert_frames_match(out, duck, "nation_revenue_trend[giant]")
