"""Tests for the ingestion driver (manifest, retry/backoff, idempotency
— all offline via an injected fetcher), the sink helpers (file-count
control, Hive partitioning, CSV), and the SQL surface."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from nyc_taxi_etl_spark.ingest import (
    Manifest,
    infer_file_meta,
    ingest_range,
    month_range,
    raw_path,
    tlc_url,
)
from nyc_taxi_etl_spark.sources.sinks import write_csv, write_parquet
from nyc_taxi_etl_spark.sql import run_sql


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


def test_month_range_spans_year_boundary():
    assert list(month_range("2024-11", "2025-02")) == [
        (2024, 11),
        (2024, 12),
        (2025, 1),
        (2025, 2),
    ]


@pytest.mark.parametrize(
    "start, end",
    [("2023-13", "2024-01"), ("2023-00", "2023-02"), ("2023-1", "2023-02")],
)
def test_month_range_rejects_months_that_do_not_exist(start, end):
    # each yielded month becomes a TLC download URL
    with pytest.raises(ValueError, match="YYYY-MM"):
        list(month_range(start, end))


def test_url_and_path_and_meta_roundtrip():
    url = tlc_url("yellow", 2025, 3)
    assert url.endswith("/yellow_tripdata_2025-03.parquet")
    p = raw_path("/data/raw", "fhvhv", 2024, 12)
    assert p == "/data/raw/fhvhv/2024/fhvhv_tripdata_2024-12.parquet"
    assert infer_file_meta(p) == {"cab": "fhvhv", "year": 2024, "month": 12}
    assert infer_file_meta("junk.txt") is None


def test_ingest_retry_backoff_and_manifest(tmp_path):
    calls = {"n": 0}
    sleeps = []

    def flaky(url: str) -> bytes:  # succeeds on 3rd attempt
        calls["n"] += 1
        if calls["n"] < 3:
            raise OSError("transient")
        return b"PARQ" * 10

    counts = ingest_range(
        ["yellow"],
        "2025-01",
        "2025-01",
        str(tmp_path / "raw"),
        str(tmp_path / "manifest.json"),
        fetcher=flaky,
        retries=3,
        backoff_s=0.5,
        sleeper=sleeps.append,
    )
    assert counts == {"ok": 1, "skipped": 0, "error": 0}
    assert sleeps == [0.5, 1.0]  # exponential backoff
    m = Manifest.load(str(tmp_path / "manifest.json"))
    (e,) = m.entries
    assert e["status"] == "ok" and e["size"] == 40

    # idempotent re-run: file exists → skipped, fetcher not called again
    calls["n"] = 10
    counts2 = ingest_range(
        ["yellow"],
        "2025-01",
        "2025-01",
        str(tmp_path / "raw"),
        str(tmp_path / "manifest.json"),
        fetcher=flaky,
    )
    assert counts2 == {"ok": 0, "skipped": 1, "error": 0}


def test_ingest_permanent_failure_recorded(tmp_path, spark):
    def dead(url: str) -> bytes:
        raise OSError("404")

    counts = ingest_range(
        ["fhv"],
        "2025-01",
        "2025-02",
        str(tmp_path / "raw"),
        str(tmp_path / "manifest.json"),
        fetcher=dead,
        retries=2,
        sleeper=lambda s: None,
    )
    assert counts == {"ok": 0, "skipped": 0, "error": 2}
    m = Manifest.load(str(tmp_path / "manifest.json"))
    assert len(m.error_entries()) == 2
    # control-table audit (the check_manifest.py one-liner as a groupBy)
    audit = m.to_df(spark).groupBy("status").count().collect()
    assert {r["status"]: r["count"] for r in audit} == {"error": 2}


# ---------------------------------------------------------------------------
# sinks
# ---------------------------------------------------------------------------


def test_write_parquet_file_count_and_partitioning(spark, tmp_path):
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 3).alias("g"), F.rand(seed=1).alias("v")
    )
    out = str(tmp_path / "plain")
    write_parquet(df, out, target_files=2)
    assert len(glob.glob(os.path.join(out, "*.parquet"))) == 2

    out2 = str(tmp_path / "parts")
    write_parquet(df, out2, partition_by=["g"], target_files=1)
    for g in (0, 1, 2):
        files = glob.glob(os.path.join(out2, f"g={g}", "*.parquet"))
        assert len(files) == 1, g
    # target_files sets the write TASKS: the hash exchange on the keys
    # sends each key to one task, so 8 tasks over 7 keys write one
    # file per Hive partition, not 8 per partition
    out3 = str(tmp_path / "parts7")
    write_parquet(
        df.withColumn("k", F.col("id") % 7), out3, partition_by=["k"], target_files=8
    )
    for k in range(7):
        files = glob.glob(os.path.join(out3, f"k={k}", "*.parquet"))
        assert len(files) == 1, k
    # partition pruning applies on read
    back = spark.read.parquet(out2).filter(F.col("g") == 1)
    assert back.count() == 333


def test_write_csv_single_file_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "s"])
    out = str(tmp_path / "csv")
    write_csv(df, out)
    files = glob.glob(os.path.join(out, "*.csv"))
    assert len(files) == 1
    back = spark.read.option("header", "true").csv(out)
    assert sorted((r["k"], r["s"]) for r in back.collect()) == [("1", "a"), ("2", "b")]


def _csv_jobs(spark, df, out) -> int:
    sc = spark.sparkContext
    sc.setJobGroup("csv-jobs", "write_csv job count")
    try:
        write_csv(df, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup("csv-jobs"))


def test_write_csv_of_aggregate_runs_no_count_job(spark, tmp_path):
    """One file from an aggregate in two jobs (the shuffle map stage
    and the write): counting the frame's partitions first would run
    the map stage as a job of its own, under AQE, before the write."""
    agg = spark.range(0, 1000, numPartitions=4).groupBy(
        (F.col("id") % 10).alias("k")
    ).count()
    out = str(tmp_path / "agg")
    assert _csv_jobs(spark, agg, out) == 2
    assert len(glob.glob(os.path.join(out, "*.csv"))) == 1
    back = spark.read.option("header", "true").csv(out)
    assert sorted((int(r["k"]), int(r["count"])) for r in back.collect()) == [
        (k, 100) for k in range(10)
    ]
    empty = spark.range(0, 1000, numPartitions=4).filter("id < 0")
    out_empty = str(tmp_path / "empty")
    write_csv(empty.groupBy((F.col("id") % 10).alias("k")).count(), out_empty)
    files = glob.glob(os.path.join(out_empty, "*.csv"))
    assert len(files) == 1
    with open(files[0]) as f:
        assert f.read() == "k,count\n"


# ---------------------------------------------------------------------------
# SQL surface
# ---------------------------------------------------------------------------


def test_run_sql_matches_dataframe_catalog(spark, duck):
    got = run_sql(
        spark,
        "/root/testdata/sf0.001",
        """
        SELECT CAST(hour(ts) AS BIGINT) AS event_hour,
               CAST(count(*) AS BIGINT) AS event_count
        FROM events GROUP BY 1
        """,
    ).toPandas()
    want = duck.execute(
        "SELECT CAST(hour(ts) AS BIGINT) AS event_hour, "
        "CAST(count(*) AS BIGINT) AS event_count FROM events GROUP BY 1"
    ).df()
    got = got.sort_values("event_hour").reset_index(drop=True)
    want = want.sort_values("event_hour").reset_index(drop=True)
    assert got.equals(want)


def test_run_sql_join_over_views(spark):
    out = run_sql(
        spark,
        "/root/testdata/sf0.001",
        """
        SELECT r.r_name, CAST(count(*) AS BIGINT) AS n
        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1
        """,
    )
    rows = {r["r_name"]: r["n"] for r in out.collect()}
    assert sum(rows.values()) == 25  # 25 nations


def test_corpus_vocabulary_matches_oracle(spark, duck):
    # top-100 vocabulary (tf + df) — folded out of the driver catalog
    # into doc_top_terms' oracle (which replays tf/df); this test keeps
    # the standalone vocab pass directly DuckDB-parity-checked.
    from nyc_taxi_etl_spark.functions import topk
    from nyc_taxi_etl_spark.operators import text as X
    from nyc_taxi_etl_spark.sources.catalog import load_table

    from .compare import assert_frames_match
    from .conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    ex = docs.select(
        "doc_id", F.explode(X.tokens(F.lower(F.col("text")))).alias("term")
    ).filter(F.col("term") != "")
    agg = ex.groupBy("term").agg(
        F.count("*").alias("tf"), F.count_distinct("doc_id").alias("df")
    )
    got = topk(agg, ["term"], "tf", 100).toPandas()
    want = duck.execute(
        """
        WITH tok AS (
          SELECT doc_id,
                 unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
          FROM documents)
        SELECT term, CAST(count(*) AS BIGINT) AS tf,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM tok WHERE term <> ''
        GROUP BY 1 ORDER BY tf DESC, term LIMIT 100
        """
    ).df()
    assert_frames_match(got, want, "corpus_vocabulary")


def test_shingle_udtf_matches_catalyst_path(spark):
    # the UDTF extension surface (SURVEY §2.11) must agree with the
    # production Catalyst path (shingles + explode) on the shingle SET
    from nyc_taxi_etl_spark.functions.udtf import register_udtfs
    from nyc_taxi_etl_spark.operators.text import shingles
    from nyc_taxi_etl_spark.sources.catalog import load_table

    from .conftest import SF_DIR

    register_udtfs(spark)
    docs = load_table(spark, SF_DIR, "documents").limit(50)
    docs.createOrReplaceTempView("udtf_docs")
    via_udtf = {
        (r["doc_id"], r["shingle"])
        for r in spark.sql(
            "SELECT d.doc_id, s.shingle FROM udtf_docs d, "
            "LATERAL shingle_rows(d.text, 3) s"
        ).collect()
    }
    via_catalyst = {
        (r["doc_id"], r["s"])
        for r in docs.select(
            "doc_id", F.explode(shingles(F.col("text"), 3)).alias("s")
        ).collect()
    }
    assert via_udtf == via_catalyst and len(via_udtf) > 0


# adversarial inputs for the cross-engine conventions in functions.core
_TWIN_STRINGS = ["", " ", "café", "数据处理", "🚕🗽", "ab" * 500, "a\tb\nc"]
_TWIN_WINDOWS = [(1, 8), (9, 8), (1, 6), (7, 1), (1, 13), (1, 15), (18, 15)]
_TWIN_MONEY = [0.005, 1.005, 2.675, -1.125, 12345678.125, 0.1 + 0.2]


def test_cross_engine_twins_agree_exactly(spark):
    """Each Spark convention function and its DuckDB (and Python) twin
    give the same value bit for bit: the md5-prefix hash on
    empty/blank/accented/CJK/emoji/long/control-character strings over
    several (start, n) windows, and exact cents and money sums on
    half-cent values."""
    import duckdb as _duck

    from nyc_taxi_etl_spark.functions import (
        cents,
        cents_sql,
        md5_int,
        md5_int_py,
        md5_int_sql,
        money_sum,
        money_sum_sql,
    )

    strs, money = list(enumerate(_TWIN_STRINGS)), list(enumerate(_TWIN_MONEY))
    with _duck.connect() as con:
        con.execute("CREATE TABLE strs (i INTEGER, s VARCHAR)")
        con.executemany("INSERT INTO strs VALUES (?, ?)", strs)
        con.execute("CREATE TABLE money (i INTEGER, x DOUBLE)")
        con.executemany("INSERT INTO money VALUES (?, ?)", money)
        cols = ", ".join(md5_int_sql("s", st, n) for st, n in _TWIN_WINDOWS)
        duck_hash = {
            r[0]: list(r[1:])
            for r in con.execute(f"SELECT i, {cols} FROM strs").fetchall()
        }
        duck_money = {
            i: (c, m)
            for i, c, m in con.execute(
                f"SELECT i, first({cents_sql('x')}), {money_sum_sql('x')} "
                "FROM money GROUP BY i"
            ).fetchall()
        }
        duck_total = con.execute(
            f"SELECT {money_sum_sql('x')} FROM money"
        ).fetchone()[0]

    spark_hash = {
        r["i"]: list(r)[1:]
        for r in spark.createDataFrame(strs, "i INT, s STRING")
        .select("i", *[md5_int(F.col("s"), st, n) for st, n in _TWIN_WINDOWS])
        .collect()
    }
    py_hash = {
        i: [md5_int_py(s, st, n) for st, n in _TWIN_WINDOWS] for i, s in strs
    }
    assert spark_hash == duck_hash == py_hash

    x = F.col("x")
    sdf = spark.createDataFrame(money, "i INT, x DOUBLE")
    spark_money = {
        r["i"]: (r["c"], r["m"])
        for r in sdf.groupBy("i")
        .agg(F.first(cents(x)).alias("c"), money_sum(x).alias("m"))
        .collect()
    }
    assert spark_money == duck_money
    assert sdf.agg(money_sum(x)).first()[0] == duck_total

# ---------------------------------------------------------------------------
# JSONL / ORC formats (r5)
# ---------------------------------------------------------------------------


def test_jsonl_roundtrip_with_corrupt_quarantine(spark, tmp_path):
    """Documents → JSONL → quarantine read-back: clean rows identical,
    a planted truncated line lands verbatim in _corrupt_record (never
    a task failure), and the one-scan audit counts both."""
    from nyc_taxi_etl_spark.sources.jsonl import jsonl_parse_audit, read_jsonl
    from nyc_taxi_etl_spark.sources.sinks import write_jsonl

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, out, target_files=2)
    # plant a malformed line alongside the good shards
    bad = '{"doc_id": 999999, "text": "truncat'
    with open(os.path.join(out, "part-corrupt.json"), "w") as f:
        f.write(bad + "\n")
    back = read_jsonl(spark, out, docs.schema)
    audit = jsonl_parse_audit(back).collect()[0]
    n = docs.count()
    assert (audit["n_rows"], audit["n_good"], audit["n_corrupt"]) == (
        n + 1,
        n,
        1,
    )
    quarantined = back.filter(F.col("_corrupt_record").isNotNull()).collect()
    assert len(quarantined) == 1 and quarantined[0]["_corrupt_record"] == bad
    clean = back.filter(F.col("_corrupt_record").isNull()).drop(
        "_corrupt_record"
    )
    want = {r["doc_id"]: r["text"] for r in docs.collect()}
    got = {r["doc_id"]: r["text"] for r in clean.collect()}
    assert got == want


def test_jsonl_roundtrip_entry_stages_under_spark_files_root(spark):
    """The catalog's JSONL round-trip stages its export under the
    application's SparkFiles root, which Spark deletes at stop(), so
    no staged copy outlives the session."""
    from pyspark import SparkFiles

    from nyc_taxi_etl_spark.plans import CATALOG

    from .conftest import SF_DIR

    root = SparkFiles.getRootDirectory()
    CATALOG["jsonl_roundtrip_source_counts"](spark, SF_DIR).collect()
    assert glob.glob(os.path.join(root, "jsonl_rt_*", "_STAGED")), os.listdir(root)


def test_orc_roundtrip_matches_parquet(spark, tmp_path):
    from nyc_taxi_etl_spark.sources.sinks import write_orc

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    out = str(tmp_path / "orders_orc")
    write_orc(orders, out, partition_by=["o_orderstatus"], target_files=1)
    back = spark.read.orc(out)
    assert back.count() == orders.count()
    a = orders.groupBy("o_orderstatus").count().collect()
    b = back.groupBy("o_orderstatus").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # partition pruning works on the Hive layout the sink produced
    plan = back.filter(F.col("o_orderstatus") == "F")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "PartitionFilters" in plan


def test_k_anonymity_audit_group_sizes(spark):
    from nyc_taxi_etl_spark.operators.redact import k_anonymity_audit

    rows = [("US", "A")] * 5 + [("US", "B")] * 2 + [("DE", "A")] * 3
    df = spark.createDataFrame(rows, ["country", "seg"])
    got = {
        (r["country"], r["seg"]): (r["group_size"], r["at_risk"])
        for r in k_anonymity_audit(df, ["country", "seg"], k=3).collect()
    }
    assert got == {
        ("US", "A"): (5, False),
        ("US", "B"): (2, True),
        ("DE", "A"): (3, False),
    }


def test_daily_ewma_matches_recursive_reference(spark):
    """The window-pass closed form must equal the literal recursion
    s_t = (1-a)*s_{t-1} + a*x_t (pandas ewm, adjust=False) — an
    independent reference implementation, not the shared SQL."""
    import duckdb as _duck
    import numpy as np

    from nyc_taxi_etl_spark.plans import CATALOG

    sp = (
        CATALOG["daily_value_ewma"](spark, "/root/testdata/sf0.001")
        .toPandas()
        .sort_values("day")
        .reset_index(drop=True)
    )
    ev = _duck.sql(
        "SELECT CAST(ts AS DATE) AS d, avg(value) AS v "
        "FROM '/root/testdata/sf0.001/events.parquet' GROUP BY 1 ORDER BY 1"
    ).df()
    ref = ev["v"].ewm(alpha=0.2, adjust=False).mean()
    assert np.allclose(sp["ewma"], ref.round(4), atol=2e-4)
