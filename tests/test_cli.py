"""CLI surface (python -m nyc_taxi_etl_spark …) — the operational
parity with the reference's spark-submit entry scripts."""

from __future__ import annotations

import json
import subprocess
import sys


def test_queries_listing_no_spark(capsys):
    from nyc_taxi_etl_spark.__main__ import main

    assert main(["queries"]) == 0
    out = capsys.readouterr().out
    lines = [line for line in out.strip().splitlines() if line]
    from nyc_taxi_etl_spark.plans import CATALOG, DRIVER_WINDOW

    # driver window (pinned at 50) + however many overflow entries exist
    assert len(DRIVER_WINDOW) == 50
    assert len(lines) == len(CATALOG)
    assert any(line.startswith("events_time_profile\toracle") for line in lines)
    n_overflow = len(CATALOG) - len(DRIVER_WINDOW)
    assert sum(line.endswith("\toverflow") for line in lines) == n_overflow
    # window members print untagged, overflow entries tagged — all keep
    # full oracles
    assert any(
        line.startswith("adaptive_left_enrich\toracle")
        and not line.endswith("\toverflow")
        for line in lines
    )
    assert any(
        line.startswith("ppjoin_near_pairs\toracle")
        and not line.endswith("\toverflow")
        for line in lines
    )
    assert any(
        line.startswith("purchase_graph_pagerank\toracle")
        and not line.endswith("\toverflow")
        for line in lines
    )
    assert any(
        line.startswith("simhash_near_pairs\toracle\toverflow")
        for line in lines
    )
    assert any(line.startswith("semantic_dedup\toracle\toverflow")
               for line in lines)
    assert any(line.startswith("doc_top_terms\toracle\toverflow")
               for line in lines)


def test_unknown_query_exits_1_without_spark(capsys):
    from nyc_taxi_etl_spark.__main__ import main

    assert main(["query", "no_such_query"]) == 1
    assert "unknown query" in capsys.readouterr().err


def test_cli_query_writes_parquet(tmp_path):
    # full subprocess: own SparkSession, own lifecycle, real sink
    out = tmp_path / "hist"
    r = subprocess.run(
        [
            sys.executable,
            "-m",
            "nyc_taxi_etl_spark",
            "query",
            "value_histogram",
            "--sf-dir",
            "/root/testdata/sf0.001",
            "--out",
            str(out),
        ],
        capture_output=True,
        text=True,
        timeout=240,
        cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-800:]
    assert str(out) in r.stdout
    import duckdb

    n = duckdb.sql(f"SELECT count(*) FROM '{out}/*.parquet'").fetchone()[0]
    assert n > 0


def test_cli_etl_roundtrip(tmp_path):
    # stage a tiny raw yellow dir from the fixtures, run the ETL
    # subcommand end-to-end, check the metrics JSON and curated layout
    from tests.taxi_fixtures import write_all

    raw = write_all(str(tmp_path / "raw"))
    curated = tmp_path / "curated"
    r = subprocess.run(
        [
            sys.executable,
            "-m",
            "nyc_taxi_etl_spark",
            "etl",
            "--raw",
            *[f"{cab}={path}" for cab, path in raw.items()],
            "--output",
            str(curated),
        ],
        capture_output=True,
        text=True,
        timeout=300,
        cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-800:]
    metrics = json.loads(r.stdout.strip().splitlines()[-1])
    assert metrics["rows_out"] > 0
    assert (curated / "cab_type=yellow").exists()


def test_cli_prepare_jsonl(tmp_path):
    import glob

    out = tmp_path / "corpus"
    res = subprocess.run(
        [sys.executable, "-m", "nyc_taxi_etl_spark", "prepare",
         "--sf-dir", "/root/testdata/sf0.001", "--out", str(out),
         "--chunk-tokens", "32", "--shards", "2",
         "--collapse-repeats", "--format", "jsonl"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert res.returncode == 0, res.stderr[-2000:]
    stats = json.loads(res.stdout.strip().splitlines()[-1])
    assert stats["output"] == str(out)
    assert sum(stats["chunks_per_split"].values()) > 0
    files = glob.glob(str(out) + "/split=*/part-*")
    assert files
    n_lines = sum(1 for f in files for line in open(f) if line.strip())
    assert n_lines == sum(stats["chunks_per_split"].values())


def test_cli_table_maintenance_roundtrip(spark, tmp_path, capsys):
    import json

    from nyc_taxi_etl_spark.__main__ import main
    from nyc_taxi_etl_spark.sources.versioned import VersionedTable

    root = str(tmp_path / "tbl")
    t = VersionedTable(spark, root)
    t.write(spark.range(0, 10).withColumnRenamed("id", "k"))
    t.append(spark.range(10, 20).withColumnRenamed("id", "k"))

    assert main(["table", "versions", "--root", root]) == 0
    recs = json.loads(capsys.readouterr().out)
    assert [r["version"] for r in recs] == [0, 1]
    assert main(["table", "vacuum", "--root", root]) == 0
    assert json.loads(capsys.readouterr().out) == {"removed": []}
    assert main(["table", "expire", "--root", root, "--keep-last", "1"]) == 0
    assert json.loads(capsys.readouterr().out) == {"expired": [0]}
    assert t.read().count() == 20


def test_cli_table_cdf_delete_and_bloom(spark, tmp_path):
    import json

    from nyc_taxi_etl_spark.sources.versioned import VersionedTable

    root = str(tmp_path / "cdf")
    t = VersionedTable(spark, root)
    t.write(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"
        ).repartition(3)
    )
    t.write(
        spark.createDataFrame(
            [(1, 10.0), (2, 99.0), (4, 40.0)], "k long, v double"
        )
    )

    def run(*args):
        r = subprocess.run(
            [sys.executable, "-m", "nyc_taxi_etl_spark", "table", *args,
             "--root", root],
            capture_output=True, text=True, timeout=240, cwd="/root/repo",
        )
        assert r.returncode == 0, r.stderr[-800:]
        return r.stdout.strip().splitlines()

    changes = [json.loads(x) for x in run(
        "changes", "--keys", "k", "--from-version", "0", "--to-version", "1")]
    assert {(c["_change_type"], c["k"]) for c in changes} == {
        ("update", 2), ("delete", 3), ("insert", 4)}

    assert json.loads(run("index", "--column", "k")[-1])["files_indexed"] >= 1
    lk = json.loads(run("lookup", "--column", "k", "--value", "4")[-1])
    assert lk["rows"] == 1

    assert json.loads(run("delete", "--where", "v > 50")[-1]) == {
        "deleted_to_version": 2}
    assert sorted(r.k for r in t.read().collect()) == [1, 4]


def test_cli_explain(tmp_path):
    r = subprocess.run(
        [sys.executable, "-m", "nyc_taxi_etl_spark", "explain",
         "region_order_revenue", "--sf-dir", "/root/testdata/sf0.001"],
        capture_output=True, text=True, timeout=240, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-800:]
    assert "Physical Plan" in r.stdout
    assert "PushedFilters" in r.stdout or "Scan parquet" in r.stdout
    bad = subprocess.run(
        [sys.executable, "-m", "nyc_taxi_etl_spark", "explain", "nope"],
        capture_output=True, text=True, timeout=120, cwd="/root/repo",
    )
    assert bad.returncode == 1
