"""Self-tests of the benchmark.

    python3 perfbench/selftest.py            # all checks, about two minutes
    python3 perfbench/selftest.py --record   # rewrite expected.json

Checks:

* every metric declared in ``BENCHMARK.json`` is printed, with its
  unit, and every printed metric is declared (one smoke run of each
  workload, alternating ``--trace 0`` and ``--trace 1``);
* each smoke run checks its outputs and reports none failed;
* the fingerprint does not depend on row order or partitioning, and
  does see a changed value;
* every per-layer metric is described in ``METRICS.md``;
* run where only ``BENCHMARK.json`` and ``perfbench/`` exist, the
  benchmark exits non-zero without printing a result.

``--record`` recomputes ``expected.json``: it runs each catalog step on
both input sizes, checks the output against the entry's own DuckDB
oracle (``plans.ORACLE ∪ ORACLE_EXTRA``), and stores its row count and
fingerprint.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
from workloads import CATALOG_WORKLOADS, WORKLOADS, materialize, rows_match  # noqa: E402


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_bench(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "0.5", "--trace", str(trace), "--size", "smoke"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def check_metric_names() -> None:
    bench = declared()
    want = {1: {m["name"]: m["unit"] for m in bench["per_layer"]},
            0: {m["name"]: m["unit"] for m in bench["end_to_end"]}}
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == layers.PER_LAYER, \
        "BENCHMARK.json per_layer differs from layers.PER_LAYER"
    for i, w in enumerate(WORKLOADS):
        trace = (i + 1) % 2
        p = run_bench(w, trace)
        assert p.returncode == 0, f"{w}: exit {p.returncode}\n{p.stdout[-2000:]}\n{p.stderr[-3000:]}"
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
        assert result["correct"] and result["failed"] == 0, f"{w}: {lines[0]}"
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        assert got == want[trace], f"{w} trace {trace}: printed {set(got) ^ set(want[trace])}"
        for line in lines[:-1]:
            assert "host" in json.loads(line), f"{w}: a line without the host: {line[:200]}"
        print(f"ok  {w} --trace {trace}: {len(got)} metrics, {result['attempted']} steps")


def check_metrics_doc() -> None:
    with open(os.path.join(HERE, "METRICS.md")) as f:
        doc = f.read()
    missing = [n for n, _, _ in layers.PER_LAYER if f"`{n}`" not in doc]
    assert not missing, f"METRICS.md does not describe {missing}"
    print(f"ok  METRICS.md describes all {len(layers.PER_LAYER)} per-layer metrics")


def check_fingerprint(spark) -> None:
    from pyspark.sql import functions as F

    df = spark.range(2000).selectExpr(
        "id", "id * 0.1 AS x", "CAST(id % 7 AS STRING) AS s", "IF(id % 5 = 0, NULL, id) AS n"
    )
    base = materialize(df, "fp_base")
    for variant in (df.repartition(7).orderBy(F.rand(3)), df.coalesce(1), df.orderBy(F.desc("id"))):
        assert materialize(variant, "fp_variant") == base, "fingerprint depends on order"
    changed = df.withColumn("x", F.when(F.col("id") == 3, 0.7).otherwise(F.col("x")))
    assert materialize(changed, "fp_changed")[1] != base[1], "fingerprint missed a change"
    print("ok  fingerprint is order- and partition-insensitive")


def check_standalone() -> None:
    """Only BENCHMARK.json and perfbench/: must fail fast, print no result."""
    lone = os.path.join(ROOT, ".perfbench", "standalone")
    shutil.rmtree(lone, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(lone, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), lone)
    try:
        p = run_bench("stateful_streams", 0, cwd=lone)
        assert p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout)
    finally:
        shutil.rmtree(lone, ignore_errors=True)
    print(f"ok  standalone copy exits {p.returncode} without a result")


def _session():
    import run

    sys.path.insert(0, ROOT)
    tmp = run.prepare_environment(2)
    run.keep_scratch_in(tmp)
    from nyc_taxi_etl_spark.session import get_spark

    return get_spark("perfbench-selftest", master="local[2]", extra_conf=run.session_conf(tmp))


def record(spark) -> None:
    import duckdb

    import inputs
    from nyc_taxi_etl_spark import plans

    queries = {**plans.QUERIES, **plans.QUERIES_EXTRA}
    oracles = {**plans.ORACLE, **plans.ORACLE_EXTRA}
    names = [n for entries, _ in CATALOG_WORKLOADS.values() for n in entries]
    tables = tuple(sorted({t for _, ts in CATALOG_WORKLOADS.values() for t in ts}))
    path = os.path.join(HERE, "expected.json")
    with open(path) as f:
        expected = json.load(f)
    root = os.path.join(ROOT, ".perfbench", "inputs")
    os.makedirs(root, exist_ok=True)
    for size in ("smoke", "full"):
        tdir = inputs.catalog_inputs(root, 0, size, tables)
        con = duckdb.connect()
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tdir}/{t}.parquet/*.parquet')")
        expected[size] = {}
        for name in names:
            df = queries[name](spark, tdir)
            rows, fp = materialize(df, "record")
            got = [tuple(r) for r in df.collect()]
            cur = con.execute(oracles[name])
            cols = [d[0] for d in cur.description]
            want = [tuple(r[cols.index(c)] for c in df.columns) for r in cur.fetchall()]
            assert rows_match(got, want, rel=1e-6), f"{size}/{name}: differs from its DuckDB oracle"
            expected[size][name] = {"rows": rows, "fp": fp}
            print(f"ok  {size}/{name}: {rows} rows match the DuckDB oracle, fp {fp}")
        con.close()
    with open(path, "w") as f:
        json.dump(expected, f, indent=2)
        f.write("\n")


def main() -> None:
    spark = _session()
    try:
        if "--record" in sys.argv:
            record(spark)
            return
        check_fingerprint(spark)
    finally:
        import run

        run.stop_jvm(spark)
        shutil.rmtree(os.environ["TMPDIR"], ignore_errors=True)
    check_metrics_doc()
    check_standalone()
    check_metric_names()


if __name__ == "__main__":
    main()
