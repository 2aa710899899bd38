"""Per-query profiling harness for the optimization rounds.

For each requested catalog entry: time plan construction (Python +
Catalyst analysis), time N noop-sink materializations in a warm
session, count Spark jobs/stages the materialization schedules, and
optionally dump ``explain('formatted')`` to a file.

Usage:
    python tools/profile_query.py q1,q2,...  [--plans-dir plans/r10] \
        [--runs 3] [--suffix before]

Prints one JSON line per query:
    {"name":..., "build_s":..., "runs":[...], "min_s":...,
     "jobs":N, "stages":N, "tasks":N, "compiles":N,
     "jvm_child_cpu_s":..., "py_worker_cpu_s":...}

``compiles`` (classes Janino compiled: the ``CodegenMetrics`` count)
and ``jvm_child_cpu_s`` (CPU of the processes the JVM forked and
reaped, e.g. the ``chmod`` calls of the local file system when no
native Hadoop library is loaded: ``cutime + cstime`` from
``/proc/<jvm>/stat``) cover the plan build and every run. They show
two fixed-cost classes a wall-time profile hides. ``py_worker_cpu_s``
(CPU of the Python daemon and workers under the JVM: each live Python
process's ``utime + stime`` plus the ``cutime + cstime`` of the workers
it reaped) covers the same span; ``jvm_child_cpu_s`` cannot see it,
because the JVM never reaps the daemon while the session lives.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_taxi_etl_spark.plans import QUERIES, QUERIES_EXTRA  # noqa: E402
from nyc_taxi_etl_spark.session import get_spark  # noqa: E402

ALL = {**QUERIES, **QUERIES_EXTRA}


def _stat(pid: int) -> tuple[str, list[str]]:
    """``(comm, fields 3..)`` of ``/proc/<pid>/stat``."""
    with open(f"/proc/{pid}/stat") as f:
        data = f.read()
    return data[data.find("(") + 1 : data.rfind(")")], data[data.rfind(")") + 2 :].split()


def jvm_child_cpu_s(pid: int) -> float:
    """CPU seconds of the reaped children of process ``pid``."""
    rest = _stat(pid)[1]
    # fields 16-17 of proc(5): cutime, cstime
    return (int(rest[13]) + int(rest[14])) / os.sysconf("SC_CLK_TCK")


def py_worker_cpu_s(jvm: int) -> float:
    """CPU seconds of the live Python processes under process ``jvm``
    (the worker daemon and its workers), each with the children it
    reaped (fields 14-17 of proc(5): utime, stime, cutime, cstime)."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                comm, rest = _stat(int(name))
            except OSError:  # the process ended while we looked
                continue
            procs[int(name)] = (int(rest[1]), comm, sum(int(x) for x in rest[11:15]))
    tree, frontier = set(), [jvm]
    while frontier:
        parent = frontier.pop()
        kids = [p for p, (pp, _, _) in procs.items() if pp == parent]
        tree.update(kids)
        frontier += kids
    ticks = sum(procs[p][2] for p in tree if procs[p][1].startswith("python"))
    return ticks / os.sysconf("SC_CLK_TCK")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names")
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--suffix", default="before")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile")
    sc = spark.sparkContext
    jvm_pid = sc._gateway.proc.pid
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    spark.range(1000).selectExpr("sum(id)").collect()  # warm-up

    names = [n for n in args.names.split(",") if n]
    if names == ["ALL"]:
        names = sorted(ALL)
    for name in names:
        if name not in ALL:
            print(json.dumps({"name": name, "error": "unknown"}))
            continue
        compiles0 = codegen.METRIC_COMPILATION_TIME().getCount()
        child0 = jvm_child_cpu_s(jvm_pid)
        py0 = py_worker_cpu_s(jvm_pid)
        t0 = time.perf_counter()
        df = ALL[name](spark, sf_dir)
        build_s = time.perf_counter() - t0

        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            with open(
                os.path.join(args.plans_dir, f"{name}_{args.suffix}.txt"), "w"
            ) as fh:
                fh.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                ))

        tracker = sc.statusTracker()
        runs = []
        jobs_before = None
        for i in range(args.runs):
            if i == args.runs - 1:
                jobs_before = set(tracker.getJobIdsForGroup() or [])
                sc.setJobGroup(f"profile_{name}", name)
            t0 = time.perf_counter()
            # rebuild the plan each run like bench.py does NOT — bench
            # rebuilds per pass; keep identical per-run cost by reusing
            # the df (bench timing includes build; we report separately)
            df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 4))
        jobs = tracker.getJobIdsForGroup(f"profile_{name}")
        n_stages = 0
        n_tasks = 0
        for jid in jobs:
            ji = tracker.getJobInfo(jid)
            if ji is None:
                continue
            for sid in ji.stageIds:
                si = tracker.getStageInfo(sid)
                if si is not None:
                    n_stages += 1
                    n_tasks += si.numTasks
        sc.setJobGroup(None, None)
        print(
            json.dumps(
                {
                    "name": name,
                    "build_s": round(build_s, 4),
                    "runs": runs,
                    "min_s": min(runs),
                    "jobs": len(jobs),
                    "stages": n_stages,
                    "tasks": n_tasks,
                    "compiles": (
                        codegen.METRIC_COMPILATION_TIME().getCount() - compiles0
                    ),
                    "jvm_child_cpu_s": round(
                        jvm_child_cpu_s(jvm_pid) - child0, 3
                    ),
                    "py_worker_cpu_s": round(py_worker_cpu_s(jvm_pid) - py0, 3),
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
