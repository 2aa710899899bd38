"""Benchmark driver: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout of the repository. It

1. makes the workload's inputs from ``--seed`` (cached under
   ``.perfbench/`` next to this directory, and not part of set-up);
2. sets the session up ``SETUPS`` times — ``session.get_spark``, source
   registration, a warm-up query — the first time from a cold JVM,
   then again after each ``spark.stop()`` on the live JVM;
3. runs one cold iteration, then warm iterations until ``--seconds``
   have passed and at least ``MIN_WARM`` ran;
4. checks every output of every iteration and prints one JSON line:
   ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
   the metrics are the end-to-end ones, with ``--trace 1`` the
   per-layer ones (see ``METRICS.md``).

Every other line it prints is a JSON record that carries the host
(cores, master, default parallelism, load average before and after,
Spark and Python versions). The spans of the run are written to
``.perfbench/traces/``. It exits 1 if any output was wrong and 2 if the
engine is not next to it.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
MIN_WARM = 3
SETUPS = 4
DRIVER_MEM = "1g"

sys.path.insert(0, HERE)


def parse_args(argv=None) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--size",
        choices=("full", "smoke"),
        default="full",
        help="input size; 'smoke' is the self-test's few-second run",
    )
    return ap.parse_args(argv)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by this process, the JVM ``root`` and
    every live descendant of it (the Python workers). Children reaped
    by a process in the tree stay counted in its ``cutime``/``cstime``,
    so the sum only grows while the tree lives."""
    stats = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                data = f.read()
        except OSError:  # the process ended while we looked
            continue
        rest = data[data.rfind(")") + 2:].split()
        # fields 4 (ppid) and 14-17 (utime, stime, cutime, cstime)
        stats[int(name)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    tree, frontier = {root}, [root]
    while frontier:
        parent = frontier.pop()
        kids = [p for p, (pp, _) in stats.items() if pp == parent and p not in tree]
        tree.update(kids)
        frontier += kids
    ticks = sum(stats[p][1] for p in tree | {os.getpid()} if p in stats)
    return ticks / os.sysconf("SC_CLK_TCK")


def prepare_environment(cores: int) -> str:
    """Pin the engine's knobs explicitly and keep every file the run
    writes inside the checkout. Returns the temp root."""
    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # every JVM, the launcher's too: temp files here, no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers start from the JVM's cwd; they must import the engine
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return tmp


def keep_scratch_in(tmp: str) -> None:
    """The catalog's stream drains put their checkpoints on /dev/shm;
    redirect them to the run's temp root so the benchmark writes only
    inside its checkout."""
    from nyc_taxi_etl_spark.sources import scratch

    scratch.scratch_dir = lambda prefix: tempfile.mkdtemp(prefix=prefix, dir=tmp)


def make_inputs(workload: str, seed: int, size: str) -> dict:
    import inputs
    from workloads import CATALOG_WORKLOADS

    root = os.path.join(WORK, "inputs")
    os.makedirs(root, exist_ok=True)
    if workload == "taxi_etl":
        return inputs.taxi_inputs(root, seed, size)
    tables = CATALOG_WORKLOADS[workload][1]
    return {"tables": inputs.catalog_inputs(root, seed, size, tables), "names": tables}


def register_sources(spark, workload: str, data: dict) -> None:
    """Resolve every input relation once (file listing, footers,
    schema), as a session user does before querying."""
    if workload == "taxi_etl":
        for path in data["raw"].values():
            spark.read.parquet(path).schema
        return
    from nyc_taxi_etl_spark.sources.catalog import load_table

    for name in data["names"]:
        load_table(spark, data["tables"], name).schema


def warm_up(spark) -> None:
    spark.range(1 << 16).selectExpr("id % 7 AS k").groupBy("k").count().write.format(
        "noop"
    ).mode("overwrite").save()


def session_conf(tmp: str) -> dict[str, str]:
    """Spark settings the benchmark adds to the engine's session."""
    return {
        # a fixed, pre-touched heap, so peak RSS does not follow GC
        # heap-growth heuristics; C1 only, because with C2 the JIT keeps
        # compiling on one to two of the host's cores for minutes, so
        # the warm iterations of a one-minute run are neither warm nor
        # alike
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1"
        ),
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def set_up(workload: str, data: dict, cores: int, tmp: str, t0=None, spark=None):
    """One session set-up, timed from ``t0`` (default: after stopping
    ``spark``). A set-up on the live JVM of ``spark`` also reports the
    CPU time it took. Returns (spark, timings)."""
    from nyc_taxi_etl_spark.session import get_spark

    jvm = None
    if spark is not None:
        jvm = spark.sparkContext._gateway.proc.pid
        spark.stop()
        cpu = tree_cpu_s(jvm)
    a = time.perf_counter()
    t0 = a if t0 is None else t0
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=session_conf(tmp))
    b = time.perf_counter()
    register_sources(spark, workload, data)
    c = time.perf_counter()
    warm_up(spark)
    d = time.perf_counter()
    timings = {"total_s": d - t0, "get_spark_s": b - a, "register_s": c - b, "warmup_s": d - c}
    if jvm is not None:
        timings["cpu_s"] = tree_cpu_s(jvm) - cpu
    return spark, timings


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args: argparse.Namespace) -> int:
    if not os.path.isfile(os.path.join(ROOT, "nyc_taxi_etl_spark", "__init__.py")):
        print("perfbench: the engine package nyc_taxi_etl_spark is not next to perfbench/",
              file=sys.stderr)
        return 2
    cores = host_cores()
    load_before = loadavg()
    tmp = prepare_environment(cores)
    try:
        return measure(args, cores, load_before, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def measure(args: argparse.Namespace, cores: int, load_before: list[float], tmp: str) -> int:
    t = time.perf_counter()
    data = make_inputs(args.workload, args.seed, args.size)
    inputs_s = time.perf_counter() - t

    # set-up 1 runs from process start, less the input generation
    t0 = T_START + inputs_s
    import pyspark

    sys.path.insert(0, ROOT)
    keep_scratch_in(tmp)
    import layers
    from spans import Tracer
    from workloads import Context, load_expected, run_steps, steps_per_iteration

    spark, first = set_up(args.workload, data, cores, tmp, t0)
    setups = [first]
    for _ in range(SETUPS - 1):
        spark, s = set_up(args.workload, data, cores, tmp, spark=spark)
        setups.append(s)

    tracer = Tracer(enabled=bool(args.trace))
    tracer.attach(spark)
    work = os.path.join(tmp, "work")
    os.makedirs(work)
    ctx = Context(spark, tracer, work, data, expected=load_expected().get(args.size, {}))

    jvm_pid = spark.sparkContext._gateway.proc.pid
    walls, cpus, traced, failures = [], [], [], []
    attempted = failed = 0
    deadline = None
    it = 0
    while True:
        # traced runs alternate traced and untraced warm iterations
        tracer.active = bool(args.trace) and (it == 0 or it % 2 == 1)
        tracer.iteration = it
        cpu = tree_cpu_s(jvm_pid)
        a = time.perf_counter()
        outcomes = run_steps(args.workload, ctx)
        wall = time.perf_counter() - a
        cpus.append(tree_cpu_s(jvm_pid) - cpu)
        n = steps_per_iteration(args.workload)
        problems = [(o.step, o.check()) for o in outcomes]
        attempted += n
        failed += n - sum(not p for _, p in problems)
        failures += [f"it{it}:{step}: {p}" for step, p in problems if p]
        walls.append(wall)
        traced.append(tracer.active)
        it += 1
        if deadline is None:
            deadline = time.perf_counter() + args.seconds
            continue
        warm = len(walls) - 1
        if time.perf_counter() >= deadline and warm >= MIN_WARM:
            break

    peak_rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)
    default_par = spark.sparkContext.defaultParallelism
    master = spark.sparkContext.master
    tracer.close(spark)
    stop_jvm(spark)

    host = {
        "nproc": cores,
        "master": master,
        "defaultParallelism": default_par,
        "driver_mem": DRIVER_MEM,
        "loadavg_before": load_before,
        "loadavg_after": loadavg(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }
    warm_cpus = [c for c, tr in zip(cpus[1:], traced[1:]) if not tr] or cpus[-1:]
    e2e = {
        "setup_s": (statistics.median(s["cpu_s"] for s in setups[1:]), "s"),
        "cpu_s": (statistics.median(warm_cpus), "s"),
        "peak_rss_mb": (peak_rss, "MB"),
    }
    walls_s = {
        "cold_wall_s": (walls[0], "s"),
        "wall_s": (layers.warm_wall_s(walls, traced), "s"),
    }
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    trace_path = os.path.join(
        WORK, "traces", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    header = {"workload": args.workload, "seed": args.seed, "host": host, "setups": setups,
              "walls": walls, "cpus": cpus, "traced": traced}
    tracer.dump(trace_path, header)
    summary = {
        "host": host,
        "workload": args.workload,
        "seed": args.seed,
        "size": args.size,
        "trace": args.trace,
        "inputs_s": round(inputs_s, 3),
        "setups_s": [round(s["total_s"], 3) for s in setups],
        "setups_cpu_s": [round(s["cpu_s"], 2) for s in setups[1:]],
        "iteration_walls_s": [round(w, 3) for w in walls],
        "iteration_cpu_s": [round(c, 2) for c in cpus],
        "fail_frac": failed / attempted,
        "failures": failures[:20],
        "trace_file": os.path.relpath(trace_path, ROOT),
        **{k: {"value": v, "unit": u} for k, (v, u) in {**e2e, **walls_s}.items()},
    }
    print(json.dumps(summary), flush=True)

    if args.trace:
        metrics = layers.per_layer(tracer.spans, walls, traced, setups, tracer.cores)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if failed == 0 else 1


def main() -> None:
    sys.exit(run(parse_args()))


if __name__ == "__main__":
    main()
