"""Scaling rehearsal runner (VERDICT r5 task #1).

Times every benched catalog entry across multiple scale factors and
records per-entry wall time, result row count, and the growth exponent
alpha = log(T_hi / T_lo) / log(SF_hi / SF_lo) for each adjacent SF
pair. Results land in .scaledata/scaling_results.json; render
SCALING.md from them with tools/render_scaling.py.

Methodology mirrors bench.py r6: one warm session per SF, runs
interleaved round-robin across entries (one contended window degrades
one pass of many entries, recovered by the per-entry min), calibration
probe per pass, load averages recorded.

Usage:
  python tools/run_scaling.py --dirs sf0.01=/root/testdata/sf0.01 \
      sf0.1=/root/testdata/sf0.1 bsf1=/root/repo/.scaledata/sf1 \
      [--passes 3] [--entries a,b,c] [--out FILE] [--append]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_taxi_etl_spark.session import get_spark  # noqa: E402


def default_entries():
    import bench

    return [
        n
        for n in bench.HEADLINE + bench.EXTENSION
        if n in bench.CATALOG
    ]


def run_sf(spark, label: str, sf_dir: str, entries, passes: int) -> dict:
    from nyc_taxi_etl_spark.plans import CATALOG

    def probe() -> float:
        t0 = time.perf_counter()
        (
            spark.read.parquet(f"{sf_dir}/region.parquet")
            .groupBy("r_regionkey")
            .count()
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return time.perf_counter() - t0

    probe()  # warm-up, untimed
    samples = {n: [] for n in entries}
    calibration = []
    for _p in range(passes):
        calibration.append(round(probe(), 4))
        for name in entries:
            t0 = time.perf_counter()
            CATALOG[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            samples[name].append(time.perf_counter() - t0)
        print(
            f"  [{label}] pass {_p + 1}/{passes} done "
            f"(probe {calibration[-1]}s)",
            file=sys.stderr,
        )
    rows = {}
    for name in entries:
        try:
            rows[name] = CATALOG[name](spark, sf_dir).count()
        except Exception as exc:  # count failure shouldn't kill the run
            rows[name] = f"err: {exc}"[:120]
    return {
        "label": label,
        "dir": sf_dir,
        "passes": passes,
        "calibration_per_pass_s": calibration,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "min_s": {n: round(min(d), 3) for n, d in samples.items()},
        "median_s": {
            n: round(statistics.median(d), 3) for n, d in samples.items()
        },
        "rows": rows,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dirs", nargs="+", required=True,
                    metavar="LABEL=PATH")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--entries", default=None)
    ap.add_argument(
        "--out",
        default=os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            ".scaledata",
            "scaling_results.json",
        ),
    )
    ap.add_argument("--append", action="store_true",
                    help="merge into an existing results file")
    ap.add_argument(
        "--shuffle", type=int, default=None,
        help="shuffle partitions for this leg (default: CPU count). "
             "Size so post-shuffle partitions fit the heap: the sf1 "
             "leg's 2.3e8-row pair expansion needs >32.",
    )
    ap.add_argument(
        "--driver-mem", default=None,
        help="JVM heap for this leg (default SPARK_GRAFT_DRIVER_MEM "
             "or 8g). local[32] shares ONE heap across 32 executor "
             "threads — at sf1 that is 256 MB/task at the default, "
             "far below a real cluster's per-executor memory; 48g "
             "restores a cluster-realistic 1.5 GB/task.",
    )
    args = ap.parse_args()
    if args.driver_mem:
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = args.driver_mem
    entries = (
        args.entries.split(",") if args.entries else default_entries()
    )
    results = {}
    if args.append and os.path.exists(args.out):
        with open(args.out) as fh:
            results = json.load(fh)
    for spec in args.dirs:
        label, path = spec.split("=", 1)
        spark = get_spark(
            f"scaling-{label}",
            shuffle_partitions=args.shuffle,
            # the streaming entries drain through the in-memory sink (a
            # TEST harness for oracle comparison — production streams
            # write to real sinks); at sf10 the collected drain exceeds
            # the 1g default maxResultSize, which says nothing about
            # the operators' own plans
            extra_conf={
                "spark.driver.maxResultSize": "8g",
                # big-SF legs spill tens of GB of shuffle temp; keep it
                # out of /tmp (where a cleaner nuked a live blockmgr
                # dir mid-run on the first sf10 attempt) and on the
                # large volume
                "spark.local.dir": os.path.join(
                    os.path.dirname(args.out), "sparktmp"
                ),
            },
        )
        try:
            leg = run_sf(spark, label, path, entries, args.passes)
        finally:
            spark.stop()
        if args.entries and label in results:
            # re-measure of named entries after a fix: merge per-entry
            # stats into the existing leg instead of replacing it
            old = results[label]
            for sect in ("min_s", "median_s", "rows"):
                old[sect].update(leg[sect])
            old.setdefault("remeasured", []).extend(entries)
            old["calibration_per_pass_s"] += leg["calibration_per_pass_s"]
        else:
            results[label] = leg
        os.makedirs(os.path.dirname(args.out), exist_ok=True)
        with open(args.out, "w") as fh:
            json.dump(results, fh, indent=1)
        print(f"[{label}] recorded -> {args.out}", file=sys.stderr)


if __name__ == "__main__":
    main()
