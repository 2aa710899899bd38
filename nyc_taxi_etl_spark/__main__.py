"""Command-line surface: ``python -m nyc_taxi_etl_spark <cmd>``.

Mirrors the reference's operational entry points —
``spark-submit spark_jobs/etl_yellow_s3.py --input-base … --year …``
and ``analytics_yellow_s3.py --from-year …`` (SURVEY §3.1/§3.2) —
as subcommands of one module, running on the engine's session factory
(AQE on, UTC) instead of per-script session builders:

  etl        raw per-cab parquet → unified clean curated table
  query      run a named catalog query; print or write parquet/CSV
  queries    list the catalog (driver window first, then the overflow)
  report     render the HTML/SVG dashboard
  prepare    run the training-corpus pipeline end-to-end
  table      versioned-table maintenance: versions/compact/vacuum/expire

Exit code 0/1 matches the reference's job contract
(``etl_yellow_s3.py:78``).
"""

from __future__ import annotations

import argparse
import json
import sys


def _session(app: str):
    from .session import get_spark

    return get_spark(app)


def cmd_etl(args) -> int:
    from .etl import run_etl

    raw_paths = dict(kv.split("=", 1) for kv in args.raw)
    spark = _session("etl")
    try:
        res = run_etl(spark, raw_paths, args.output)
        print(
            json.dumps(
                {
                    "rows_in": res.rows_in,
                    "rows_out": res.rows_out,
                    "curated_path": res.curated_path,
                }
            )
        )
        return 0
    finally:
        spark.stop()


def cmd_query(args) -> int:
    from .plans import CATALOG

    if args.name not in CATALOG:
        print(f"unknown query {args.name!r}; see `queries`", file=sys.stderr)
        return 1
    spark = _session(f"query-{args.name}")
    try:
        df = CATALOG[args.name](spark, args.sf_dir)
        if args.out:
            from .sources.sinks import write_csv, write_parquet

            if args.format == "csv":
                write_csv(df, args.out)
            else:
                write_parquet(df, args.out)
            print(args.out)
        else:
            df.show(args.limit, truncate=False)
        return 0
    finally:
        spark.stop()


def cmd_explain(args) -> int:
    """Print a catalog query's physical plan — the plan-inspection
    loop (`.explain("formatted")`) as an operational command, so scale
    review (pushed filters, exchange count, codegen spans, broadcast
    choices) doesn't need a notebook."""
    from .plans import CATALOG

    if args.name not in CATALOG:
        print(f"unknown query {args.name!r}; see `queries`", file=sys.stderr)
        return 1
    spark = _session(f"explain-{args.name}")
    try:
        df = CATALOG[args.name](spark, args.sf_dir)
        df.explain(args.mode)
        return 0
    finally:
        spark.stop()


def cmd_queries(_args) -> int:
    from .plans import CATALOG, DRIVER_WINDOW, ORACLES

    for name in CATALOG:
        kind = "oracle" if name in ORACLES else "rows-only"
        tag = "" if name in DRIVER_WINDOW else "\toverflow"
        print(f"{name}\t{kind}{tag}")
    return 0


def cmd_report(args) -> int:
    from .report import build_report

    spark = _session("report")
    try:
        print(build_report(spark, args.sf_dir, args.out))
        return 0
    finally:
        spark.stop()


def cmd_prepare(args) -> int:
    from .operators.pipeline import prepare_training_corpus
    from .sources.catalog import load_table

    spark = _session("prepare")
    try:
        docs = load_table(spark, args.sf_dir, "documents")
        chunks = prepare_training_corpus(
            docs,
            output_path=args.out,
            quality_threshold=args.quality,
            jaccard_threshold=args.jaccard,
            chunk_tokens=args.chunk_tokens,
            chunk_overlap=args.overlap,
            seed=args.seed,
            num_shards=args.shards,
            classifier_min_prob=args.classifier_min_prob,
            collapse_repeats=args.collapse_repeats,
            budget_tokens=args.budget_tokens,
            output_format=args.format,
            gopher_gate=args.gopher_gate,
            c4_clean=args.c4_clean,
            passage_dedup_k=args.passage_dedup_k,
            cap_per=(
                (args.cap_per.split("=")[0], int(args.cap_per.split("=")[1]))
                if args.cap_per
                else None
            ),
            weighted_k=args.weighted_k,
        )
        from pyspark.sql import functions as F

        stats = {
            r["split"]: r["n"]
            for r in chunks.groupBy("split")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        print(json.dumps({"output": args.out, "chunks_per_split": stats}))
        return 0
    finally:
        spark.stop()


def cmd_table(args) -> int:
    """Versioned-table maintenance: versions / compact / vacuum /
    expire (``sources/versioned.py``). Only ``compact`` needs a Spark
    session; the metadata actions run on the commit log alone."""
    from .sources.versioned import VersionedTable

    if args.action in ("compact", "changes", "delete", "index", "lookup"):
        spark = _session(f"table-{args.action}")
        try:
            t = VersionedTable(spark, args.root)
            if args.action == "compact":
                cluster = (
                    args.cluster_by.split(",") if args.cluster_by else None
                )
                v = t.compact(
                    target_files=args.target_files, cluster_by=cluster
                )
                print(json.dumps({"compacted_to_version": v,
                                  "clustered_by": cluster}))
            elif args.action == "changes":
                out = t.table_changes(
                    args.keys.split(","), args.from_version, args.to_version
                )
                for row in out.toJSON().toLocalIterator():
                    print(row)
            elif args.action == "delete":
                v = t.delete_where(args.where)
                print(json.dumps({"deleted_to_version": v}))
            elif args.action == "index":
                from .sources.bloom_index import build_bloom_index

                n = build_bloom_index(t, args.column, fpp=args.fpp)
                print(json.dumps({"files_indexed": n, "column": args.column}))
            else:  # lookup
                from .sources.bloom_index import bloom_prune, read_eq

                kept, skipped = bloom_prune(t, args.column, args.value)
                rows = read_eq(t, args.column, args.value).count()
                print(json.dumps({
                    "files_scanned": len(kept),
                    "files_skipped": len(skipped),
                    "rows": rows,
                }))
            return 0
        finally:
            spark.stop()
    t = VersionedTable(None, args.root)
    if args.action == "versions":
        out = [
            {k: t._read_commit(v).get(k)
             for k in ("version", "operation", "schema_evolved")}
            for v in t.versions()
        ]
        print(json.dumps(out))
    elif args.action == "vacuum":
        print(json.dumps({"removed": t.vacuum()}))
    elif args.action == "expire":
        print(json.dumps({"expired": t.expire_versions(args.keep_last)}))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="nyc_taxi_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pe = sub.add_parser("etl", help="raw → curated ETL")
    pe.add_argument(
        "--raw",
        nargs="+",
        required=True,
        metavar="CAB=PATH",
        help="cab_type=parquet-path pairs (e.g. yellow=/data/raw/yellow)",
    )
    pe.add_argument("--output", required=True)
    pe.set_defaults(fn=cmd_etl)

    pq = sub.add_parser("query", help="run one catalog query")
    pq.add_argument("name")
    pq.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    pq.add_argument("--out", default=None)
    pq.add_argument("--format", choices=["parquet", "csv"], default="parquet")
    pq.add_argument("--limit", type=int, default=20)
    pq.set_defaults(fn=cmd_query)

    pl = sub.add_parser("queries", help="list the catalog")
    pl.set_defaults(fn=cmd_queries)

    px = sub.add_parser("explain", help="print a catalog query's plan")
    px.add_argument("name")
    px.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    px.add_argument("--mode", default="formatted",
                    choices=["simple", "extended", "formatted", "cost"])
    px.set_defaults(fn=cmd_explain)

    pr = sub.add_parser("report", help="render the HTML dashboard")
    pr.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    pr.add_argument("--out", default="report.html")
    pr.set_defaults(fn=cmd_report)

    pp = sub.add_parser(
        "prepare", help="training-corpus pipeline: curate → shards"
    )
    pp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    pp.add_argument("--out", required=True)
    pp.add_argument("--quality", type=float, default=0.5)
    pp.add_argument("--jaccard", type=float, default=0.5)
    pp.add_argument("--chunk-tokens", type=int, default=128)
    pp.add_argument("--overlap", type=int, default=0)
    pp.add_argument("--seed", type=int, default=0)
    pp.add_argument("--shards", type=int, default=8)
    pp.add_argument("--classifier-min-prob", type=float, default=None)
    pp.add_argument("--collapse-repeats", action="store_true")
    pp.add_argument("--budget-tokens", type=int, default=None)
    pp.add_argument("--gopher-gate", action="store_true")
    pp.add_argument("--c4-clean", action="store_true")
    pp.add_argument("--passage-dedup-k", type=int, default=None)
    pp.add_argument("--cap-per", default=None,
                    help="per-key quota 'col=N' (e.g. source=5)")
    pp.add_argument("--weighted-k", type=int, default=None,
                    help="quality-weighted subsample size after curation")
    pp.add_argument(
        "--format", choices=["parquet", "jsonl"], default="parquet"
    )
    pp.set_defaults(fn=cmd_prepare)

    pt = sub.add_parser(
        "table", help="versioned-table maintenance (commit-log parquet)"
    )
    pt.add_argument(
        "action",
        choices=["versions", "compact", "vacuum", "expire", "changes",
                 "delete", "index", "lookup"],
    )
    pt.add_argument("--root", required=True)
    pt.add_argument("--target-files", type=int, default=None)
    pt.add_argument("--cluster-by", default=None,
                    help="comma-separated z-order columns for compact")
    pt.add_argument("--keep-last", type=int, default=1)
    pt.add_argument("--keys", default=None,
                    help="comma-separated key columns for changes")
    pt.add_argument("--from-version", type=int, default=None)
    pt.add_argument("--to-version", type=int, default=None)
    pt.add_argument("--where", default=None,
                    help="SQL predicate for delete")
    pt.add_argument("--column", default=None,
                    help="column for bloom index/lookup")
    pt.add_argument("--value", default=None,
                    help="probe value for lookup")
    pt.add_argument("--fpp", type=float, default=0.01)
    pt.set_defaults(fn=cmd_table)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
