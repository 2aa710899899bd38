"""JSONL source/sink: round-trip vs parquet, corrupt-line capture,
parse audit, deterministic globally-ordered shards."""

from __future__ import annotations

import glob
import hashlib
import json

from pyspark.sql import functions as F

from nyc_taxi_etl_spark.sources.catalog import load_table
from nyc_taxi_etl_spark.sources.jsonl import (
    export_jsonl,
    jsonl_parse_audit,
    read_jsonl,
)

from .conftest import SF_DIR

DOC_SCHEMA = "doc_id bigint, source string, lang string, text string"


def _docs(spark):
    return load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "lang", "text"
    )


def test_jsonl_round_trip(spark, tmp_path):
    docs = _docs(spark)
    path = str(tmp_path / "dump")
    export_jsonl(docs, path, num_shards=4)
    back = read_jsonl(spark, path, DOC_SCHEMA)
    assert back.filter(F.col("_corrupt_record").isNotNull()).count() == 0
    a = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    b = (
        back.drop("_corrupt_record")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)[a.columns.tolist()]
    )
    assert a.equals(b)


def test_corrupt_lines_captured_not_dropped(spark, tmp_path):
    p = tmp_path / "mixed.jsonl"
    p.write_text(
        json.dumps({"doc_id": 1, "source": "s", "lang": "en", "text": "ok"})
        + "\n"
        + "{this is not json\n"
        + "\n"  # blank line: dropped, not corrupt
        + json.dumps({"doc_id": 2, "source": "s", "lang": "en", "text": "fine"})
        + "\n"
    )
    df = read_jsonl(spark, str(p), DOC_SCHEMA)
    audit = jsonl_parse_audit(df).collect()[0]
    assert (audit.n_rows, audit.n_good, audit.n_corrupt) == (3, 2, 1)
    bad = df.filter(F.col("_corrupt_record").isNotNull()).collect()
    assert len(bad) == 1 and bad[0]._corrupt_record.startswith("{this")
    good = {r.doc_id for r in df.filter(F.col("_corrupt_record").isNull()).collect()}
    assert good == {1, 2}


def test_jsonl_shards_globally_ordered(spark, tmp_path):
    """Shard files hold contiguous, disjoint ranges of the md5 order
    key, and lines are sorted within each shard — the same layout
    contract as the parquet exporter."""
    docs = _docs(spark)
    path = str(tmp_path / "sharded")
    export_jsonl(docs, path, seed=1, num_shards=4)

    def order_key(line: str) -> str:
        did = json.loads(line)["doc_id"]
        return hashlib.md5(f"shuffle:1:{did}".encode()).hexdigest()

    ranges = []
    n_total = 0
    for f in sorted(glob.glob(path + "/part-*")):
        keys = [order_key(l) for l in open(f) if l.strip()]
        if not keys:
            continue
        assert keys == sorted(keys), f
        ranges.append((keys[0], keys[-1]))
        n_total += len(keys)
    assert n_total == docs.count()
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo  # disjoint, globally ordered across shards


def test_unshuffled_export_shard_count(spark, tmp_path):
    docs = _docs(spark)
    path = str(tmp_path / "plain")
    export_jsonl(docs, path, num_shards=2, shuffled=False)
    files = [f for f in glob.glob(path + "/part-*")]
    assert len(files) <= 2
    n = sum(1 for f in files for l in open(f) if l.strip())
    assert n == docs.count()


def test_unshuffled_export_grows_to_num_shards(spark, tmp_path):
    """``num_shards`` above the frame's partition count still gives
    exactly that many shards — a coalesce alone would leave 4."""
    df = spark.range(400, numPartitions=4).selectExpr(
        "id AS doc_id", "CAST(id AS STRING) AS text"
    )
    path = str(tmp_path / "grown")
    export_jsonl(df, path, num_shards=8, shuffled=False)
    files = glob.glob(path + "/part-*")
    assert len(files) == 8
    assert sum(1 for f in files for l in open(f) if l.strip()) == 400
