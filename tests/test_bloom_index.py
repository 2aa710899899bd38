"""Bloom-filter file index: no false negatives ever, real skipping on
point lookups, conservative behavior for unindexed appends, and
sidecar cleanup on vacuum."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nyc_taxi_etl_spark.sources.bloom_index import (
    bloom_prune,
    build_bloom_index,
    read_eq,
)
from nyc_taxi_etl_spark.sources.catalog import load_table
from nyc_taxi_etl_spark.sources.versioned import VersionedTable

from .conftest import SF_DIR


@pytest.fixture()
def doc_table(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "n_chars"
    )
    t = VersionedTable(spark, str(tmp_path / "docs"))
    # several files so skipping is observable
    t.write(docs.repartition(8))
    return t


def test_point_lookup_equals_full_filter_and_skips(spark, doc_table):
    n = build_bloom_index(doc_table, "doc_id")
    assert n == 8
    probe_ids = [r.doc_id for r in doc_table.read().limit(40).collect()][::7]
    skipped_any = False
    for pid in probe_ids:
        kept, skipped = bloom_prune(doc_table, "doc_id", pid)
        expect = doc_table.read().filter(F.col("doc_id") == pid).collect()
        got = read_eq(doc_table, "doc_id", pid).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, expect))
        assert len(got) >= 1  # no false negatives: the row is found
        skipped_any = skipped_any or len(skipped) > 0
    # a 500-doc id domain across 8 files at 1% fpp: lookups must skip
    assert skipped_any


def test_absent_key_skips_everything(spark, doc_table):
    build_bloom_index(doc_table, "doc_id")
    kept, skipped = bloom_prune(doc_table, "doc_id", 10_000_000)
    # 1% fpp per file, 8 files: expect ~0 kept; allow 2 false positives
    assert len(kept) <= 2
    assert read_eq(doc_table, "doc_id", 10_000_000).count() == 0


def test_unindexed_append_is_conservative_then_indexable(spark, doc_table):
    build_bloom_index(doc_table, "doc_id")
    extra = spark.createDataFrame(
        [(999_001, "appended", 10)], ["doc_id", "source", "n_chars"]
    )
    doc_table.append(extra)
    # not yet indexed: the new directory's file must be kept
    kept, _ = bloom_prune(doc_table, "doc_id", 999_001)
    assert any(kept)
    assert read_eq(doc_table, "doc_id", 999_001).count() == 1
    # idempotent re-index touches only the new directory (1 new file)
    assert build_bloom_index(doc_table, "doc_id") == 1
    # now an absent probe can also skip the appended file
    kept2, skipped2 = bloom_prune(doc_table, "doc_id", 10_000_000)
    assert len(kept2) <= 2
    assert read_eq(doc_table, "doc_id", 999_001).count() == 1


def test_string_column_index(spark, doc_table):
    build_bloom_index(doc_table, "source")
    src = doc_table.read().select("source").first().source
    got = read_eq(doc_table, "source", src).count()
    expect = doc_table.read().filter(F.col("source") == src).count()
    assert got == expect > 0


def test_vacuum_removes_orphan_sidecars(spark, doc_table):
    build_bloom_index(doc_table, "doc_id")
    idx_dir = os.path.join(doc_table.root, "_index")
    assert len(os.listdir(idx_dir)) == 1
    doc_table.compact()  # old dir still referenced by v0 → sidecar stays
    build_bloom_index(doc_table, "doc_id")
    assert len(os.listdir(idx_dir)) == 2
    doc_table.expire_versions(keep_last=1)  # v0's dir vacuumed
    assert len(os.listdir(idx_dir)) == 1


@pytest.mark.parametrize("rewrite", ["compact", "upsert", "write_partitioned"])
def test_point_lookup_after_a_rewrite_matches_full_filter(spark, tmp_path, rewrite):
    """Every commit records the schema, so after any rewrite the probe
    literal is still cast to the column's bigint and hashes like the
    stored keys: present keys are found, absent ones are not."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    rows = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 4).cast("string").alias("part")
    )
    t.write(rows.repartition(4))
    if rewrite == "compact":
        t.compact()
    elif rewrite == "upsert":
        t.upsert(rows.filter(F.col("doc_id") < 10), ["doc_id"])
    else:
        t.write_partitioned(rows, "part")
    build_bloom_index(t, "doc_id")
    for key in (1, 17, 500, 999, 5000):
        want = t.read().filter(F.col("doc_id") == key).collect()
        assert sorted(read_eq(t, "doc_id", key).collect()) == sorted(want)
        assert len(want) == (key < 1000)
