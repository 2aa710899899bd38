"""Versioned parquet table: atomic commits, sequential upserts,
time travel, crash-between-merges replay, conflict detection, vacuum."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from nyc_taxi_etl_spark.sources.versioned import VersionedTable


def _rows(df):
    return {
        (r["k"], r["val"], r["ver"]) for r in df.select("k", "val", "ver").collect()
    }


@pytest.fixture()
def table(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)], ["k", "val", "ver"]
    )
    assert t.write(base) == 0
    return t


def test_sequential_upserts_and_time_travel(spark, table):
    u1 = spark.createDataFrame([(2, "b2", 2), (4, "d", 2)], ["k", "val", "ver"])
    u2 = spark.createDataFrame([(1, "a3", 3), (2, "b3", 3)], ["k", "val", "ver"])
    assert table.upsert(u1, keys=["k"], version_col="ver") == 1
    assert table.upsert(u2, keys=["k"], version_col="ver") == 2

    assert _rows(table.read()) == {
        (1, "a3", 3), (2, "b3", 3), (3, "c", 1), (4, "d", 2)
    }
    # time travel: every prior snapshot intact
    assert _rows(table.read(version=0)) == {(1, "a", 1), (2, "b", 1), (3, "c", 1)}
    assert _rows(table.read(version=1)) == {
        (1, "a", 1), (2, "b2", 2), (3, "c", 1), (4, "d", 2)
    }
    assert table.versions() == [0, 1, 2]


def test_stale_version_loses_to_fresh_merge(spark, table):
    # version-column semantics through the table API: a late-arriving
    # LOWER version must not clobber a newer row
    table.upsert(
        spark.createDataFrame([(1, "new", 5)], ["k", "val", "ver"]),
        keys=["k"],
        version_col="ver",
    )
    table.upsert(
        spark.createDataFrame([(1, "stale", 2)], ["k", "val", "ver"]),
        keys=["k"],
        version_col="ver",
    )
    assert (1, "new", 5) in _rows(table.read())


def test_crash_between_merges_is_invisible_and_replayable(spark, table):
    u = spark.createDataFrame([(3, "c2", 2)], ["k", "val", "ver"])
    before = _rows(table.read())

    # simulate a crash AFTER the merge wrote its data directory but
    # BEFORE the commit record was published
    merged = table.read()
    orphan_rel = table._write_data_dir(merged.withColumn("val", F.lit("torn")))
    assert os.path.isdir(os.path.join(table.root, orphan_rel))

    # readers are unaffected: the orphan is unpublished
    assert _rows(table.read()) == before
    assert table.latest_version() == 0

    # restart: simply re-run the upsert — lands as version 1
    assert table.upsert(u, keys=["k"], version_col="ver") == 1
    got = _rows(table.read())
    assert (3, "c2", 2) in got and not any(v == "torn" for (_, v, _) in got)

    # vacuum reclaims exactly the orphan, never live data
    removed = table.vacuum()
    assert removed == [orphan_rel]
    assert _rows(table.read()) == got
    assert _rows(table.read(version=0)) == before


def test_concurrent_publish_conflict_detected(spark, table):
    # two writers race version 1: the second atomic link must fail
    # loudly, leaving the winner's commit untouched
    table._publish(1, {"version": 1, "operation": "upsert", "active":
                       table._active_dirs(0)})
    with pytest.raises(RuntimeError, match="conflict"):
        table._publish(1, {"version": 1, "operation": "upsert", "active": []})
    assert table._active_dirs(1) == table._active_dirs(0)


def test_empty_table_read_raises(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "empty"))
    with pytest.raises(FileNotFoundError):
        t.read()


def test_streaming_cdc_into_versioned_table(spark, tmp_path):
    # foreachBatch lakehouse-upsert: stream files land over time, each
    # micro-batch merges keep-latest into the versioned table; a second
    # drain of overlapping (corrected) data converges, and every state
    # is time-travelable
    from nyc_taxi_etl_spark.sources.catalog import load_table
    from nyc_taxi_etl_spark.streaming.events import (
        read_events_stream,
        stream_upsert_to_table,
    )

    src = str(tmp_path / "in")
    ev = load_table(spark, "/root/testdata/sf0.001", "events").limit(200).cache()
    ev.write.parquet(src)

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    stream = read_events_stream(spark, src, max_files_per_trigger=1)
    stream_upsert_to_table(
        stream, t, keys=("event_id",), checkpoint_dir=str(tmp_path / "ck1")
    )
    assert t.read().count() == 200
    first_version = t.latest_version()

    # corrections arrive: same event_ids, values doubled — new files,
    # fresh checkpoint (a new CDC feed over the same table)
    corrected = ev.withColumn("value", F.col("value") * 2)
    corr_src = str(tmp_path / "in2")
    corrected.write.parquet(corr_src)
    stream2 = read_events_stream(spark, corr_src, max_files_per_trigger=None)
    stream_upsert_to_table(
        stream2, t, keys=("event_id",), checkpoint_dir=str(tmp_path / "ck2")
    )

    merged = t.read()
    assert merged.count() == 200  # keep-latest, no duplicates
    base_sum = ev.agg(F.sum("value")).first()[0]
    got_sum = merged.agg(F.sum("value")).first()[0]
    assert abs(got_sum - 2 * base_sum) < 1e-6
    # prior state still time-travelable
    old_sum = t.read(version=first_version).agg(F.sum("value")).first()[0]
    assert abs(old_sum - base_sum) < 1e-6
    ev.unpersist()


def test_append_is_incremental_and_time_travels(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(spark.range(0, 5).withColumnRenamed("id", "k"))
    v1 = t.append(spark.range(5, 8).withColumnRenamed("id", "k"))
    assert sorted(r.k for r in t.read().collect()) == list(range(8))
    assert sorted(r.k for r in t.read(0).collect()) == list(range(5))
    # append reuses the previous directories: two active dirs now
    assert len(t._active_dirs(v1)) == 2


def test_compact_merges_dirs_preserves_rows_and_history(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(spark.range(0, 10).withColumnRenamed("id", "k"))
    for lo in range(10, 40, 10):
        t.append(
            spark.range(lo, lo + 10).withColumnRenamed("id", "k")
        )
    pre_files = len(t.read().inputFiles())
    assert len(t._active_dirs(t.latest_version())) == 4
    v = t.compact(target_files=2)
    assert len(t._active_dirs(v)) == 1
    post = t.read()
    assert len(post.inputFiles()) <= 2 < pre_files
    assert sorted(r.k for r in post.collect()) == list(range(40))
    # history before compaction still reads the original layout
    assert sorted(r.k for r in t.read(1).collect()) == list(range(20))
    # nothing is orphaned by compaction itself
    assert t.vacuum() == []


@pytest.mark.parametrize("target", [6, 9])
def test_compact_target_files_is_exact_above_the_read_width(spark, tmp_path, target):
    """Ten small appended files read as four partitions (file packing);
    compact(target_files) must still write exactly ``target`` files —
    a coalesce alone cannot add partitions."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(spark.range(0, 50, numPartitions=1).withColumnRenamed("id", "k"))
    for lo in range(50, 500, 50):
        t.append(
            spark.range(lo, lo + 50, numPartitions=1).withColumnRenamed("id", "k")
        )
    snap = t.read()
    assert len(snap.inputFiles()) == 10
    assert snap.rdd.getNumPartitions() == 4
    v = t.compact(target_files=target)
    (rel,) = t._active_dirs(v)
    files = glob.glob(os.path.join(t.root, rel, "*.parquet"))
    assert len(files) == target
    assert sorted(r.k for r in t.read().collect()) == list(range(500))


def _orders(spark, rows):
    return spark.createDataFrame(rows, "k long, month string, val string")


def test_partitioned_upsert_rewrites_only_touched(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    base = _orders(
        spark,
        [(1, "jan", "a"), (2, "jan", "b"), (3, "feb", "c"), (4, "mar", "d")],
    )
    v0 = t.write_partitioned(base, "month")
    rec0 = t._read_commit(v0)
    assert sorted(rec0["partitions"].values()) == ["feb", "jan", "mar"]

    # update feb + add a NEW partition apr; jan/mar must carry by ref
    v1 = t.upsert_partitioned(
        _orders(spark, [(3, "feb", "C2"), (9, "apr", "new")]),
        keys=["k"],
        partition_col="month",
    )
    rec1 = t._read_commit(v1)
    carried = set(rec0["active"]) & set(rec1["active"])
    assert {rec0["partitions"][d] for d in carried} == {"jan", "mar"}
    assert sorted(rec1["rewritten"]) == ["apr", "feb"]
    got = {(r.k, r.month, r.val) for r in t.read().collect()}
    assert got == {
        (1, "jan", "a"), (2, "jan", "b"), (3, "feb", "C2"),
        (4, "mar", "d"), (9, "apr", "new"),
    }
    # time travel to the pre-upsert snapshot
    assert {(r.k, r.val) for r in t.read(v0).collect()} == {
        (1, "a"), (2, "b"), (3, "c"), (4, "d"),
    }


def test_partition_pruned_read_uses_metadata_only(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write_partitioned(
        _orders(spark, [(1, "jan", "a"), (3, "feb", "c"), (4, "mar", "d")]),
        "month",
    )
    pruned = t.read_partitions(["jan", "feb"])
    assert {r.month for r in pruned.collect()} == {"jan", "feb"}
    # pruning happened at the metadata level: only 2 dirs scanned
    assert len({f.rsplit("/", 2)[1] for f in pruned.inputFiles()}) == 2
    assert t.read_partitions(["dec"]).count() == 0


def test_partitioned_upsert_rejects_untracked_table(spark, tmp_path):
    import pytest as _pytest

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(_orders(spark, [(1, "jan", "a")]))
    with _pytest.raises(ValueError, match="untracked"):
        t.upsert_partitioned(
            _orders(spark, [(1, "jan", "A")]), ["k"], "month"
        )


def test_read_partitions_rejects_appended_table(spark, tmp_path):
    """An append leaves a directory with no partition value, whose rows
    no value could select: read_partitions raises like the partitioned
    upsert instead of returning a short read."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write_partitioned(_orders(spark, [(1, "jan", "a")]), "month")
    t.append(_orders(spark, [(2, "feb", "b"), (3, "feb", "c")]))
    assert t.read().where("month = 'feb'").count() == 2
    with pytest.raises(ValueError, match="partition-untracked"):
        t.read_partitions(["feb"])


def test_partitioned_writes_reject_null_partition_values(spark, tmp_path):
    """A NULL partition value has no directory to land in: the write
    raises, naming the column, before any commit."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    with_null = _orders(spark, [(1, "jan", "a"), (2, None, "b")])
    with pytest.raises(ValueError, match="'month'"):
        t.write_partitioned(with_null, "month")
    assert t.versions() == []
    t.write_partitioned(_orders(spark, [(1, "jan", "a")]), "month")
    with pytest.raises(ValueError, match="'month'"):
        t.upsert_partitioned(with_null, ["k"], "month")
    assert t.versions() == [0]


def test_decimal_column_commits_without_bounds(spark, tmp_path):
    """pyarrow cannot extract footer statistics for Spark's INT64-backed
    decimal: that column gets no bounds, the write still commits, and
    the other columns still prune."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, f"{i}.25") for i in range(5)], "k long, amt string"
    ).selectExpr("k", "CAST(amt AS DECIMAL(10,2)) AS amt")
    t.write(df.coalesce(1))
    t.append(
        spark.createDataFrame([(100, "1.50")], "k long, amt string")
        .selectExpr("k", "CAST(amt AS DECIMAL(10,2)) AS amt")
        .coalesce(1)
    )
    assert t.read(0).count() == 5
    stats = t._read_commit(1)["file_stats"]
    assert all(set(s["cols"]) == {"k"} for s in stats.values())
    kept, skipped = t.prune_plan({"k": (100, None)})
    assert len(kept) == 1 and len(skipped) == 1
    assert [r.k for r in t.read_where({"k": (100, None)}).collect()] == [100]


# -- data skipping ---------------------------------------------------------


def _skip_table(spark, tmp_path, n_files=4):
    """Table whose layout clusters k: file i holds k in [100i, 100i+99]."""
    t = VersionedTable(spark, str(tmp_path / "skip"))
    df = (
        spark.range(0, 400)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 7).alias("val"),
            F.concat(F.lit("s"), F.col("id")).alias("name"),
        )
        .repartitionByRange(n_files, "k")
        .sortWithinPartitions("k")
    )
    t.write(df)
    return t


def test_read_where_prunes_files_and_matches_full_scan(spark, tmp_path):
    t = _skip_table(spark, tmp_path)
    kept, skipped = t.prune_plan({"k": (150, 199)})
    assert skipped, "range-clustered layout must skip files"
    assert len(kept) < len(kept) + len(skipped)
    got = t.read_where({"k": (150, 199)})
    want = t.read().filter((F.col("k") >= 150) & (F.col("k") <= 199))
    assert sorted(r["k"] for r in got.collect()) == sorted(
        r["k"] for r in want.collect()
    )
    # The pruned plan reads strictly fewer files than the full snapshot.
    assert len(got.inputFiles()) < len(t.read().inputFiles())


def test_read_where_open_ranges_equality_and_strings(spark, tmp_path):
    t = _skip_table(spark, tmp_path)
    # equality as (v, v)
    assert [r["k"] for r in t.read_where({"k": (250, 250)}).collect()] == [250]
    # open-ended range
    assert t.read_where({"k": (350, None)}).count() == 50
    # string column bounds prune too (file 0 holds s0..s99 etc. is NOT
    # lexicographically clustered, so this only checks correctness)
    got = t.read_where({"name": ("s399", "s399")}).collect()
    assert [r["k"] for r in got] == [399]


def test_read_where_empty_result_keeps_schema(spark, tmp_path):
    t = _skip_table(spark, tmp_path)
    kept, skipped = t.prune_plan({"k": (5000, 6000)})
    assert not kept and skipped
    out = t.read_where({"k": (5000, 6000)})
    assert out.count() == 0
    assert set(out.columns) == {"k", "val", "name"}


def test_stats_carry_through_append_and_upsert_partitioned(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "skipp"))
    mk = lambda lo, hi, p: spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(p).alias("pt"), F.lit(1).alias("ver")
    )
    t.write_partitioned(mk(0, 100, "a").unionAll(mk(100, 200, "b")), "pt")
    # upsert touches only partition b; a's stats must carry by reference
    t.upsert_partitioned(mk(150, 160, "b"), keys=["k"], partition_col="pt")
    rec = t._read_commit(t.latest_version())
    assert rec["file_stats"], "stats present after partition-scoped upsert"
    kept, skipped = t.prune_plan({"k": (0, 50)})
    assert skipped, "untouched partition's carried stats still prune"
    got = sorted(r["k"] for r in t.read_where({"k": (0, 5)}).collect())
    assert got == [0, 1, 2, 3, 4, 5]
    # append on a plain table: old stats carried, new dir scanned
    t2 = VersionedTable(spark, str(tmp_path / "skap"))
    t2.write(spark.range(0, 10).select(F.col("id").alias("k")))
    t2.append(spark.range(1000, 1010).select(F.col("id").alias("k")))
    kept2, skipped2 = t2.prune_plan({"k": (1000, None)})
    assert skipped2 and kept2


def test_files_without_stats_are_never_pruned(spark, tmp_path):
    t = _skip_table(spark, tmp_path)
    v = t.latest_version()
    rec = t._read_commit(v)
    rec.pop("file_stats")
    import json

    with open(t._log_path(v), "w") as f:
        json.dump(rec, f)
    kept, skipped = t.prune_plan({"k": (150, 199)})
    assert not skipped, "no stats -> conservative: read everything"
    assert t.read_where({"k": (150, 199)}).count() == 50


def test_zorder_compact_prunes_on_both_dimensions(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "zord"))
    # Two independent uniform dims; initial layout clusters NEITHER
    # (shuffled by hash of id).
    df = (
        spark.range(0, 4096)
        .select(
            (F.col("id") % 64).alias("x"),
            F.floor(F.col("id") / 64).alias("y"),
            F.col("id").alias("payload"),
        )
        .repartition(16, "payload")
    )
    t.write(df)
    xq = {"x": (0, 7)}   # 1/8 of the x domain
    yq = {"y": (0, 7)}   # 1/8 of the y domain
    kept_x0, skip_x0 = t.prune_plan(xq)
    kept_y0, skip_y0 = t.prune_plan(yq)
    assert not skip_x0 and not skip_y0, "hash layout prunes nothing"
    v = t.compact(target_files=16, cluster_by=["x", "y"])
    assert t._read_commit(v)["clustered_by"] == ["x", "y"]
    kept_x, skip_x = t.prune_plan(xq)
    kept_y, skip_y = t.prune_plan(yq)
    # Morton layout: an 1/8-range predicate on EITHER dim skips at
    # least half the 16 files.
    assert len(skip_x) >= 8, (len(kept_x), len(skip_x))
    assert len(skip_y) >= 8, (len(kept_y), len(skip_y))
    # Correctness: pruned read == full filter, and the snapshot is intact.
    assert t.read_where(xq).count() == 4096 // 8
    assert t.read_where(yq).count() == 4096 // 8
    assert t.read().count() == 4096


def test_zorder_layout_handles_nulls_and_constant_columns(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "zn"))
    df = spark.range(0, 100).select(
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id")).alias("x"),
        F.lit(5).alias("c"),
        F.col("id").alias("payload"),
    )
    t.write(df)
    t.compact(target_files=4, cluster_by=["x", "c"])
    assert t.read().count() == 100
    # nulls fall in bucket 0; equality read still exact (51 is not a
    # multiple of 10, so it survives the null injection above)
    assert t.read_where({"x": (51, 51)}).count() == 1


# -- schema evolution ------------------------------------------------------


def test_append_schema_evolution_additive(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "evo"))
    t.write(spark.createDataFrame([(1, "a")], "k long, val string"))
    # drift without the flag raises
    widened = spark.createDataFrame(
        [(2, "b", 0.5)], "k long, val string, score double"
    )
    with pytest.raises(ValueError, match="merge_schema=True"):
        t.append(widened)
    v = t.append(widened, merge_schema=True)
    out = t.read().orderBy("k").collect()
    assert [r["k"] for r in out] == [1, 2]
    assert out[0]["score"] is None and out[1]["score"] == 0.5
    assert t.read().columns == ["k", "val", "score"]
    # time travel predates the evolution
    assert t.read(version=v - 1).columns == ["k", "val"]
    # a later same-schema append keeps the evolved read path working
    t.append(spark.createDataFrame([(3, "c", 0.7)],
                                   "k long, val string, score double"),
             merge_schema=True)
    assert t.read().where("k = 1").collect()[0]["score"] is None


def test_append_type_change_always_rejected(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "evo2"))
    t.write(spark.createDataFrame([(1, "a")], "k long, val string"))
    bad = spark.createDataFrame([(2, 3)], "k long, val long")
    with pytest.raises(ValueError, match="additive-only"):
        t.append(bad, merge_schema=True)


def test_compact_resolves_evolution(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "evo3"))
    t.write(spark.createDataFrame([(1, "a")], "k long, val string"))
    t.append(
        spark.createDataFrame([(2, "b", 9)], "k long, val string, n long"),
        merge_schema=True,
    )
    t.compact(target_files=1)
    out = t.read().orderBy("k").collect()
    assert len(out) == 2 and out[0]["n"] is None and out[1]["n"] == 9



@pytest.mark.parametrize("rewrite", ["delete_where", "compact", "upsert"])
def test_append_schema_check_survives_rewrites(spark, tmp_path, rewrite):
    """Every rewrite records the schema it wrote, so a later append is
    checked against it: a column changing type is rejected, an
    additive batch keeps every column."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    if rewrite == "delete_where":
        t.delete_where("k = 2")
    elif rewrite == "compact":
        t.compact()
    else:
        t.upsert(spark.createDataFrame([(3, "c")], "k long, v string"), ["k"])
    with pytest.raises(ValueError, match="additive-only"):
        t.append(
            spark.createDataFrame([("x", 0.5)], "k string, w double"),
            merge_schema=True,
        )
    t.append(spark.createDataFrame([(9, 0.5)], "k long, w double"), merge_schema=True)
    out = t.read()
    assert out.dtypes == [("k", "bigint"), ("v", "string"), ("w", "double")]
    assert out.where("k = 1").first()["v"] == "a"
    assert out.where("k = 9").first()["w"] == 0.5


def test_every_read_returns_the_recorded_schema(spark, tmp_path):
    """On an evolved table every read path has read()'s column names
    and types (never ``void``) and the rows of the matching filter over
    read(): partition b gains ``w`` through a partition-scoped upsert,
    so partition a's file lacks it, and a later append omits ``v``."""
    from nyc_taxi_etl_spark.sources.bloom_index import build_bloom_index, read_eq

    t = VersionedTable(spark, str(tmp_path / "contract"))
    t.write_partitioned(
        spark.createDataFrame(
            [(1, "a", "x"), (2, "a", "y"), (3, "b", "z")],
            "k long, p string, v string",
        ),
        "p",
    )
    v1 = t.upsert_partitioned(
        spark.createDataFrame([(3, "b", "z2", 0.5)], "k long, p string, v string, w double"),
        ["k"],
        "p",
    )
    t.append(
        spark.createDataFrame([(7, "c", 1.5)], "k long, p string, w double"),
        merge_schema=True,
    )
    full = t.read()
    assert full.dtypes == [
        ("k", "bigint"), ("p", "string"), ("v", "string"), ("w", "double")
    ]

    def same(got, want):
        assert got.dtypes == want.dtypes
        assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)

    same(t.read_where({"k": (2, 7)}), full.where("k BETWEEN 2 AND 7"))
    same(t.read_where({"k": (100, None)}), full.where("k >= 100"))
    same(t.read_partitions(["a"], version=v1), t.read(v1).where("p = 'a'"))
    same(t.read_changes_since(v1), full.where("p = 'c'"))
    build_bloom_index(t, "k")
    for key in (1, 3, 7):
        same(read_eq(t, "k", key), full.where(F.col("k") == key))


def test_record_without_schema_still_reads_and_appends(spark, tmp_path):
    """A commit record from before schemas were recorded reads as its
    files do, and an append on top of it still commits."""
    import json

    t = VersionedTable(spark, str(tmp_path / "old"))
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    rec = t._read_commit(0)
    rec.pop("schema")
    rec.pop("schema_evolved")
    with open(t._log_path(0), "w") as f:
        json.dump(rec, f)
    assert t.read().dtypes == [("k", "bigint"), ("v", "string")]
    assert t.read_where({"k": (5, 9)}).columns == ["k", "v"]
    t.append(spark.createDataFrame([(3, "c")], "k long, v string"))
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 3]


# -- incremental ingestion -------------------------------------------------


def test_incremental_ingest_dedups_across_batches(spark, tmp_path):
    from nyc_taxi_etl_spark.operators.incremental import incremental_ingest

    t = VersionedTable(spark, str(tmp_path / "inc"))
    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "ALPHA   beta")],
        "doc_id long, text string",
    )
    # doc 3 normalizes to doc 1's content -> within-batch dedup
    a1 = incremental_ingest(t, b1)
    assert a1 == {"batch_rows": 3, "appended": 2, "version": 0}
    b2 = spark.createDataFrame(
        [(10, "gamma delta"), (11, "epsilon zeta")],
        "doc_id long, text string",
    )
    a2 = incremental_ingest(t, b2)
    assert a2["appended"] == 1 and a2["version"] == 1
    texts = sorted(r["text"] for r in t.read().collect())
    assert texts == ["alpha beta", "epsilon zeta", "gamma delta"]
    # at-least-once delivery: replaying batch 2 appends nothing and
    # publishes no commit
    a3 = incremental_ingest(t, b2)
    assert a3 == {"batch_rows": 2, "appended": 0, "version": None}
    assert t.latest_version() == 1
    # time travel: the pre-batch-2 corpus is intact
    assert t.read(version=0).count() == 2


def test_streaming_document_ingest_dedups_against_corpus(spark, tmp_path):
    from nyc_taxi_etl_spark.streaming.events import stream_ingest_documents

    src = str(tmp_path / "docs_in")
    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(10, "gamma delta"), (11, "epsilon zeta")],
        "doc_id long, text string",
    )
    b1.coalesce(1).write.parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    t = VersionedTable(spark, str(tmp_path / "corpus"))
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_ingest_documents(
        stream, t, checkpoint_dir=str(tmp_path / "ck")
    )
    texts = sorted(r["text"] for r in t.read().collect())
    assert texts == ["alpha beta", "epsilon zeta", "gamma delta"]
    # a fresh feed redelivering batch 2 converges without new commits
    v = t.latest_version()
    src2 = str(tmp_path / "docs_in2")
    b2.coalesce(1).write.parquet(src2)
    stream2 = spark.readStream.schema(b1.schema).parquet(src2)
    stream_ingest_documents(
        stream2, t, checkpoint_dir=str(tmp_path / "ck2")
    )
    assert t.latest_version() == v and t.read().count() == 3


def test_expire_versions_bounds_history_and_reclaims_storage(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "ret"))
    t.write(spark.range(0, 5).withColumnRenamed("id", "k"))          # v0
    t.upsert(spark.range(5, 8).withColumnRenamed("id", "k"), ["k"])  # v1
    t.append(spark.range(100, 103).withColumnRenamed("id", "k"))     # v2
    dirs_before = len(os.listdir(os.path.join(t.root, "data")))
    expired = t.expire_versions(keep_last=1)
    assert expired == [0, 1] and t.versions() == [2]
    # latest snapshot intact (v1's upsert dir is shared by v2 -> kept)
    assert t.read().count() == 11
    with pytest.raises(FileNotFoundError):
        t.read(version=0)
    # v0's directory was referenced only by expired commits -> gone
    assert len(os.listdir(os.path.join(t.root, "data"))) < dirs_before
    with pytest.raises(ValueError):
        t.expire_versions(keep_last=0)
