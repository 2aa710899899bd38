"""Spark 4 Python Data Source API tests (sources/pysource.py):
partition-parallel deterministic generation, doc_id-range filter
pushdown (generator-side partition pruning), DuckDB byte-parity of
the generated corpus, and the streaming source's offset/replay
semantics."""

from __future__ import annotations

import uuid

import duckdb
import pandas as pd
import pytest

from nyc_taxi_etl_spark.sources.pysource import (
    register_python_sources,
    synth_corpus_oracle_sql,
    synth_doc,
    synth_event,
)


@pytest.fixture(scope="module")
def pysrc_spark(spark):
    register_python_sources(spark)
    return spark


def _read(spark, **opts):
    r = spark.read.format("corpussynth")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_corpus_partition_parallel_and_deterministic(pysrc_spark):
    df = _read(pysrc_spark, n_docs=200, n_parts=4, seed=42)
    assert df.rdd.getNumPartitions() == 4
    a = df.toPandas().sort_values("doc_id").reset_index(drop=True)
    b = (
        _read(pysrc_spark, n_docs=200, n_parts=2, seed=42)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    # content independent of the partition layout
    pd.testing.assert_frame_equal(a, b)
    # row content is the pure function the module exports
    assert tuple(a.iloc[7]) == synth_doc(42, 7)
    # different seed → different corpus
    c = _read(pysrc_spark, n_docs=200, n_parts=4, seed=7).toPandas()
    assert set(c["text"]) != set(a["text"])


def test_corpus_matches_duckdb_regeneration(pysrc_spark):
    """The determinism contract: SQL rebuilds the identical corpus
    from the md5-prefix hashes (full byte parity, all columns)."""
    got = (
        _read(pysrc_spark, n_docs=300, n_parts=8, seed=42)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    want = (
        duckdb.connect()
        .execute(synth_corpus_oracle_sql(42, 300))
        .df()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_corpus_filter_pushdown_prunes_partitions(pysrc_spark):
    """doc_id range predicates reach pushFilters and narrow the
    generated range BEFORE partition planning — the filtered read
    plans one partition per surviving doc, not n_parts full ranges."""
    f = _read(pysrc_spark, n_docs=100_000, n_parts=8).filter(
        "doc_id >= 99990 AND doc_id < 99995"
    )
    assert f.rdd.getNumPartitions() == 5  # 5 surviving ids, 1 doc each
    rows = f.collect()
    assert sorted(r["doc_id"] for r in rows) == list(range(99990, 99995))
    # equality predicate → single-id range
    e = _read(pysrc_spark, n_docs=100_000, n_parts=8).filter("doc_id = 12345")
    assert e.rdd.getNumPartitions() == 1
    assert [r["doc_id"] for r in e.collect()] == [12345]
    # unsupported predicates stay residual and still evaluate correctly
    g = _read(pysrc_spark, n_docs=100, n_parts=4).filter(
        "doc_id < 10 AND lang = 'en'"
    )
    got = {(r["doc_id"], r["lang"]) for r in g.collect()}
    want = {
        (d, synth_doc(42, d)[2])
        for d in range(10)
        if synth_doc(42, d)[2] == "en"
    }
    assert got == want


def test_corpus_feeds_document_operators(pysrc_spark):
    """documents-shaped schema: the text operators run unchanged on a
    generated corpus (the load-test path)."""
    from nyc_taxi_etl_spark.operators.text import text_stats

    corpus = _read(pysrc_spark, n_docs=100, n_parts=4)
    prof = text_stats(corpus).toPandas()
    assert len(prof) == 100
    assert (prof["n_tokens"] >= 20).all() and (prof["n_tokens"] <= 100).all()


def test_event_stream_batches_and_replay(pysrc_spark, tmp_path):
    sdf = (
        pysrc_spark.readStream.format("eventsynth")
        .option("batch_rows", 100)
        .option("max_rows", 300)
        .load()
    )
    name = "es_" + uuid.uuid4().hex[:8]
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = (
        pysrc_spark.table(name)
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    assert len(got) == 300  # max_rows caps the stream
    # every row is the pure function of its index (replay-exact)
    for i in (0, 99, 100, 299):
        assert tuple(got.iloc[i]) == synth_event(42, i)


def test_event_stream_partitioned_reader_contract():
    """The partitioned DataSourceStreamReader: offsets advance one
    micro-batch per trigger, each micro-batch splits into >1
    executor-read InputPartitions, and reading any offset range is
    exact regeneration (replay = checkpoint recovery)."""
    from nyc_taxi_etl_spark.sources.pysource import _SynthEventsStreamReader

    r = _SynthEventsStreamReader(
        {"batch_rows": 50, "max_rows": 200, "n_parts": 4}
    )
    assert r.initialOffset() == {"i": 0}
    assert r.latestOffset() == {"i": 50}
    parts = r.partitions({"i": 0}, {"i": 50})
    assert len(parts) == 4  # executor-parallel micro-batch
    rows = [row for p in parts for row in r.read(p)]
    assert rows == [synth_event(42, i) for i in range(50)]
    # replay of an arbitrary committed range is regeneration
    replay = [
        row for p in r.partitions({"i": 10}, {"i": 30}) for row in r.read(p)
    ]
    assert replay == [synth_event(42, i) for i in range(10, 30)]
    # stream drains at max_rows: offset stops advancing
    for _ in range(10):
        end = r.latestOffset()
    assert end == {"i": 200}
    # commit fast-forwards a fresh reader past a checkpointed offset
    r2 = _SynthEventsStreamReader({"batch_rows": 50, "max_rows": 200})
    r2.commit({"i": 150})
    assert r2.latestOffset() == {"i": 200}
    # tiny batch never plans more partitions than rows
    assert len(r.partitions({"i": 0}, {"i": 2})) == 2
    assert r.partitions({"i": 5, }, {"i": 5})[0].start == 5


def test_event_stream_watermark_monotone_without_commit_replay():
    """Checkpoint recovery must not depend on commit() being replayed
    before the first latestOffset: every offset the reader observes
    (planned starts/ends included) raises the high-water mark, so a
    fresh post-restart instance can never plan a batch below the
    checkpoint — i.e. no duplicate re-emission of processed rows."""
    from nyc_taxi_etl_spark.sources.pysource import _SynthEventsStreamReader

    r = _SynthEventsStreamReader({"batch_rows": 50, "max_rows": 500})
    # engine (version-dependent) asks latestOffset FIRST on recovery:
    # the naive mark would be 50, below the checkpoint at 150
    assert r.latestOffset() == {"i": 50}
    # planning against the checkpointed start yields an empty range
    # AND teaches the reader the true watermark
    parts = r.partitions({"i": 150}, {"i": 50})
    assert [row for p in parts for row in r.read(p)] == []
    # next trigger resumes strictly past the checkpoint — monotone
    assert r.latestOffset() == {"i": 200}
    # a second fresh reader that sees only partitions() (no commit
    # replay at all) is equally safe
    r2 = _SynthEventsStreamReader({"batch_rows": 50, "max_rows": 500})
    r2.partitions({"i": 100}, {"i": 150})
    assert r2.latestOffset() == {"i": 200}


def test_event_stream_microbatch_has_parallel_partitions(pysrc_spark, tmp_path):
    """End-to-end: the number of tasks per micro-batch equals the
    planned InputPartitions — reads execute on executors, not the
    driver (the r3 Simple reader's weakness)."""
    sdf = (
        pysrc_spark.readStream.format("eventsynth")
        .option("batch_rows", 120)
        .option("max_rows", 120)
        .option("n_parts", 6)
        .load()
    )
    name = "es_" + uuid.uuid4().hex[:8]
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = pysrc_spark.table(name).toPandas()
    assert len(got) == 120
    assert got["event_id"].max() == 119
    # the memory sink preserves within-partition batches; partition
    # parallelism is asserted at the planner level above (len(parts))


def test_event_stream_durable_hwm_survives_process_restart(tmp_path):
    """The residual recovery window (last batch committed, process
    dies, fresh reader's FIRST call is latestOffset) is closed by the
    opt-in durable mark: a brand-new reader seeded from state_dir can
    never hand the engine a below-checkpoint offset, so no regressed
    end ever reaches the offset log."""
    from nyc_taxi_etl_spark.sources.pysource import _SynthEventsStreamReader

    opts = {
        "batch_rows": 50,
        "max_rows": 500,
        "state_dir": str(tmp_path / "hwm"),
    }
    r1 = _SynthEventsStreamReader(opts)
    r1.latestOffset()            # 50
    r1.partitions({"i": 50}, {"i": 150})  # engine planned ahead to 150
    r1.commit({"i": 150})
    # process dies; FRESH reader, engine asks latestOffset first
    r2 = _SynthEventsStreamReader(opts)
    assert r2.latestOffset() == {"i": 200}  # 150 (durable) + 50, never 50
    # and a reader WITHOUT state_dir still shows the documented
    # at-least-once window (this is the contract the docstring states)
    r3 = _SynthEventsStreamReader({"batch_rows": 50, "max_rows": 500})
    assert r3.latestOffset() == {"i": 50}
