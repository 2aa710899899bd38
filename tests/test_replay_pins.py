"""Deterministic-replay pins for the three non-media rows-only entries
(r9, VERDICT r8 task #7): ``bpe_merges``, ``doc_bpe_token_stats``,
``doc_compression_signal`` are deterministic algorithms with no SQL
oracle — these pins give them the media entries' replay guarantee
instead of just shape checks.

Each entry runs against ONE fixed fixture corpus materialized in two
different physical layouts (single parquet file vs a 3-file dataset
directory — the partitioning axis that could perturb any hidden
order-dependence) and twice in the same session; all runs must be
byte-identical, and the pure-logic outputs (BPE merge order, zlib
sizes at level 6) must equal hardcoded goldens so a cross-round
regression cannot hide behind self-consistency.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from nyc_taxi_etl_spark.plans import CATALOG

from .conftest import spark  # noqa: F401  (fixture re-export)

_TEXTS = [
    "the lowlands slowly lower the lowest slow flows",
    "lower slower lowest low low low slowest",
    "newer newest news renew newly knew new new",
    "widest wider wide widen widely wide wide",
    "the the the a a of of of and and",
    "slow flows grow below yellow fellows bellow",
]

# train_bpe(num_merges=8) on the fixture — pure driver-side pair logic,
# ties broken (count DESC, pair ASC); any change to tokenization,
# symbol init, or tie-breaking shows up here
_GOLDEN_MERGES = [
    ("o", "w"),
    ("l", "ow"),
    ("e", "</w>"),
    ("e", "w"),
    ("low", "</w>"),
    ("n", "ew"),
    ("i", "d"),
    ("w", "id"),
]

# Raw byte sizes are hardcoded pins; the level-6 COMPRESSED sizes are
# recomputed with the interpreter's own zlib at test time (r9 ADVICE:
# compressed output depends on the zlib build — zlib-ng or a version
# bump changes sizes on a correct engine), so the pin checks that the
# ENTRY applies zlib level 6 to exactly these bytes, not that the host
# ships one specific zlib.
_GOLDEN_RAW = [(i, len(t.encode())) for i, t in enumerate(_TEXTS)]
assert [r for _, r in _GOLDEN_RAW] == [47, 39, 42, 40, 32, 43]


def _golden_zlib() -> list[tuple[int, int, int]]:
    import zlib

    return [
        (i, raw, len(zlib.compress(_TEXTS[i].encode(), 6)))
        for i, raw in _GOLDEN_RAW
    ]


def _fixture_table() -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(range(len(_TEXTS)), pa.int64()),
            "text": pa.array(_TEXTS, pa.string()),
            "lang": pa.array(["en"] * len(_TEXTS), pa.string()),
            "source": pa.array(
                [f"src{i % 2}" for i in range(len(_TEXTS))], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in _TEXTS], pa.int64()),
        }
    )


@pytest.fixture(scope="module")
def fixture_dirs(tmp_path_factory):
    """The same corpus in two physical layouts: one file, and a 3-file
    dataset directory (2+2+2 rows)."""
    tab = _fixture_table()
    one = tmp_path_factory.mktemp("pin_one")
    pq.write_table(tab, str(one / "documents.parquet"))
    multi = tmp_path_factory.mktemp("pin_multi")
    d = multi / "documents.parquet"
    os.makedirs(d)
    for i in range(3):
        pq.write_table(tab.slice(2 * i, 2), str(d / f"part-{i}.parquet"))
    return str(one), str(multi)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "name", ["bpe_merges", "doc_bpe_token_stats", "doc_compression_signal"]
)
def test_entry_replay_is_layout_and_run_invariant(spark, fixture_dirs, name):
    one, multi = fixture_dirs
    first = _rows(CATALOG[name](spark, one))
    again = _rows(CATALOG[name](spark, one))
    other_layout = _rows(CATALOG[name](spark, multi))
    assert first == again, f"{name}: two runs on the same input differ"
    assert first == other_layout, (
        f"{name}: output depends on the input's physical layout"
    )
    assert len(first) > 0


def test_bpe_merge_golden(spark, fixture_dirs):
    from nyc_taxi_etl_spark.operators.bpe import train_bpe
    from nyc_taxi_etl_spark.plans.queries import t

    docs = t(spark, fixture_dirs[0], "documents")
    assert train_bpe(docs, num_merges=8) == _GOLDEN_MERGES


def test_compression_signal_golden(spark, fixture_dirs):
    got = _rows(
        CATALOG["doc_compression_signal"](spark, fixture_dirs[0]).select(
            "doc_id", "raw_bytes", "compressed_bytes"
        )
    )
    assert got == _golden_zlib()
    # and the ratio column is exactly the quotient of the pinned sizes
    full = _rows(CATALOG["doc_compression_signal"](spark, fixture_dirs[0]))
    for doc_id, raw, comp, ratio in full:
        assert ratio == comp / raw, (doc_id, raw, comp, ratio)
