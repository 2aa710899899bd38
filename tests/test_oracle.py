"""Every catalog query with an oracle must hash-match DuckDB — this is
a local replica of the driver's t2 correctness gate (sf0.001 for speed;
the driver runs sf0.01). Set ``SPARK_GRAFT_SF=sf0.1`` to run the same
gate at a larger scale factor (the oracles are written on their scale
paths — bucketed candidate joins, materialized hop+jump closures — so
the sweep stays in bounded time)."""

from __future__ import annotations

import pytest

from nyc_taxi_etl_spark.plans import CATALOG, DRIVER_WINDOW, ORACLES

from .compare import assert_frames_match
from .conftest import ORACLE_SF_DIR as SF_DIR


def _fuzzy_hybrid_oracle(duck):
    """Scale-path oracle for fuzzy_near_pairs: the pure-SQL candidate
    stage (blocking + exact lower bounds) + exact banded Levenshtein
    from tests/fastlev.py (pinned equivalent to DuckDB's levenshtein
    by tests/test_fastlev.py, including on real corpus candidates).
    Same result set as the pure-SQL oracle, ~50 s instead of ~130 s at
    sf0.1 — DuckDB's levenshtein is an unbanded O(L²) per call and no
    sound q-gram prune discriminates on this shared-vocab corpus (see
    fastlev module doc for the measurements)."""
    from nyc_taxi_etl_spark.plans.queries_text import fuzzy_candidates_sql

    from .fastlev import banded_levenshtein_batch

    cand = duck.execute(fuzzy_candidates_sql()).df()
    dist = banded_levenshtein_batch(cand["ta"].tolist(), cand["tb"].tolist(), 50)
    return cand.assign(distance=dist.astype("int64"))[dist <= 50][
        ["id_a", "id_b", "distance"]
    ].reset_index(drop=True)


# Entries whose pure-SQL oracle is correct but slow at sf0.1; the gate
# swaps in a proven-equivalent faster implementation at that SF only
# (the small-SF runs still exercise the exact SQL the driver executes).
SCALE_ORACLE_OVERRIDE = {"fuzzy_near_pairs": _fuzzy_hybrid_oracle}


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, duck_oracle):
    spark_pdf = CATALOG[name](spark, SF_DIR).toPandas()
    if SF_DIR.endswith("sf0.1") and name in SCALE_ORACLE_OVERRIDE:
        duck_pdf = SCALE_ORACLE_OVERRIDE[name](duck_oracle)
    else:
        duck_pdf = duck_oracle.execute(ORACLES[name]).df()
    assert len(spark_pdf) > 0, f"{name}: empty result"
    assert_frames_match(spark_pdf, duck_pdf, name)


def test_all_queries_have_entries(spark):
    assert set(ORACLES) <= set(CATALOG)
    assert len(set(DRIVER_WINDOW)) == len(DRIVER_WINDOW)
    assert len(DRIVER_WINDOW) <= 50, "driver snapshot caps at ~50 entries"
    for name in CATALOG:
        df = CATALOG[name](spark, SF_DIR)
        assert df.columns, name
