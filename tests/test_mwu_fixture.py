"""Hand-computed verification of mw_quantity_shift's z / p extension
(r10, VERDICT r9 task #7): the tie-corrected normal approximation and
the A&S 7.1.26 two-sided p are checked against an independent
rank-based reference implementation on a fixture where every rank and
tie group is known, and the A&S polynomial is checked against
math.erfc (|error| < 1.5e-7 per Abramowitz & Stegun)."""

from __future__ import annotations

import math

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from nyc_taxi_etl_spark.plans import CATALOG

# R sample stochastically above N, with ties within and across sides
_R = [2, 3, 3, 5, 6, 6, 7]
_N = [1, 2, 2, 3, 4, 4, 5, 5]


def _reference() -> tuple[float, float, float]:
    """U_R / z / p from first principles: midranks over the pooled
    sample (the textbook formulation the count-table identity must
    reproduce), tie-corrected variance, A&S erfc."""
    pooled = sorted(_R + _N)
    # U_R by direct counting: #(r > n) + 0.5 * #(r == n)
    u_r = sum(
        sum(1.0 for n in _N if r > n) + sum(0.5 for n in _N if r == n)
        for r in _R
    )
    n_r, n_n = len(_R), len(_N)
    big_n = n_r + n_n
    ties: dict[float, int] = {}
    for v in pooled:
        ties[v] = ties.get(v, 0) + 1
    tie_cubes = sum(t**3 - t for t in ties.values())
    mean_u = n_r * n_n / 2.0
    var_u = (n_r * n_n / 12.0) * (
        (big_n + 1.0) - tie_cubes / (big_n * (big_n - 1.0))
    )
    z = (u_r - mean_u) / math.sqrt(var_u)
    p = math.erfc(abs(z) / math.sqrt(2.0))
    return u_r, z, p


@pytest.fixture(scope="module")
def mwu_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("mwu")
    flags = ["R"] * len(_R) + ["N"] * len(_N) + ["A", "A"]
    qtys = [float(v) for v in _R + _N] + [9.0, None]
    pq.write_table(
        pa.table(
            {
                "l_returnflag": pa.array(flags, pa.string()),
                "l_quantity": pa.array(qtys, pa.float64()),
            }
        ),
        str(d / "lineitem.parquet"),
    )
    return str(d)


def test_mwu_z_p_match_rank_reference(spark, mwu_dir):
    u_ref, z_ref, p_ref = _reference()
    out = CATALOG["mw_quantity_shift"](spark, mwu_dir).collect()
    assert len(out) == 1
    row = out[0]
    assert row["n_r"] == len(_R) and row["n_n"] == len(_N)
    # the count-table identity reproduces the direct-counting U exactly
    assert row["u_r"] == u_ref
    assert row["u_n"] == len(_R) * len(_N) - u_ref
    # z: both sides are closed-form doubles over exact integers
    assert row["z"] == pytest.approx(z_ref, abs=1e-12)
    # p: A&S approximation within its published error of true erfc,
    # after the entry's 4-decimal rounding
    assert row["p_two_sided"] == pytest.approx(round(p_ref, 4), abs=2e-4)
    # and the direction is right: R shifted up -> positive z, small-ish p
    assert row["z"] > 0
