"""Pandas GROUPED_AGG UDAF surface: weighted median.

§2.11's remaining extension point — the catalog exercises
``applyInPandas`` (grouped map), ``mapInPandas`` (batch map),
``applyInPandasWithState`` (stateful streaming) and SQL UDTFs; this
adds the Arrow-vectorized GROUPED AGGREGATE form, for a statistic
Spark genuinely lacks a built-in for: the weighted median (smallest x
whose cumulative weight reaches half the total — e.g. a price median
where each line item counts by its quantity).

Scale contract: a GROUPED_AGG UDAF materializes each group in one
worker, so the caller must bound group payloads. The intended pattern
(used by the catalog entry) PRE-AGGREGATES to distinct
(group, value, Σweight) pairs first — the UDAF then sees at most
|distinct values| rows per group, usually orders of magnitude smaller
than the raw group, and the heavy reduction happens in Catalyst's
hash aggregate. Integer-valued weights keep every cumulative sum
exact in doubles (< 2^53), so the picked element is deterministic and
cross-engine comparable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf

__all__ = ["weighted_median"]


@pandas_udf("double")
def weighted_median(v: pd.Series, w: pd.Series) -> float:
    """Lower weighted median: sort by value, return the first value
    whose cumulative weight ≥ half the total. NULL values/weights are
    excluded; an effectively-empty group yields NULL."""
    df = pd.DataFrame({"v": v, "w": w}).dropna()
    df = df[df["w"] > 0]
    if df.empty:
        return None
    df = df.sort_values("v", kind="mergesort")
    cw = df["w"].cumsum()
    half = df["w"].sum() / 2.0
    idx = int(np.searchsorted(cw.to_numpy(), half, side="left"))
    return float(df["v"].iloc[idx])
