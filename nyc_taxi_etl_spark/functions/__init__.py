from .core import (  # noqa: F401
    epoch_nanos_ts,
    fare_from_components,
    histogram_bucket,
    month_period,
    normal_p_sql,
    normal_two_sided_p,
    r4,
    safe_cast_double,
    safe_div,
    season,
    topk,
    zscore_over_all,
)
