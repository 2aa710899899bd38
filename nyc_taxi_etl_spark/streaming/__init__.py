from .events import (  # noqa: F401
    dedup_events_stream,
    purchase_error_stream_join,
    read_events_stream,
    run_available_now,
    sliding_value_avg,
    tumbling_event_counts,
    user_running_totals,
    user_session_windows,
)
