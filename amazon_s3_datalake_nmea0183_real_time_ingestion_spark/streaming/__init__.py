"""Structured Streaming pipeline + stateful operators (SURVEY.md §3.1-3.2, M3)."""

from .pipeline import (  # noqa: F401
    PipelineBatchResult,
    StreamRoute,
    build_stage_rows,
    process_batch,
    read_landing_stream,
    start_pipeline,
    start_streams,
    stream_route,
)
from .stateful import (  # noqa: F401
    battery_transitions,
    streaming_dedup,
    streaming_sessions,
    with_event_ts,
)
