"""Structured Streaming analog of the reference's SQS leg
(SURVEY.md section 2.3).
"""

from .dedup import dedup_stream
from .publisher import stream_publish
from .stateful import running_event_totals, sessionize_stateful
from .windows import (
    drain_to_memory,
    event_time,
    session_event_counts,
    windowed_event_counts,
)

__all__ = [
    "dedup_stream",
    "drain_to_memory",
    "event_time",
    "running_event_totals",
    "session_event_counts",
    "sessionize_stateful",
    "stream_publish",
    "windowed_event_counts",
]
