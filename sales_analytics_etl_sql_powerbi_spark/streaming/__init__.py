"""Structured Streaming operators (beyond-reference — SURVEY §7 step 9)."""

from .windows import (  # noqa: F401
    tumbling_counts,
    sliding_counts,
    session_windows,
    dedup_within_watermark,
    TUMBLING_SQL,
    SLIDING_SQL,
    SESSION_SQL,
)
