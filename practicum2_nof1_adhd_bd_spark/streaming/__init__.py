from .daily_stream import (
    attribution_join_stream,
    daily_exact_stream,
    daily_stats_stream,
    enriched_daily_stream,
    sessionize_stream,
    sliding_stats_stream,
)
from .stateful import shift_detector_stream

__all__ = [
    "attribution_join_stream",
    "daily_exact_stream",
    "daily_stats_stream",
    "enriched_daily_stream",
    "sessionize_stream",
    "shift_detector_stream",
    "sliding_stats_stream",
]
