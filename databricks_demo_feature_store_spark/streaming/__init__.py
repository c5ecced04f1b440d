"""Structured Streaming surface: file-source streams, watermarked window
aggregations, session windows, and an availableNow batch-replay runner."""

from databricks_demo_feature_store_spark.streaming.ops import (
    read_events_stream,
    hourly_counts,
    sessionize_stream,
    run_available_now,
    stream_features_to_store,
    dedup_stream,
    interval_join_stream,
    enrich_stream,
)
from databricks_demo_feature_store_spark.streaming.stateful import (
    stateful_user_stats,
    finalize_user_stats,
)

__all__ = [
    "read_events_stream",
    "hourly_counts",
    "sessionize_stream",
    "run_available_now",
    "stream_features_to_store",
    "dedup_stream",
    "interval_join_stream",
    "enrich_stream",
    "stateful_user_stats",
    "finalize_user_stats",
]
