"""Structured Streaming variants of the ingest path (SURVEY.md §2.11, §7.6)."""

from etl_pipeline_last_fm_spark.streaming.ingest import (
    stream_raw_to_ods,
    windowed_event_stats,
)
from etl_pipeline_last_fm_spark.streaming.ivm import join_fold_batch
from etl_pipeline_last_fm_spark.streaming.sketch import (
    fold_stream,
    guarded_fold,
    read_state,
)

__all__ = [
    "stream_raw_to_ods",
    "windowed_event_stats",
    "fold_stream",
    "guarded_fold",
    "read_state",
    "join_fold_batch",
]
