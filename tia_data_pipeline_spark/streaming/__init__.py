"""Structured Streaming forms of the incremental pipelines."""

from tia_data_pipeline_spark.streaming.ann_serve import (
    ivf_append_batch,
    stream_ivf_append,
    ann_search_batch,
    stream_ann_topk,
)
from tia_data_pipeline_spark.streaming.dedup_serve import (
    index_increment_batch,
    stream_index_deletes,
    stream_index_incremental,
)
from tia_data_pipeline_spark.streaming.joins import (
    interval_join_batch,
    stream_interval_join,
)
from tia_data_pipeline_spark.streaming.sinks import stream_upsert_jdbc
from tia_data_pipeline_spark.streaming.text_serve import (
    bm25_topk_batch,
    stream_bm25_topk,
    stream_text_index_append,
    text_index_append_batch,
)
from tia_data_pipeline_spark.streaming.windows import (
    stream_daily_counts,
    stream_dedup_events,
    stream_session_windows,
    run_available_now,
)

__all__ = [
    "stream_daily_counts",
    "stream_dedup_events",
    "stream_session_windows",
    "run_available_now",
    "stream_upsert_jdbc",
    "text_index_append_batch",
    "stream_text_index_append",
    "bm25_topk_batch",
    "stream_bm25_topk",
    "interval_join_batch",
    "stream_interval_join",
    "index_increment_batch",
    "stream_index_incremental",
    "ann_search_batch",
    "ivf_append_batch",
    "stream_ann_topk",
    "stream_index_deletes",
    "stream_ivf_append",
]
