from ..sources.table import list_versions, read_current, read_version, vacuum_versions
from .foreach_batch import cdc_batch_fn, streaming_cdc, streaming_upsert, upsert_batch_fn
from .stateful import counts_with_timeout, dedup_stream, running_totals_stateful
from .windows import (
    adaptive_ts_stream,
    kafka_stream_reader,
    parquet_stream_reader,
    parse_kafka_frame,
    run_to_files,
    run_windowed_batch,
    session_window_counts,
    windowed_counts,
)

__all__ = [
    "adaptive_ts_stream",
    "cdc_batch_fn",
    "counts_with_timeout",
    "dedup_stream",
    "kafka_stream_reader",
    "list_versions",
    "parquet_stream_reader",
    "parse_kafka_frame",
    "read_current",
    "read_version",
    "run_to_files",
    "run_windowed_batch",
    "running_totals_stateful",
    "session_window_counts",
    "streaming_cdc",
    "streaming_upsert",
    "upsert_batch_fn",
    "vacuum_versions",
    "windowed_counts",
]
