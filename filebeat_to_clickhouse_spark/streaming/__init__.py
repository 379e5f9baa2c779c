"""Structured Streaming layer: sources, HTTP receiver sidecar, sinks, and
assembled pipelines.

The reference is a streaming ETL (HTTP push → normalize → ClickHouse,
/root/reference/filebeat-to-ck/main.go:143-200); here each entry point is a
``readStream → parse → normalize → sink`` Structured Streaming query reusing
the batch parse/normalize transforms verbatim.
"""

from .sources import stream_spool_dir, stream_kafka
from .receiver import SpoolReceiver
from .sink import (
    foreach_batch_parquet,
    foreach_batch_clickhouse_http,
    clickhouse_insert_url,
    rows_to_jsoneachrow,
)
from .pipeline import (
    spooled_log_stream,
    parse_stream,
    log_rate_per_window,
    streaming_dedup,
    run_spool_to_parquet,
)
from .pipeline import (
    attribute_purchases_stream,
    enrich_stream,
    flag_neardups_stream,
    incremental_dedup_stream,
)
from .pipeline import curate_stream, score_stream
from .redis_source import RedisSpoolSource
from .kafka_source import KafkaSpoolSource
from .lumberjack import LumberjackSpoolSource, TcpLinesSpoolSource
from .sessions import sessionize_stream

__all__ = [
    "stream_spool_dir",
    "stream_kafka",
    "SpoolReceiver",
    "foreach_batch_parquet",
    "foreach_batch_clickhouse_http",
    "clickhouse_insert_url",
    "rows_to_jsoneachrow",
    "spooled_log_stream",
    "parse_stream",
    "log_rate_per_window",
    "streaming_dedup",
    "run_spool_to_parquet",
    "sessionize_stream",
    "attribute_purchases_stream",
    "enrich_stream",
    "incremental_dedup_stream",
    "flag_neardups_stream",
    "curate_stream",
    "score_stream",
    "RedisSpoolSource",
    "KafkaSpoolSource",
    "LumberjackSpoolSource",
    "TcpLinesSpoolSource",
]
