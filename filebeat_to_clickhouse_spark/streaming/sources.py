"""Streaming sources, each producing a ``value: string`` DataFrame that the
batch wire-format parsers (ingest.formats) consume unchanged.

| Source | Reference analog |
|---|---|
| spool dir (file stream) | HTTP push bodies landed by the receiver sidecar (A1/A3) and NDJSON landed by the Redis/Lumberjack/TCP/Kafka sidecars; file-tail input stub (C4, config.yaml:43-46) |
| kafka | Kafka consumer stub (C2, config.yaml:27-32) |

The reference declares C2/C4 as TODO bodies (main.go:612-665); in Spark
both are built-in sources, so "framework prepared" becomes "works". The
TCP JSON-lines input (C5) is ``lumberjack.TcpLinesSpoolSource``, which
spools lines so they replay like every other body.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def stream_spool_dir(spark: SparkSession, path: str, whole_body: bool = True) -> DataFrame:
    """Tail a landing directory of spooled request bodies.

    ``whole_body=True`` reads one row per file (one HTTP request body —
    the reference's batch unit, main.go:332) via the text source's
    ``wholetext``; ``False`` reads line-by-line, which is equivalent for
    NDJSON formats and preferable when bodies are concatenated into large
    spool segments.
    """
    return spark.readStream.format("text").option("wholetext", str(whole_body).lower()).load(path)


#: The record schema the Spark Kafka source emits — the contract
#: kafka_value_strings consumes. Kept here so the projection is testable
#: against Kafka-shaped records without a broker (this sandbox has neither
#: the spark-sql-kafka package nor a broker; tests/test_streaming.py pins
#: both the projection semantics on this schema and the absent-package
#: failure mode).
KAFKA_RECORD_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset bigint, "
    "timestamp timestamp, timestampType int"
)


def kafka_value_strings(raw: DataFrame) -> DataFrame:
    """Kafka records → ``value: string`` rows the wire parsers consume.

    Pure projection (UTF-8 decode of the value bytes, other record fields
    pruned away), shared by the real stream and the broker-less tests.
    """
    return raw.select(F.col("value").cast("string").alias("value"))


def stream_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka source (C2, config.yaml:27-32) → value strings.

    Requires the spark-sql-kafka package on the cluster; the call itself is
    environment-independent (fails at plan build with "Failed to find data
    source: kafka" when absent — asserted in tests).
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return kafka_value_strings(raw)
