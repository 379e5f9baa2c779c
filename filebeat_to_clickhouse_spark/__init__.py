"""filebeat_to_clickhouse_spark — a PySpark-native log analytics engine.

Re-expresses the capabilities of the reference pipeline
``shoushinya123/filebeat-to-clickhouse`` (a Go Filebeat→ClickHouse ETL shim,
main.go) as an idiomatic Spark engine:

- ``schema``     — event / log-row schemas (reference: main.go:72-83, init.sql:7-23)
- ``io``         — parquet table loading with nanosecond-timestamp handling
- ``normalize``  — timestamp parse, nested-field flatten, raw_json (main.go:438-516)
- ``ingest``     — wire-format parsers: ES bulk NDJSON, Logstash HTTP, JSON
  (main.go:257-380, 562-609)
- ``queries``    — the analytic query registry (the driver contract surface)
- ``streaming``  — end-to-end Structured Streaming pipeline assembly:
  ``receiver`` (HTTP spool receiver) and the Redis/Lumberjack/TCP/Kafka
  input sidecars, ``sources`` (file spool, kafka), ``sink`` (ClickHouse /
  parquet via foreachBatch, main.go:438-558), ``pipeline``
- ``extensions`` — 100-TB-scale training-data ops: dedup (exact/MinHash-LSH/
  SimHash/Jaccard), similarity search (brute-force + LSH ANN), text analysis,
  multimodal column plumbing
"""

__version__ = "0.1.0"
