"""Runnable service: the drop-in equivalent of the reference converter
process (main.go:140-200) — load config, start the HTTP receiver, run the
streaming pipeline(s), sink to ClickHouse or parquet.

    python -m filebeat_to_clickhouse_spark [--config /path/config.yaml]
        [--sink parquet|clickhouse] [--out /data/logs] [--once]

Point Filebeat's ``output.elasticsearch.hosts`` at the receiver port,
exactly as with the reference (README.md:160-170). ``--once`` drains the
current spool backlog and exits (smoke/batch runs); default runs until
interrupted with a processing-time trigger. If any stream fails, the
others and the receiver are stopped and the exit status is 1.
"""

from __future__ import annotations

import argparse
import os
import signal
import sys
import threading


class _ServiceFront:
    """The HTTP receiver plus any enabled TCP/Redis input sidecars, with
    the receiver's single-object contract (.port, .stop()) preserved."""

    def __init__(self, receiver, sidecars):
        self._receiver = receiver
        self._sidecars = sidecars
        self.port = receiver.port
        self.spool_dir = receiver.spool_dir

    def stop(self) -> None:
        for s in self._sidecars:
            s.stop()
        self._receiver.stop()


def build_service(cfg, sink: str, out_path: str, once: bool, spark=None):
    """Start receiver (+ enabled input sidecars) + streaming queries;
    returns (front, queries). Reference parity: inputs.redis and
    inputs.logstash (config.yaml:21-24, 35-40) start the RESP and
    Lumberjack sidecars the reference declares but stubs.

    One stream per wire format (``receiver.FORMATS``, bulk first), plus
    ``kafka-connector`` in Kafka connector mode, whatever inputs are
    enabled: the sidecars land NDJSON in ``<spool>/bulk/``, which the bulk
    stream already reads."""
    from .config import PipelineConfig
    from .session import get_spark
    from .streaming.pipeline import parse_stream
    from .streaming.receiver import FORMATS, SpoolReceiver
    from .streaming.sink import foreach_batch_clickhouse_http, foreach_batch_parquet
    from .streaming.sources import stream_spool_dir

    assert isinstance(cfg, PipelineConfig)
    spark = spark or get_spark("filebeat-to-clickhouse-spark")
    receiver = SpoolReceiver(cfg.spool_dir, host=cfg.server.host, port=cfg.server.port).start()

    sidecars = []
    kafka_rows = None
    rcfg = cfg.inputs.get("redis")
    if rcfg is not None and rcfg.enabled:
        from .streaming.redis_source import RedisSpoolSource

        addr = rcfg.options.get("address", "localhost:6379")
        rhost, _, rport = addr.partition(":")
        sidecars.append(
            RedisSpoolSource(
                cfg.spool_dir,
                host=rhost or "127.0.0.1",
                port=int(rport or 6379),
                key=rcfg.options.get("key", "filebeat:logs"),
                mode=rcfg.options.get("mode", "list"),
                password=rcfg.options.get("password", ""),
            ).start()
        )
    lcfg = cfg.inputs.get("logstash")
    if lcfg is not None and lcfg.enabled:
        from .streaming.lumberjack import LumberjackSpoolSource

        sidecars.append(
            LumberjackSpoolSource(
                cfg.spool_dir,
                host=cfg.server.host,
                port=int(lcfg.options.get("port", 5044)),
            ).start()
        )
    kcfg = cfg.inputs.get("kafka")
    if kcfg is not None and kcfg.enabled:
        # two rungs (C2, config.yaml:27-32): mode="connector" is the
        # production path — Spark's own Kafka source with offset tracking
        # inside Structured Streaming (requires spark-sql-kafka on the
        # cluster; fails at plan build with a clear error when absent) —
        # and mode="sidecar" is the dependency-free stdlib wire-protocol
        # client spooling to the bulk landing dir like the Redis/Lumberjack
        # inputs, which is also what the in-repo e2e tests exercise.
        brokers = kcfg.options.get("brokers", ["localhost:9092"])
        topic = kcfg.options.get("topic", "filebeat")
        if kcfg.options.get("mode", "connector") == "sidecar":
            from .streaming.kafka_source import KafkaSpoolSource

            sidecars.append(
                KafkaSpoolSource(cfg.spool_dir, bootstrap=brokers[0], topic=topic).start()
            )
        else:
            from .streaming.sources import stream_kafka

            kafka_rows = parse_stream(
                stream_kafka(spark, ",".join(brokers), topic), "bulk"
            )
    tcfg = cfg.inputs.get("tcp")
    if tcfg is not None and tcfg.enabled:
        from .streaming.lumberjack import TcpLinesSpoolSource

        sidecars.append(
            TcpLinesSpoolSource(
                cfg.spool_dir,
                host=cfg.server.host,
                port=int(tcfg.options.get("port", 9000)),
            ).start()
        )

    # one sink fn PER stream, namespaced by format (sink_id): every query
    # numbers its own epochs from 0, so a shared idempotence namespace
    # (parquet epoch markers, ClickHouse dedup tokens) would collide
    # across queries and silently drop whole micro-batches
    if sink == "clickhouse":
        ch = cfg.clickhouse

        def make_sink(fmt):
            return foreach_batch_clickhouse_http(
                host=ch.host, port=ch.port, database=ch.database,
                table=ch.table, user=ch.user, password=ch.password,
                idempotent=ch.idempotent, batch_id_col=ch.batch_id_col,
                sink_id=fmt,
            )
    else:
        def make_sink(fmt):
            return foreach_batch_parquet(
                out_path, idempotent=cfg.parquet_idempotent, sink_id=fmt
            )

    queries = []
    streams = [
        (fmt, parse_stream(stream_spool_dir(spark, os.path.join(cfg.spool_dir, fmt)), fmt))
        for fmt in FORMATS
    ]
    if kafka_rows is not None:
        streams.append(("kafka-connector", kafka_rows))
    for fmt, rows in streams:
        writer = (
            rows.writeStream.foreachBatch(make_sink(fmt))
            .option("checkpointLocation", os.path.join(cfg.checkpoint_dir, fmt))
            .outputMode("append")
        )
        if once:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(
                processingTime=f"{cfg.trigger_seconds or 5} seconds"
            )
        queries.append(writer.start())
    return _ServiceFront(receiver, sidecars), queries


def _await_streams(queries, stop: threading.Event):
    """Block until every query has ended, one has failed, or ``stop`` is
    set. As with ``spark.streams.awaitAnyTermination``, a failure in any
    of the streams ends the wait. Returns the failed query, else None."""
    while True:
        for q in queries:
            if not q.isActive and q.exception() is not None:
                return q
        if stop.is_set() or not any(q.isActive for q in queries):
            return None
        stop.wait(0.5)


def main(argv: list[str] | None = None) -> int:
    from .config import load_config

    ap = argparse.ArgumentParser(prog="filebeat-to-clickhouse-spark")
    ap.add_argument("--config", default=None, help="YAML config path (else $CONFIG_PATH)")
    ap.add_argument("--sink", choices=("parquet", "clickhouse"), default="parquet")
    ap.add_argument("--out", default="./logs_table", help="parquet sink path")
    ap.add_argument("--once", action="store_true", help="drain backlog and exit")
    args = ap.parse_args(argv)

    cfg = load_config(args.config)
    receiver, queries = build_service(cfg, args.sink, args.out, args.once)
    print(
        f"receiver on {cfg.server.host}:{receiver.port} "
        f"(spool {cfg.spool_dir}); sink={args.sink}; {len(queries)} streams",
        file=sys.stderr,
    )

    stop = threading.Event()
    signal.signal(signal.SIGINT, lambda *a: stop.set())
    signal.signal(signal.SIGTERM, lambda *a: stop.set())
    try:
        failed = _await_streams(queries, stop)
        for q in queries:
            q.stop()
    finally:
        receiver.stop()
    if failed is not None:
        print(f"stream {failed.id} failed: {failed.exception()}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
