"""Kafka consumer sidecar (C2, config.yaml:27-32) — a stdlib-only client
for the legacy Kafka wire protocol that drains a topic into the spool's
``bulk/`` landing dir, where the ordinary bulk file stream takes over
(the same sidecar pattern as the Redis and Lumberjack sources: the
~200 lines that talk the broker protocol stay OUTSIDE Spark and the
Spark side remains an idiomatic file stream).

The reference declares this input and stubs the body with a TODO
(main.go:622-630, "needs the sarama library"); the PRODUCTION rung in
this repo is ``sources.stream_kafka`` — Spark's own Kafka connector
(spark-sql-kafka), which brings offset tracking, rebalancing and
exactly-once into Structured Streaming. That connector's jar (and any
broker) is absent from this sandbox, so the JVM path can only be
plan-tested; THIS sidecar exists to give the Kafka path the same
in-repo end-to-end evidence grade as the Redis/Lumberjack sources —
bytes in over a real socket speaking the real wire format, parquet out
— and doubles as a dependency-free fallback for environments without
the connector.

Protocol surface (pinned to the oldest, stable versions — the fixed
layouts every broker still serves):

- ``Metadata v0`` (api_key 3): topic → partitions and their leaders.
- ``ListOffsets v0`` (api_key 2): earliest/latest offset per partition.
- ``Fetch v0`` (api_key 1): MessageSet v0/v1 — [offset int64, size
  int32, crc int32, magic int8, attrs int8, (v1: timestamp int64),
  key bytes, value bytes]. CRC-validated (zlib.crc32); gzip-compressed
  wrapper messages (attrs & 3 == 1) unwrap to a nested message set;
  a partial trailing message (broker truncation at max_bytes) ends the
  batch, exactly as the real protocol specifies.

Delivery semantics: offsets persist to ``<spool>/kafka.offsets`` AFTER
the batch body is spooled (write-then-commit), so a sidecar crash
replays the uncommitted tail — at-least-once into the spool; the
streaming pipeline's digest/token dedup collapses replays downstream
(the same contract as the ClickHouse sink's insert-token replay).
"""

from __future__ import annotations

import itertools
import json
import os
import socket
import struct
import threading
import zlib

from .receiver import spool_body

API_FETCH, API_LIST_OFFSETS, API_METADATA = 1, 2, 3
EARLIEST, LATEST = -2, -1


class KafkaWireError(RuntimeError):
    """Broker-reported error code or unparseable frame."""


class KafkaOffsetOutOfRange(KafkaWireError):
    """Fetch error 1: the requested offset fell outside the log (retention
    truncation, unclean failover, topic recreation). Recoverable by
    re-resolving the start offset — real clients call this
    ``auto.offset.reset``."""


# -- primitive encoders ----------------------------------------------------
def _str(s: str) -> bytes:
    b = s.encode()
    return struct.pack(">h", len(b)) + b


def _request(api_key: int, correlation_id: int, body: bytes, client_id: str = "fbck") -> bytes:
    head = struct.pack(">hhi", api_key, 0, correlation_id) + _str(client_id)
    frame = head + body
    return struct.pack(">i", len(frame)) + frame


class _Reader:
    """Cursor over one response frame."""

    def __init__(self, buf: bytes):
        self.buf, self.pos = buf, 0

    def take(self, n: int) -> bytes:
        if self.pos + n > len(self.buf):
            raise KafkaWireError("truncated response")
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def i16(self) -> int:
        return struct.unpack(">h", self.take(2))[0]

    def i32(self) -> int:
        return struct.unpack(">i", self.take(4))[0]

    def i64(self) -> int:
        return struct.unpack(">q", self.take(8))[0]

    def string(self) -> str:
        n = self.i16()
        return "" if n < 0 else self.take(n).decode()


def _parse_message_set(buf: bytes) -> tuple[list[tuple[int, bytes]], int]:
    """MessageSet v0/v1 bytes → ([(offset, value)], next_offset_hint).

    Handles CRC validation, gzip wrapper messages (nested sets), and the
    partial trailing message a broker's max_bytes truncation leaves."""
    out: list[tuple[int, bytes]] = []
    pos, last = 0, -1
    while pos + 12 <= len(buf):
        offset, size = struct.unpack(">qi", buf[pos : pos + 12])
        if pos + 12 + size > len(buf):
            break  # partial trailing message: fetch again from last+1
        msg = buf[pos + 12 : pos + 12 + size]
        pos += 12 + size
        crc, magic, attrs = struct.unpack(">iBB", msg[:6])
        if crc != struct.unpack(">i", struct.pack(">I", zlib.crc32(msg[4:]) & 0xFFFFFFFF))[0]:
            raise KafkaWireError(f"bad message CRC at offset {offset}")
        r = _Reader(msg[6:])
        if magic == 1:
            r.i64()  # timestamp
        klen = r.i32()
        if klen >= 0:
            r.take(klen)
        vlen = r.i32()
        value = b"" if vlen < 0 else r.take(vlen)
        codec = attrs & 0x07
        if codec == 0:
            out.append((offset, value))
            last = max(last, offset)
        elif codec == 1:  # gzip wrapper: value is a nested message set
            inner, _ = _parse_message_set(zlib.decompress(value, 16 + zlib.MAX_WBITS))
            # v0 wrappers carry absolute inner offsets; v1 wrappers carry
            # relative ones (wrapper offset = last inner). Detect: relative
            # sets start at 0 while the wrapper offset is the LAST message.
            if inner and magic == 1 and inner[0][0] == 0:
                base = offset - inner[-1][0]
                inner = [(base + o, v) for o, v in inner]
            out.extend(inner)
            last = max(last, offset)
        else:
            raise KafkaWireError(
                f"unsupported compression codec {codec} (only none/gzip without deps)"
            )
    return out, last


class KafkaSpoolSource:
    """Drain a Kafka topic into ``spool_dir/bulk/`` as NDJSON bodies.

    Bodies land through the HTTP receiver's ``spool_body``, so the file
    stream never observes partial writes and the bulk stream
    (``stream_spool_dir(spark, os.path.join(spool, "bulk"))``) parses them
    with the bulk parser's bare-document tolerance.
    """

    def __init__(
        self,
        spool_dir: str,
        bootstrap: str = "127.0.0.1:9092",
        topic: str = "filebeat",
        poll_interval: float = 0.2,
        max_bytes: int = 1 << 20,
        max_fetch_bytes: int = 1 << 26,
        start: int = EARLIEST,
    ):
        self.spool_dir, self.topic = spool_dir, topic
        host, _, port = bootstrap.partition(":")
        self.bootstrap = (host, int(port or 9092))
        self.poll_interval, self.max_bytes, self.start_at = poll_interval, max_bytes, start
        self.max_fetch_bytes = max(max_fetch_bytes, max_bytes)
        self.last_error: Exception | None = None  # latest drain-loop failure
        # partition → offset of a message larger than max_fetch_bytes: that
        # partition is quarantined (no refetch ladder, no reconnect storm)
        # while every OTHER partition keeps draining; visible to callers
        self.poisoned: dict[int, int] = {}
        os.makedirs(os.path.join(spool_dir, "bulk"), exist_ok=True)
        self._offsets_path = os.path.join(spool_dir, "kafka.offsets")
        self._corr = itertools.count(1)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    # -- wire --------------------------------------------------------------
    def _call(self, sock, api_key: int, body: bytes) -> _Reader:
        corr = next(self._corr)
        sock.sendall(_request(api_key, corr, body))
        f = sock.makefile("rb")
        (size,) = struct.unpack(">i", f.read(4))
        r = _Reader(f.read(size))
        if r.i32() != corr:
            raise KafkaWireError("correlation id mismatch")
        return r

    def _metadata(self, sock) -> tuple[dict[int, tuple[str, int]], dict[int, int]]:
        """→ ({node_id: (host, port)}, {partition: leader_node})."""
        r = self._call(sock, API_METADATA, struct.pack(">i", 1) + _str(self.topic))
        brokers = {}
        for _ in range(r.i32()):
            node = r.i32()
            brokers[node] = (r.string(), r.i32())
        leaders: dict[int, int] = {}
        for _ in range(r.i32()):
            terr, _name = r.i16(), r.string()
            if terr:
                raise KafkaWireError(f"metadata error {terr} for topic {self.topic}")
            for _ in range(r.i32()):
                perr, part, leader = r.i16(), r.i32(), r.i32()
                for arr in range(2):  # replicas + isr arrays
                    r.take(4 * r.i32())
                if perr == 0:
                    leaders[part] = leader
        return brokers, leaders

    def _list_offset(self, sock, part: int) -> int:
        body = struct.pack(">i", -1) + struct.pack(">i", 1) + _str(self.topic)
        body += struct.pack(">i", 1) + struct.pack(">iqi", part, self.start_at, 1)
        r = self._call(sock, API_LIST_OFFSETS, body)
        r.i32()  # topic count (1)
        r.string()
        r.i32()  # partition count (1)
        _part, err = r.i32(), r.i16()
        if err:
            raise KafkaWireError(f"list_offsets error {err}")
        n = r.i32()
        return r.i64() if n > 0 else 0

    def _fetch(
        self, sock, part: int, offset: int, max_bytes: int | None = None
    ) -> tuple[list[tuple[int, bytes]], int, int]:
        """→ (messages, next_offset_hint, raw_set_bytes). A nonempty raw set
        that parses to ZERO messages means the first message is bigger than
        ``max_bytes`` (the broker truncates mid-message) — the caller must
        grow the fetch size, not treat it as an idle poll."""
        mb = self.max_bytes if max_bytes is None else max_bytes
        body = struct.pack(">iii", -1, 100, 1) + struct.pack(">i", 1) + _str(self.topic)
        body += struct.pack(">i", 1) + struct.pack(">iqi", part, offset, mb)
        r = self._call(sock, API_FETCH, body)
        r.i32()  # topic count (1)
        r.string()
        r.i32()  # partition count (1)
        _part, err, _hw = r.i32(), r.i16(), r.i64()
        if err == 1:
            raise KafkaOffsetOutOfRange(f"offset {offset} out of range on partition {part}")
        if err:
            raise KafkaWireError(f"fetch error {err} on partition {part}")
        raw = r.take(r.i32())
        msgs, last = _parse_message_set(raw)
        return msgs, last, len(raw)

    # -- offset persistence (write body, THEN commit: at-least-once) -------
    def _load_offsets(self) -> dict[int, int]:
        try:
            with open(self._offsets_path) as f:
                return {int(k): v for k, v in json.load(f).items()}
        except (OSError, ValueError):
            return {}

    def _save_offsets(self, offsets: dict[int, int]) -> None:
        tmp = self._offsets_path + ".part"
        with open(tmp, "w") as f:
            json.dump({str(k): v for k, v in offsets.items()}, f)
        os.replace(tmp, self._offsets_path)

    # -- loop --------------------------------------------------------------
    def _run(self) -> None:
        """Reconnect-forever drain loop. ANY error tears down the
        connections, records itself in ``last_error``, and retries with
        capped exponential backoff — a broker restart, a stale committed
        offset (fetch error 1), a CRC mismatch, a corrupt gzip wrapper, or
        a stale leader id missing from the broker list (KeyError) must NOT
        silently kill the daemon thread and with it all future ingestion;
        the catch is deliberately ``Exception``, not a curated tuple, for
        exactly that reason. Only ``stop()`` ends the loop. The one
        non-retriable condition — a single message larger than
        ``max_fetch_bytes`` — quarantines that partition in ``poisoned``
        instead of raising, so the other partitions keep draining and the
        loop never burns the fetch-size ladder on a lost cause."""
        backoff = self.poll_interval
        while not self._stop.is_set():
            conns: dict[int, socket.socket] = {}
            boot = None
            try:
                boot = socket.create_connection(self.bootstrap, timeout=5)
                brokers, leaders = self._metadata(boot)
                for part, node in leaders.items():
                    host, port = brokers[node]
                    addr = (host or self.bootstrap[0], port)
                    conns[part] = (
                        boot if addr == self.bootstrap else socket.create_connection(addr, timeout=5)
                    )
                offsets = self._load_offsets()
                for part in leaders:
                    if part not in offsets:
                        offsets[part] = self._list_offset(conns[part], part)
                # commit the RESOLVED start offsets immediately: with
                # start=LATEST, an error before a partition's first spool
                # would otherwise re-run _list_offset at the NEW tail on
                # reconnect, silently skipping everything that arrived in
                # between (a start offset marks nothing as consumed, so
                # saving it here cannot violate at-least-once)
                self._save_offsets(offsets)
                # per-partition fetch size: grown when a message exceeds it
                # (truncated set parses to zero messages), reset after drain
                fetch_bytes = dict.fromkeys(leaders, self.max_bytes)
                while not self._stop.is_set():
                    drained = 0
                    for part in sorted(leaders):
                        if self.poisoned.get(part) == offsets[part]:
                            continue  # quarantined oversized message
                        try:
                            msgs, last, raw_len = self._fetch(
                                conns[part], part, offsets[part], fetch_bytes[part]
                            )
                        except KafkaOffsetOutOfRange as e:
                            # the committed offset fell outside the log
                            # (retention truncation, topic recreation):
                            # re-resolve per start_at and re-commit — the
                            # auto.offset.reset recovery. Without this, an
                            # invalid committed offset would bounce off
                            # error 1 through the reconnect loop forever.
                            self.last_error = e
                            offsets[part] = self._list_offset(conns[part], part)
                            self._save_offsets(offsets)
                            drained += 1  # retry immediately, not idle
                            continue
                        if not msgs:
                            if raw_len > 0 and last >= offsets[part]:
                                # complete set with no extractable values
                                # (e.g. a gzip wrapper whose inner set is
                                # empty after compaction): advance past it —
                                # growing the fetch here would misread it as
                                # oversized and stall the partition
                                offsets[part] = last + 1
                                self._save_offsets(offsets)
                                drained += 1
                            elif raw_len > 0:  # oversized head message
                                if fetch_bytes[part] >= self.max_fetch_bytes:
                                    self.poisoned[part] = offsets[part]
                                    self.last_error = KafkaWireError(
                                        f"message at partition {part} offset {offsets[part]} "
                                        f"exceeds max_fetch_bytes={self.max_fetch_bytes}; "
                                        "partition quarantined"
                                    )
                                else:
                                    fetch_bytes[part] = min(
                                        fetch_bytes[part] * 2, self.max_fetch_bytes
                                    )
                                    drained += 1  # retry immediately, not idle
                            continue
                        fetch_bytes[part] = self.max_bytes
                        spool_body(self.spool_dir, "bulk", b"\n".join(v for _, v in msgs))
                        offsets[part] = max(o for o, _ in msgs) + 1
                        self._save_offsets(offsets)
                        drained += len(msgs)
                    backoff = self.poll_interval  # healthy pass resets it
                    if drained == 0:
                        self._stop.wait(self.poll_interval)
            except Exception as e:  # noqa: BLE001 — see docstring: never die
                if self._stop.is_set():
                    return
                self.last_error = e
                self._stop.wait(backoff)
                backoff = min(backoff * 2, 10.0)
            finally:
                for s in {id(c): c for c in [*conns.values(), boot] if c is not None}.values():
                    try:
                        s.close()
                    except OSError:
                        pass

    # -- lifecycle ---------------------------------------------------------
    def start(self) -> "KafkaSpoolSource":
        self._thread.start()
        return self

    def stop(self, timeout: float = 5.0) -> None:
        self._stop.set()
        self._thread.join(timeout)

    def __enter__(self) -> "KafkaSpoolSource":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()


def encode_message_set(values: list[bytes], base_offset: int = 0, magic: int = 0) -> bytes:
    """Encode a MessageSet v0/v1 — the inverse of ``_parse_message_set``.

    Lives here (not in tests) because it IS part of the wire surface: a
    producer-side spool replay or a test broker both need it, and keeping
    encode/decode adjacent is what keeps them honest against each other
    (the property test round-trips them)."""
    out = []
    for i, v in enumerate(values):
        body = struct.pack(">BB", magic, 0)
        if magic == 1:
            body += struct.pack(">q", 0)
        body += struct.pack(">i", -1)  # null key
        body += struct.pack(">i", len(v)) + v
        msg = struct.pack(">i", struct.unpack(">i", struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF))[0]) + body
        out.append(struct.pack(">qi", base_offset + i, len(msg)) + msg)
    return b"".join(out)
