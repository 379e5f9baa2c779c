"""Open-loop load generator for the ingest benchmark (stdlib only).

Runs as its own process, separate from the service under test, and posts
Filebeat-style Elasticsearch bulk bodies to ``POST /_bulk``:

    python3 loadgen.py --port 8080 --seed 1 --gen s --events-per-req 2 \
        --rate 50 --seconds 12 --threads 4 --out steady.json
    python3 loadgen.py --port 8080 --seed 1 --gen b --events-per-req 2 \
        --burst 600 --threads 4 --align-ms 1000 100 --out burst.json

``--rate`` gives an open loop: request ``i`` is due at ``start + i/rate``
whatever the service does, and every latency is timed from that due time.
``--burst`` makes every request due at ``start`` and sends them back to
back. Thread ``k`` of ``--threads`` sends requests ``k, k+T, k+2T, ...``;
the receiver speaks HTTP/1.0, so each request opens its own connection.

Every event carries its generator id, request index, event index and due
time (``fields.gen`` / ``fields.due_ns``), and its other fields follow from
``(seed, gen, request, event)`` alone, so the benchmark can recompute what
the sink must hold. The result file lists one record per request:
``[index, due_ns, send_ns, ack_ns, http_status, n_events]`` (status -1 when
the connection was refused or broke). The wall-clock start of the schedule
is printed to stdout as soon as every body is built.
"""

from __future__ import annotations

import argparse
import http.client
import json
import random
import threading
import time
import zlib

_WORDS = (
    "GET POST PUT request served user session cache miss hit upstream "
    "timeout retry shard index query latency worker queue flush commit "
    "token auth denied granted payload bytes gzip route handler status"
).split()
_TEXT = " ".join(_WORDS * 2)
_LEVELS = ("INFO", "INFO", "INFO", "WARN", "ERROR", "DEBUG")
_DUE_SLOT = b"0000000000000000000"  # 19 digits: wide enough for time_ns()
_M64 = (1 << 64) - 1


def event_id(gen: str, req: int, ev: int) -> str:
    """The id an event carries at the head of its ``message``."""
    return f"pb {gen} {req} {ev}"


def _mix(x: int) -> int:
    """splitmix64's finalizer: a bijection on 64-bit integers."""
    x = (x + 0x9E3779B97F4A7C15) & _M64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _M64
    return x ^ (x >> 31)


def request_key(seed: int, gen: str, req: int) -> int:
    """The 64-bit key every event of one request derives its fields from."""
    return _mix(_mix(_mix(seed & _M64) ^ zlib.crc32(gen.encode())) ^ req)


def event(key: int, gen: str, req: int, ev: int) -> dict:
    """The expected sink row fields of event ``ev`` of the request with
    ``key``: one 64-bit draw per event, so any event is cheap to recompute
    and the benchmark checks the sink without shipping what was sent."""
    r = _mix(key ^ ev)
    r, day = divmod(r, 28)
    r, hour = divmod(r, 24)
    r, minute = divmod(r, 60)
    r, second = divmod(r, 60)
    r, host = divmod(r, 16)
    r, cont = divmod(r, 8)
    r, level = divmod(r, len(_LEVELS))
    r, start = divmod(r, len(_TEXT) // 2)
    return {
        "timestamp": f"2025-12-{day + 1:02d}T{hour:02d}:{minute:02d}:{second:02d}Z",
        "message": f"{event_id(gen, req, ev)} {_LEVELS[level]} {_TEXT[start:start + 20 + r % 60]}",
        "host_name": f"node-{host:02d}",
        "container": f"svc-{cont}",
    }


def request_events(seed: int, gen: str, req: int, n_events: int) -> list[dict]:
    """The expected sink row fields of every event in one request."""
    key = request_key(seed, gen, req)
    return [event(key, gen, req, ev) for ev in range(n_events)]


def request_body(seed: int, gen: str, req: int, n_events: int) -> bytes:
    """One bulk body; its due time is a fixed-width slot filled at send.

    Every field is drawn from a fixed ASCII vocabulary with no character
    JSON would escape, so the lines are formatted directly.
    """
    due = _DUE_SLOT.decode()
    lines = []
    for e in request_events(seed, gen, req, n_events):
        lines.append('{"create":{"_index":"filebeat-8.11.0"}}')
        lines.append(
            f'{{"@timestamp":"{e["timestamp"]}","message":"{e["message"]}",'
            f'"host":{{"name":"{e["host_name"]}"}},"container":{{"name":"{e["container"]}"}},'
            f'"agent":{{"name":"filebeat","version":"8.11.0"}},'
            f'"log":{{"file":{{"path":"/var/log/{e["container"]}.log"}}}},'
            f'"fields":{{"gen":"{gen}","due_ns":"{due}"}}}}'
        )
    return ("\n".join(lines) + "\n").encode()


def _post(port: int, body: bytes) -> int:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request("POST", "/_bulk", body=body, headers={"Content-Type": "application/x-ndjson"})
        resp = conn.getresponse()
        resp.read()
        return resp.status
    finally:
        conn.close()


def run(port: int, seed: int, gen: str, n_events: int, offsets_ns: list[int], threads: int,
        align_ns: tuple[int, int] | None = None, on_start=None) -> dict:
    """Send request ``i`` at ``start + offsets_ns[i]``; return the records.

    ``align_ns = (period, phase)`` puts the start at ``phase`` past a
    wall-clock multiple of ``period``, so a schedule meets a processing-time
    trigger (which fires on such multiples) at the same phase on every run.
    ``on_start(start_ns)`` is called with the wall-clock start once every
    body is built, before the first send is due.
    """
    bodies = [request_body(seed, gen, i, n_events) for i in range(len(offsets_ns))]
    records: list[list[int] | None] = [None] * len(bodies)
    perf_now, wall_now = time.perf_counter_ns(), time.time_ns()
    wall0 = wall_now + 50_000_000  # body generation is done; start shortly after
    if align_ns is not None:
        period, phase = align_ns
        wall0 = -(-(wall0 - phase) // period) * period + phase
    perf0 = perf_now + (wall0 - wall_now)
    if on_start is not None:
        on_start(wall0)

    def worker(k: int) -> None:
        for i in range(k, len(bodies), threads):
            delay = perf0 + offsets_ns[i] - time.perf_counter_ns()
            if delay > 0:
                time.sleep(delay / 1e9)
            due = wall0 + offsets_ns[i]
            body = bodies[i].replace(_DUE_SLOT, str(due).zfill(19).encode())
            send = time.time_ns()
            try:
                status = _post(port, body)
            except (OSError, http.client.HTTPException):
                status = -1
            records[i] = [i, due, send, time.time_ns(), status, n_events]

    pool = [threading.Thread(target=worker, args=(k,)) for k in range(threads)]
    for t in pool:
        t.start()
    for t in pool:
        t.join()
    return {"gen": gen, "start_ns": wall0, "requests": records}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--gen", required=True, help="generator id carried by every event")
    ap.add_argument("--events-per-req", type=int, required=True)
    ap.add_argument("--threads", type=int, required=True)
    ap.add_argument("--rate", type=float, help="open loop: requests per second")
    ap.add_argument("--seconds", type=float, help="open loop: schedule length")
    ap.add_argument("--burst", type=int, help="burst: number of requests, all due at start")
    ap.add_argument("--align-ms", type=int, nargs=2, metavar=("PERIOD", "PHASE"),
                    help="start PHASE ms past a wall-clock multiple of PERIOD ms")
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    if a.burst is not None:
        offsets = [0] * a.burst
    else:
        if a.rate is None or a.seconds is None:
            ap.error("give --burst, or --rate with --seconds")
        offsets = [round(i * 1e9 / a.rate) for i in range(round(a.rate * a.seconds))]
    # the start time goes to stdout first, so the caller can time its
    # observations against the schedule while it runs
    align = tuple(ms * 1_000_000 for ms in a.align_ms) if a.align_ms else None
    result = run(a.port, a.seed, a.gen, a.events_per_req, offsets, a.threads, align,
                 on_start=lambda ns: print(ns, flush=True))
    with open(a.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
