"""Ingest workloads: the deployed service (``__main__.build_service``: HTTP
receiver, one file stream per format, exactly-once parquet sink) driven
from outside by the open-loop generator in ``loadgen.py``.

A run goes through these phases:

1. Set-up, ``setup_repeats`` times: SparkSession, service, and one warm-up
   request whose epoch commit marker ``_epochs/bulk-<id>`` must appear.
   Every set-up but the last is torn down again, session included.
2. Steady: a burst of ``warm_burst_requests`` that warms the JIT, then an
   open loop at ``rate_req_s`` for ``warm_s + seconds``; only requests due
   in its last ``seconds`` are measured.
3. Burst: ``burst_requests`` requests sent as fast as the connections
   allow, once the steady phase is durable.

Both schedules start ``align_phase_ms`` past a trigger boundary (the
processing-time trigger fires on wall-clock multiples of its interval), so
the phase at which load meets the trigger is the same on every run.
4. Checks, untimed: every acked event is in exactly one committed epoch's
   files, with the fields it was sent with.

An event is durable when the commit marker of the epoch holding its row
exists (the sink writes the marker last), so every latency is read from
outside: from the event's due time to its marker's modification time.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import subprocess
import sys
import time
from datetime import datetime, timezone

import loadgen
import stats

FMT = "bulk"  # the stream build_service starts first; the only one fed here
_EPOCH_FILE = re.compile(rf"epoch-{FMT}-(\d+)-\d+\.parquet$")
# Spark's order of the trigger phases in MicroBatchExecution; the batch
# span lays its children out in this order.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
_SEC = 1_000_000_000
_MS = 1_000_000


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vmhwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_ticks() -> tuple[int, int]:
    """``(steal, total)`` jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def _iso_ns(ts: str) -> int:
    dt = datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1_000_000) * 1000


class Service:
    """One deployment of the service under its own directory."""

    def __init__(self, base: str, trigger_s: int):
        from filebeat_to_clickhouse_spark.__main__ import build_service
        from filebeat_to_clickhouse_spark.config import PipelineConfig, ServerConfig

        cfg = PipelineConfig(
            server=ServerConfig(host="127.0.0.1", port=0),
            spool_dir=os.path.join(base, "spool"),
            checkpoint_dir=os.path.join(base, "checkpoints"),
            trigger_seconds=trigger_s,
            parquet_idempotent=True,
        )
        self.sink = os.path.join(base, "sink")
        self.spool = os.path.join(cfg.spool_dir, FMT)
        self.front, self.queries = build_service(cfg, "parquet", self.sink, once=False)
        self.query = self.queries[0]
        self.batches: dict[int, dict] = {}  # executed batches by id

    def markers(self) -> dict[int, int]:
        """Committed epochs → marker modification time (ns)."""
        out = {}
        for m in glob.glob(os.path.join(self.sink, "_epochs", f"{FMT}-*")):
            out[int(m.rsplit("-", 1)[1])] = os.stat(m).st_mtime_ns
        return out

    def spooled(self) -> list[tuple[str, int, int]]:
        """``(path, mtime_ns, bytes)`` of every body the receiver spooled."""
        out = []
        with os.scandir(self.spool) as it:
            for e in it:
                if e.name.endswith(".body"):
                    st = e.stat()
                    out.append((e.path, st.st_mtime_ns, st.st_size))
        return out

    def poll_progress(self) -> None:
        """Keep every executed batch's progress (Spark keeps the last 100)."""
        for p in self.query.recentProgress:
            d = p.durationMs
            if "addBatch" not in d:
                continue  # a trigger that found no data
            src = p.sources[0].description
            if not src.rstrip("]").endswith(f"/{FMT}"):
                raise RuntimeError(f"first stream is not the {FMT} stream: {src}")
            self.batches[p.batchId] = {
                "start_ns": _iso_ns(p.timestamp),
                "files": p.numInputRows,  # wholetext: one row per spooled body
                "durations": dict(d),
            }

    def wait_drained(self, timeout_s: float) -> None:
        """Return once every spooled body is in a committed batch."""
        deadline = time.monotonic() + timeout_s
        while True:
            if self.query.exception() is not None:
                raise RuntimeError(f"stream failed: {self.query.exception()}")
            self.poll_progress()
            n = sum(1 for name in os.listdir(self.spool) if name.endswith(".body"))
            if sum(b["files"] for b in self.batches.values()) >= n:
                return
            if time.monotonic() > deadline:
                raise RuntimeError(f"spool not drained within {timeout_s} s")
            time.sleep(0.05)

    def stop(self) -> None:
        try:
            for q in self.queries:
                q.stop()
        finally:
            self.front.stop()


class IngestRun:
    """One run of an ingest workload; :meth:`run` returns its report."""

    def __init__(self, run_dir: str, params: dict, seed: int, seconds: int, trace: bool, threads: int):
        self.dir = run_dir
        self.p = params
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.threads = threads
        self.svc: Service | None = None
        self.sent: dict[str, tuple[str, int, int]] = {}  # acked event id → (phase, due, ack)
        self.requests: dict[str, list[list[int]]] = {}  # phase → loadgen records
        self.acked: list[tuple[str, list[int]]] = []  # (generator id, record) of 200s
        self.failed_requests = 0
        self.jobs: dict[str, set[int]] = {}  # traced: job ids of the bulk stream at marks

    # -- phases ---------------------------------------------------------

    def setup(self) -> list[float]:
        """Set the service up ``setup_repeats`` times; return each set-up's
        seconds, up to its warm-up epoch's commit marker, less the time the
        warm-up request waited in the spool for a trigger to fire (idle
        time that depends only on where the request fell in the interval)."""
        from pyspark.sql import SparkSession

        times = []
        for k in range(self.p["setup_repeats"]):
            t0 = time.perf_counter()
            svc = Service(os.path.join(self.dir, f"svc{k}"), self.p["trigger_seconds"])
            try:
                rec = loadgen.run(
                    svc.front.port, self.seed, f"w{k}", self.p["events_per_request"], [0], 1
                )["requests"][0]
                if rec[4] != 200:
                    raise RuntimeError(f"warm-up request failed with status {rec[4]}")
                deadline = time.monotonic() + 120
                while not svc.markers():
                    if svc.query.exception() is not None or time.monotonic() > deadline:
                        raise RuntimeError(f"warm-up epoch never committed: {svc.query.exception()}")
                    time.sleep(0.005)
                # the first set-up counts from process start: session launch included
                took = process_age_s() if k == 0 else time.perf_counter() - t0
                svc.wait_drained(30)
            except BaseException:
                svc.stop()
                raise
            (epoch,) = svc.markers()
            times.append(took - max(0, svc.batches[epoch]["start_ns"] - rec[3]) / _SEC)
            if k == self.p["setup_repeats"] - 1:
                self.svc = svc
                self._record("warmup", rec, f"w{k}")
            else:
                svc.stop()
                SparkSession.builder.getOrCreate().stop()
        return times

    def _record(self, phase: str, rec: list[int], gen: str) -> None:
        idx, due, _send, ack, status, n = rec
        self.requests.setdefault(phase, []).append(rec)
        if status != 200:
            self.failed_requests += 1
            return
        self.acked.append((gen, rec))
        for ev in range(n):
            self.sent[loadgen.event_id(gen, idx, ev)] = (phase, due, ack)

    def _snap_jobs(self, label: str) -> None:
        if self.trace:
            from pyspark.sql import SparkSession

            tracker = SparkSession.builder.getOrCreate().sparkContext.statusTracker()
            self.jobs[label] = set(tracker.getJobIdsForGroup(str(self.svc.query.runId)))

    def _loadgen(self, gen: str, extra: list[str], marks: dict[str, int] | None = None) -> dict:
        """Run the generator process; ``marks`` maps labels to offsets (ns)
        from the schedule's start at which to snapshot the stream's jobs."""
        out = os.path.join(self.dir, f"loadgen-{gen}.json")
        cmd = [
            sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "loadgen.py"),
            "--port", str(self.svc.front.port), "--seed", str(self.seed), "--gen", gen,
            "--events-per-req", str(self.p["events_per_request"]),
            "--threads", str(self.threads), "--out", out,
            "--align-ms", str(self.p["trigger_seconds"] * 1000), str(self.p["align_phase_ms"]), *extra,
        ]
        with subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True) as proc:
            try:
                start = int(proc.stdout.readline() or 0)
                for label, off in sorted((marks or {}).items(), key=lambda kv: kv[1]):
                    time.sleep(max(0.0, (start + off - time.time_ns()) / _SEC))
                    self._snap_jobs(label)
                proc.wait(timeout=150)
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if proc.returncode != 0 or not start:
            raise RuntimeError(f"load generator exited with {proc.returncode}")
        with open(out) as f:
            return json.load(f)

    def steady(self) -> tuple[int, int]:
        """A warm-up burst, then the open loop; returns the measured window
        ``(start_ns, end_ns)`` of due times."""
        res = self._loadgen("x", ["--burst", str(self.p["warm_burst_requests"])])
        for rec in res["requests"]:
            self._record("warm", rec, "x")
        self.svc.wait_drained(90)
        warm = self.p["warm_s"] * _SEC
        length = self.seconds * _SEC
        res = self._loadgen(
            "s",
            ["--rate", str(self.p["rate_req_s"]), "--seconds", str(self.p["warm_s"] + self.seconds)],
            {"steady0": warm, "steady1": warm + length} if self.trace else None,
        )
        w0 = res["start_ns"] + warm
        for rec in res["requests"]:
            self._record("steady" if rec[1] >= w0 else "warm", rec, "s")
        self.svc.wait_drained(60)
        return w0, w0 + length

    def burst(self) -> None:
        self._snap_jobs("burst0")
        res = self._loadgen("b", ["--burst", str(self.p["burst_requests"])])
        for rec in res["requests"]:
            self._record("burst", rec, "b")
        self.svc.wait_drained(90)
        self._snap_jobs("burst1")

    # -- checks ---------------------------------------------------------

    def read_sink(self) -> tuple[list[tuple[str, int]], dict[int, tuple[int, int]], list[str]]:
        """Every sink row as ``(event_id, epoch)``; per epoch its
        ``(files, bytes)``; and the ids of rows whose fields differ from
        what was sent.

        Fields are compared for every event of a body of up to 16 events,
        and for 16 evenly spaced events of a larger one, starting at an
        offset that moves with the request index so that across requests
        every position is checked."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        cols = ["message", "host_name", "container", "timestamp"]
        files: dict[int, tuple[int, int]] = {}
        parts = []
        for path in sorted(glob.glob(os.path.join(self.svc.sink, "ym=*", f"epoch-{FMT}-*.parquet"))):
            epoch = int(_EPOCH_FILE.search(path).group(1))
            nf, nb = files.get(epoch, (0, 0))
            files[epoch] = (nf + 1, nb + os.path.getsize(path))
            t = pq.ParquetFile(path).read(columns=cols)
            parts.append(t.append_column("epoch", pa.array([epoch] * t.num_rows, pa.int64())))
        if not parts:
            return [], files, []
        t = pa.concat_tables(parts)
        words = pc.split_pattern(t["message"], " ", max_splits=4)
        ids = pc.binary_join_element_wise(*(pc.list_element(words, i) for i in range(4)), " ")
        ts = pc.strftime(pc.cast(t["timestamp"], pa.timestamp("s")), format="%Y-%m-%dT%H:%M:%SZ")
        got = pc.binary_join_element_wise(t["message"], t["host_name"], t["container"], ts, "|")
        ids = ids.to_pylist()
        want = {}
        for gen, (idx, _due, _send, _ack, _status, n) in self.acked:
            key = loadgen.request_key(self.seed, gen, idx)
            step = max(1, n // 16)
            for ev in range(idx % step, n, step):
                e = loadgen.event(key, gen, idx, ev)
                want[loadgen.event_id(gen, idx, ev)] = "|".join(
                    (e["message"], e["host_name"], e["container"], e["timestamp"]))
        wrong = [i for i, g in zip(ids, got.to_pylist()) if i in want and want[i] != g]
        return list(zip(ids, t["epoch"].to_pylist())), files, wrong

    # -- the run --------------------------------------------------------

    def run(self) -> dict:
        from pyspark.sql import SparkSession

        wall = [time.perf_counter()]
        ticks0 = cpu_ticks()
        setups = self.setup()
        spark = SparkSession.builder.getOrCreate()
        wall.append(time.perf_counter())
        w0, w1 = self.steady()
        wall.append(time.perf_counter())
        self.burst()
        self.svc.poll_progress()
        wall.append(time.perf_counter())
        rss_jvm = vmhwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
        rss_py = vmhwm_mb("self")
        parse_s = self.measure_parse(spark) if self.trace else None
        self.svc.stop()
        wall.append(time.perf_counter())

        markers = self.svc.markers()
        spooled = self.svc.spooled()
        rows, files, wrong = self.read_sink()
        durable, missing, duplicated, unexpected = stats.attribute(self.sent, rows, markers)
        n_ev = self.p["events_per_request"]
        report = {
            "attempted": sum(len(v) for v in self.requests.values()) * n_ev,
            "failed": self.failed_requests * n_ev
            + len(set(missing) | set(duplicated) | set(wrong)) + len(unexpected),
            "check": {
                "failed_requests": self.failed_requests, "missing": missing[:5],
                "duplicated": duplicated[:5], "wrong_fields": sorted(wrong)[:5],
                "unexpected": unexpected[:5],
            },
        }
        steady = [e for e, v in self.sent.items() if v[0] == "steady" and e in durable]
        burst = [e for e, v in self.sent.items() if v[0] == "burst" and e in durable]
        if not steady or not burst:
            report["error"] = "no durable steady or burst events"
            return report

        # one sample per request: its events share one body, so one spooled
        # file, one epoch and one ack
        ok = [r for r in self.requests["steady"] if loadgen.event_id("s", r[0], 0) in durable]
        e2d_v = [(durable[loadgen.event_id("s", r[0], 0)] - r[1]) / _MS for r in ok]
        ack_v = [(r[3] - r[1]) / _MS for r in ok]
        e2d = stats.tail_summary(e2d_v)
        if (e2d["tail_p"] or 0) < 95.0:
            report["error"] = f"{e2d['n']} steady requests are too few for a p95"
            return report
        burst_send0 = min(r[2] for r in self.requests["burst"])
        burst_end = max(durable[e] for e in burst)

        # validity guards: how late the open loop ran, and whether the
        # backlog was still growing when the measured window ended
        lag = [(r[2] - r[1]) / _MS for r in self.requests["steady"]]
        commits = [(markers[b], v["files"]) for b, v in self.svc.batches.items() if b in markers]
        spool_ns = [m for _p, m, _s in spooled]
        backlog = stats.backlog_at(range(w0, w1, 50 * _MS), spool_ns, commits)
        report["gen_lag_p99_ms"] = stats.percentile(lag, 99.0)
        report["backlog_growing"] = stats.backlog_growing(
            backlog, self.p["rate_req_s"] * self.p["trigger_seconds"]
        )
        report["samples"] = {"steady_requests": e2d["n"], "tail_percentile": e2d["tail_p"]}
        wall.append(time.perf_counter())
        ticks1 = cpu_ticks()
        # CPU time the hypervisor gave to other guests: a noisy-host diagnostic
        report["cpu_steal_frac"] = round((ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]), 4)
        report["phase_wall_s"] = dict(
            zip(("setup", "steady", "burst", "stop", "check"), (round(b - a, 2) for a, b in zip(wall, wall[1:])))
        )
        report["end_to_end"] = {
            "setup_s": statistics.median(setups),
            "e2d_p50_ms": e2d["p50"],
            "e2d_p95_ms": stats.percentile(e2d_v, 95.0),
            "burst_eps": len(burst) / ((burst_end - burst_send0) / _SEC),
            "peak_rss_mb": rss_jvm + rss_py,
        }
        if self.trace:
            epoch_of = {e: ep for e, ep in rows}
            report["per_layer"] = self.per_layer(
                {"steady": (w0, w1), "burst": (burst_send0, burst_end)},
                markers, spool_ns, spooled, files, durable, epoch_of, lag,
            )
            report["per_layer"].update(
                {
                    "parse.events_per_s": len(burst) / parse_s,
                    "setup.first_s": setups[0],
                    "setup.repeat_s": statistics.median(setups[1:]) if len(setups) > 1 else setups[0],
                    "rss.jvm_mb": rss_jvm,
                    "rss.python_mb": rss_py,
                    "trace.ack_p50_ms": stats.percentile(ack_v, 50.0),
                    "trace.ack_p95_ms": stats.percentile(ack_v, 95.0),
                    **{f"trace.{k}": v for k, v in report["end_to_end"].items() if k != "setup_s"},
                }
            )
        return report

    # -- traced run -----------------------------------------------------

    def measure_parse(self, spark) -> float:
        """Median wall of ``parse_stream`` over the burst's bodies read as
        one batch frame and written to the noop sink."""
        from filebeat_to_clickhouse_spark.streaming.pipeline import parse_stream

        t0 = min(r[2] for r in self.requests["burst"])
        paths = [p for p, m, _s in self.svc.spooled() if m >= t0]
        walls = []
        for _ in range(3):
            t = time.perf_counter()
            df = spark.read.option("wholetext", "true").text(paths)
            parse_stream(df, FMT).write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t)
        return statistics.median(walls)

    def spans(self, markers: dict[int, int], durable: dict[str, int], epoch_of: dict[str, int]) -> list[dict]:
        """The run's spans: one per executed batch (trigger start → commit
        marker) with the progress phases as children, and one per request
        (due → durable) with the generator's lag, the receiver and the
        spool wait as children; its self time is the time in its batch.
        A request links to its batch through ``epoch``."""
        spans: list[dict] = []

        def add(name, start, end, parent=None, **attrs) -> int:
            spans.append({"id": len(spans) + 1, "parent": parent, "name": name,
                          "start": start, "end": max(start, end), **attrs})
            return len(spans)

        for b, v in sorted(self.svc.batches.items()):
            t = v["start_ns"]
            end = max(markers.get(b, 0), t + v["durations"]["triggerExecution"] * _MS)
            sid = add("stream.batch", t, end, epoch=b, files=v["files"])
            for ph in PHASES:
                ms = v["durations"].get(ph, 0)
                add(f"stream.{ph}", t, t + ms * _MS, parent=sid, epoch=b)
                t += ms * _MS
        for phase, gen in (("steady", "s"), ("burst", "b")):
            for idx, due, send, ack, _status, _n in self.requests[phase]:
                eid = loadgen.event_id(gen, idx, 0)
                if eid not in durable:
                    continue
                ep = epoch_of[eid]
                rid = add("request", due, durable[eid], phase=phase, req=f"{gen}{idx}", epoch=ep)
                add("gen.lag", due, send, parent=rid)
                add("receiver", send, ack, parent=rid)
                add("spool.wait", ack, self.svc.batches[ep]["start_ns"], parent=rid)
        return spans

    def per_layer(self, windows, markers, spool_ns, spooled, files, durable, epoch_of, lag) -> dict:
        spans = self.spans(markers, durable, epoch_of)
        self_ns = stats.self_times(spans)
        with open(os.path.join(self.dir, "..", f"trace-{os.path.basename(self.dir)}.json"), "w") as f:
            json.dump({"unit": "ns", "spans": spans}, f)
        commits = [(markers[b], v["files"]) for b, v in self.svc.batches.items() if b in markers]
        n_ev = self.p["events_per_request"]
        spool_wait = {s["parent"]: s["end"] - s["start"] for s in spans if s["name"] == "spool.wait"}
        out: dict[str, float] = {"gen.lag_p99_ms": stats.percentile(lag, 99.0), "trace.spans": len(spans)}
        for phase, (lo, hi) in windows.items():
            pre = phase + "."
            batches = {b: v for b, v in self.svc.batches.items() if lo <= v["start_ns"] <= hi}
            reqs = [s for s in spans if s["name"] == "request" and s["phase"] == phase]
            out[pre + "receiver.requests"] = len(self.requests[phase])
            out[pre + "receiver.ack_p50_ms"] = stats.percentile(
                [(r[3] - r[2]) / _MS for r in self.requests[phase]], 50.0)
            out[pre + "receiver.spool_files_max"] = max(
                stats.backlog_at(range(lo, hi, 50 * _MS), spool_ns, commits))
            out[pre + "receiver.spool_bytes"] = sum(s for _p, m, s in spooled if lo <= m <= hi)
            for ph in PHASES[:4] + PHASES[5:]:
                key = re.sub(r"([A-Z])", lambda m: "_" + m.group(1).lower(), ph)
                out[f"{pre}stream.{key}_ms"] = sum(v["durations"].get(ph, 0) for v in batches.values())
            out[pre + "stream.batches"] = len(batches)
            out[pre + "stream.files_per_batch_p50"] = stats.percentile(
                [v["files"] for v in batches.values()] or [0], 50.0)
            out[pre + "stream.busy_frac"] = (
                sum(v["durations"]["triggerExecution"] for v in batches.values()) * _MS / (hi - lo))
            out[pre + "stream.trigger_self_ms"] = sum(
                self_ns[s["id"]] for s in spans if s["name"] == "stream.batch" and s["epoch"] in batches) / _MS
            out[pre + "stream.spool_wait_p50_ms"] = stats.percentile(
                [spool_wait[r["id"]] / _MS for r in reqs], 50.0)
            out[pre + "stream.in_batch_p50_ms"] = stats.percentile([self_ns[r["id"]] / _MS for r in reqs], 50.0)
            new_jobs = self.jobs[f"{phase}1"] - self.jobs[f"{phase}0"]
            out[pre + "stream.jobs"] = len(new_jobs)
            out[pre + "stream.tasks"] = _tasks(new_jobs)
            out[pre + "sink.add_batch_ms"] = sum(v["durations"]["addBatch"] for v in batches.values())
            sink = [files[b] for b in batches if b in files]
            out[pre + "sink.files"] = sum(nf for nf, _nb in sink)
            events = sum(v["files"] for v in batches.values()) * n_ev
            out[pre + "sink.bytes_per_event"] = sum(nb for _nf, nb in sink) / max(1, events)
        return out


def _tasks(job_ids: set[int]) -> int:
    """Tasks of every stage of the given jobs (Spark's status tracker)."""
    from pyspark.sql import SparkSession

    tracker = SparkSession.builder.getOrCreate().sparkContext.statusTracker()
    n = 0
    for j in job_ids:
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info else ():
            st = tracker.getStageInfo(s)
            n += st.numTasks if st else 0
    return n
