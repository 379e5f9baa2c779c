"""Ingest benchmark: event-to-durable latency, ack latency, burst
throughput, set-up time and memory of the deployed service, and with
``--trace 1`` the per-layer split of those numbers.

    python3 perfbench/run.py --workload ingest_small_bodies --seed 1 \
        --seconds 10 --trace 0

Run it from the root of a checkout. Workload parameters, metric names and
units live in ``perfbench/spec.json``. Everything a run writes goes to a
fresh directory under ``.perfbench_runs/`` (spool, checkpoints, sink,
Spark's local and temp dirs), which is removed when the run ends; a traced
run leaves its spans in ``.perfbench_runs/trace-<run>.json``.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. Exit codes:

- 0: the output checks passed;
- 1: an output check failed (the result line is still printed);
- 2: bad arguments, or no program to benchmark in the current directory;
- 3: the run is invalid and reports nothing: the generator ran late
  beyond its bound, or the steady phase ended with the spool backlog
  still growing ("rate not sustained").
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec() -> dict:
    with open(os.path.join(HERE, "spec.json")) as f:
        return json.load(f)


def _isolate(root: str, run_dir: str, spec: dict) -> None:
    """Point every scratch path of Spark, the JVM and Python workers into
    ``run_dir`` and put the checkout on the workers' import path."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM, the launcher spark-submit starts first included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # a fixed-size JVM heap, so the footprint does not depend on when
    # the collector chooses to grow it
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options -Xms{spec['jvm_heap']} pyspark-shell"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", spec["jvm_heap"])
    sys.path.insert(0, root)


def _stop_spark() -> None:
    """Stop the session, then the JVM this process launched, and wait for it."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _metrics(values: dict, declared: dict) -> dict:
    if set(values) != set(declared):
        raise RuntimeError(
            f"metrics differ from spec.json: missing {sorted(set(declared) - set(values))}, "
            f"extra {sorted(set(values) - set(declared))}"
        )
    return {k: {"value": float(values[k]), "unit": declared[k]["unit"]} for k in declared}


def main(argv: list[str] | None = None) -> int:
    spec = load_spec()
    ap = argparse.ArgumentParser(description="Ingest benchmark of filebeat_to_clickhouse_spark.")
    ap.add_argument("--workload", required=True, choices=sorted(spec["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True, help="length of the measured steady phase")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "filebeat_to_clickhouse_spark", "__main__.py")):
        print("perfbench: no filebeat_to_clickhouse_spark package in the current directory; "
              "run from the root of a checkout", file=sys.stderr)
        return 2

    params = {**spec["workloads"][a.workload], "setup_repeats": spec["setup_repeats"]}
    run_dir = os.path.join(root, ".perfbench_runs", f"{a.workload}-s{a.seed}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    _isolate(root, run_dir, spec)
    os.chdir(run_dir)
    from ingest import IngestRun

    threads = min(4, len(os.sched_getaffinity(0)))
    try:
        report = IngestRun(run_dir, params, a.seed, a.seconds, bool(a.trace), threads).run()
    finally:
        try:
            _stop_spark()
        finally:
            os.chdir(root)
            shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({k: v for k, v in report.items() if k not in ("end_to_end", "per_layer")}),
          file=sys.stderr)
    if "error" not in report:
        bound = spec["gen_lag_p99_bound_ms"]
        if report["gen_lag_p99_ms"] > bound:
            print(f"perfbench: invalid run: generator lag p99 {report['gen_lag_p99_ms']:.1f} ms "
                  f"exceeds {bound} ms", file=sys.stderr)
            return 3
        if report["backlog_growing"]:
            print("perfbench: rate not sustained: the spool backlog was still growing when "
                  "the steady phase ended; its latency is not reported", file=sys.stderr)
            return 3
    if "error" in report:
        print(f"perfbench: {report['error']}", file=sys.stderr)
        metrics = {}
    elif a.trace:
        metrics = _metrics(report["per_layer"], spec["per_layer"])
    else:
        metrics = _metrics(report["end_to_end"], spec["end_to_end"])
    correct = "error" not in report and report["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
