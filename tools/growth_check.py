#!/usr/bin/env python
"""Spark-only growth-law check at sf10 (100× the bench data): the second
rung of the scale rehearsal. DuckDB bows out at this size (its sf1 run
already DNF'd the quadratic-prone paths), so this measures the one thing
only scale can prove: that RUNTIME and CANDIDATE/OUTPUT COUNTS of every
operator family stay ~linear from sf1 → sf10.

r5 scope: EVERY registered query runs (r4 sampled 21 growth-critical
ops), under a per-query watchdog (cancelJobGroup at the cap) so one
degenerating plan can flag itself without stalling the run — that is
how r4 caught the pinned-k hier config live. A handful of entries are
excluded by name with the reason recorded in the output JSON: configs
whose growth law is already documented as super-linear (they exist for
bench comparability or as explicitly-named legacy rungs), and one
duplicate alias.

The generator (tools/make_scale_data.py) makes true pair structure
exactly linear in the copy count by construction, so a super-linear
output curve here is an engine bug (an all-pairs candidate path), not a
data artifact; chance-level near-threshold pairs (simhash, cosine) are
the documented exception — they grow quadratically in ANY engine, which
is why those operators' runtime (bounded by banding/pigeonhole caps),
not their output count, is the gate.

Usage: python tools/growth_check.py   (expects .scratch/sf1 and
.scratch/sf10 from make_scale_data.py --copies 10 / --copies 100)
Writes SCALE10_r05.json and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF1 = os.path.join(REPO, ".scratch", "sf1")
SF10 = os.path.join(REPO, ".scratch", "sf10")
CAP_SEC = float(os.environ.get("SPARK_GRAFT_SF10_CAP", "240"))

EXCLUDED = {
    "simhash_neardup_pairs": (
        "output is chance-quadratic near the hamming threshold in any engine "
        "(measured 33x pairs for 10x docs at sf1); at 500k docs the result set "
        "itself is ~1e9 rows — runtime of the banded path is gated via "
        "simhash_fingerprints instead"
    ),
    "semdedup_survivors_hier": (
        "pinned k=(4,4) is the sf0.01 ORACLE instantiation; at 200k vectors "
        "12.5k-vector cells give ~1e9 in-cell pairs (caught live in the r4 run). "
        "The scaled two-level rung is semdedup_survivors_ivf, measured here"
    ),
    "ngram_jaccard_pairs_prefix": (
        "prefix filtering prunes NOTHING on this fixture's uniform ~31-word "
        "vocabulary (every shingle is hot, so the rarest-|d|(1-t) prefix still "
        "joins quadratically; measured 94.7 s at sf1/t=0.8 vs plain's 12.4 s) — "
        "its regime is high threshold x Zipf-skewed shingle DF, pinned by the "
        "deterministic >50x candidate-cut test in test_properties.py; the "
        "chance-collision case stays minhash territory like ngram_jaccard_pairs"
    ),
    "ngram_jaccard_pairs_exact_uncapped": (
        "the r6 EXPLICIT DEMOTION of the pre-r6 uncapped inverted-index join: "
        "candidate volume sum(df^2)/2, the measured r5 sf10 timeout (>240 s) "
        "kept only under this legacy name for small/df-bounded corpora; the "
        "df-capped default ngram_jaccard_pairs runs here (5.6 s at sf10)"
    ),
}

# output rows must scale ~linearly for these (true structure is linear by
# construction); simhash/cosine excluded per the chance-pair caveat above
LINEAR_OUTPUT = [
    "dedup_exact_fingerprints",
    "minhash_lsh_neardup",
    "winnow_fingerprints",
]


def _sweep_streams(spark) -> None:
    """Stop every active streaming query — a timed-out OR erroring query
    can leak streams whose micro-batches contaminate the next timing."""
    for q in spark.streams.active:
        try:
            q.stop()
        except Exception:  # noqa: BLE001 — best-effort teardown
            pass


def run_watched(spark, queries, name: str, at: str, cap_sec: float = CAP_SEC) -> float | str:
    """One watched noop execution: seconds, 'timeout', or 'err: ...'.

    The watchdog contract (pinned by tests/test_streaming.py):

    - a query exceeding ``cap_sec`` is cancelled via its job group AND its
      leaked streams are stopped — cancelJobGroup reaches only jobs tagged
      with OUR group, while Structured Streaming micro-batches run under
      the stream's own runId group, so a blocked-in-awaitTermination
      streaming roundtrip (the exact r5 pre-banding timeout) would
      survive the cancel;
    - after any exit, executor running-task counts are drained to zero —
      cancelled tasks keep burning cores until an interruption point,
      and the first r5 run measured entries after a timeout up to 12×
      inflated (orders_rollup 27× dirty, 1.8× clean);
    - streams are swept on the COMPLETED path too (an erroring query
      leaks streams just like a timeout).

    Callers must set ``spark.sql.streaming.stopTimeout`` to a finite
    value (main() uses 30 s): the default 0 waits indefinitely for the
    micro-batch thread, which is exactly the thread a timed-out query
    may have wedged."""
    result: dict = {}

    def target():
        spark.sparkContext.setJobGroup(name, name, interruptOnCancel=True)
        t0 = time.monotonic()
        try:
            queries[name](spark, at).write.mode("overwrite").format("noop").save()
            result["t"] = time.monotonic() - t0
        except Exception as e:  # noqa: BLE001 - recorded, not hidden
            result["err"] = f"err: {type(e).__name__}: {str(e)[:160]}"

    th = threading.Thread(target=target, daemon=True)
    th.start()
    th.join(cap_sec)
    if th.is_alive():
        spark.sparkContext.cancelJobGroup(name)
        _sweep_streams(spark)
        th.join(60)
        jt = spark.sparkContext._jsc.sc().statusTracker()
        deadline = time.monotonic() + 300
        while time.monotonic() < deadline:
            if all(e.numRunningTasks() == 0 for e in jt.getExecutorInfos()):
                break
            time.sleep(1)
        return "timeout"
    _sweep_streams(spark)
    return result.get("t", result.get("err", "err: no result"))


def main() -> None:
    for d in (SF1, SF10):
        if not os.path.isdir(d):
            sys.exit(f"{d} missing - run tools/make_scale_data.py first")

    from filebeat_to_clickhouse_spark.queries import QUERIES
    from filebeat_to_clickhouse_spark.session import get_spark

    def _fresh_spark():
        s = get_spark("fbck-growth")
        s.sparkContext.setLogLevel("ERROR")
        s.conf.set("spark.sql.streaming.stopTimeout", "30000")
        return s

    holder = {"spark": _fresh_spark()}
    names = [n for n in sorted(QUERIES) if n not in EXCLUDED]

    def _relaunch() -> None:
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        try:
            holder["spark"].stop()
        except Exception:  # noqa: BLE001 — the gateway may already be gone
            pass
        SparkContext._active_spark_context = None
        SparkContext._gateway = None
        SparkContext._jvm = None
        SparkSession._instantiatedSession = None
        SparkSession._activeSession = None
        holder["spark"] = _fresh_spark()

    def _ensure_alive(after: str) -> None:
        """A query that exhausts the shared heap can take the WHOLE local
        JVM down (measured: decontamination_pairs' premise-violating
        fixture at sf10 inside a 150-query-warm 8 GiB heap) — without
        this, every later entry records a bogus connection error and the
        run produces no file. Probe; on a dead gateway, relaunch a fresh
        JVM and keep measuring. The failed entry keeps its honest err."""
        try:
            holder["spark"].sql("select 1").collect()
            return
        except Exception:
            pass
        print(f"  !! spark JVM died on {after}; relaunching", flush=True)
        _relaunch()

    # Heap-headroom protocol (r10, replacing the dual-protocol notes): the
    # JVM restarts at every phase boundary AND around each entry listed
    # here, so no measurement inherits another entry's heap state. The one
    # current member is the entry whose design premise (fixed benchmark
    # registry ≪ corpus) the fixture deliberately violates — it completes
    # standalone at sf10 (r9: 218.6 s cold) but crashed a shared 8 GiB JVM
    # warmed by nine prior queries (CROSSOVER10_r09 notes), so it gets a
    # fresh heap and gives the next entry one too.
    HEAP_HEAVY = {"decontamination_pairs"}

    def run(name: str, at: str) -> float | str:
        if name in HEAP_HEAVY:
            _relaunch()
        r = run_watched(holder["spark"], QUERIES, name, at)
        if name in HEAP_HEAVY:
            _relaunch()
        elif isinstance(r, str) and r.startswith("err:"):
            _ensure_alive(name)
        return r

    rnd = os.environ.get("SPARK_GRAFT_ROUND", "r06")
    partial_path = os.path.join(REPO, f"SCALE10_{rnd}.partial.json")
    partial: dict = {}

    def timed(names_: list[str], at: str, n_runs: int = 2) -> dict:
        out = {}
        for name in names_:
            best = None
            for _ in range(n_runs):
                r = run(name, at)
                if not isinstance(r, float):
                    best = r  # timeout/error: record and stop re-running
                    break
                best = r if best is None else min(best, r)
            out[name] = round(best, 3) if isinstance(best, float) else best
            print(f"  {at.rsplit('/', 1)[-1]} {name}: {out[name]}", flush=True)
            # crash insurance: persist progress after every entry, so a
            # wall-clock kill still leaves the measurements taken so far
            partial[at.rsplit("/", 1)[-1]] = out
            with open(partial_path, "w") as f:
                json.dump(partial, f, indent=1)
        return out

    print("warming at sf1...", flush=True)
    for name in names:
        run(name, SF1)
    print("timing sf1...", flush=True)
    t1 = timed(names, SF1)
    _relaunch()  # phase boundary: sf10 timings start from a fresh heap
    print("timing sf10...", flush=True)
    t10 = timed(names, SF10)
    _relaunch()  # phase boundary: output counts from a fresh heap

    counts = {}
    for name in LINEAR_OUTPUT:
        c1 = QUERIES[name](holder["spark"], SF1).count()
        c10 = QUERIES[name](holder["spark"], SF10).count()
        counts[name] = {
            "sf1": c1,
            "sf10": c10,
            "ratio": round(c10 / c1, 2) if c1 else None,
        }

    ratios = {
        n: (
            round(t10[n] / t1[n], 2)
            if isinstance(t10.get(n), float) and isinstance(t1.get(n), float) and t1[n]
            else None
        )
        for n in names
    }
    out = {
        "metric": "growth_check_sf10_vs_sf1",
        "value": round(sum(v for v in t10.values() if isinstance(v, float)), 3),
        "unit": "sec",
        "sf": 10,
        "n_queries": len(names),
        "cap_sec": CAP_SEC,
        "excluded": EXCLUDED,
        "spark_sf1_sec": t1,
        "spark_sf10_sec": t10,
        "time_ratio_10x_data": ratios,
        "over_5x": sorted(
            [n for n, r in ratios.items() if r is not None and r > 5.0],
            key=lambda n: -ratios[n],
        ),
        "output_counts": counts,
    }
    with open(os.path.join(REPO, f"SCALE10_{rnd}.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: out[k] for k in ("metric", "value", "unit", "sf", "n_queries")}))


if __name__ == "__main__":
    main()
