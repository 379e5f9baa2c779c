"""Run the benchmark on several seeds and print, per end-to-end metric, the
median and the quartile spread (``(q3 - q1) / median`` with the quartiles
of ``statistics.quantiles(values, n=4)``) next to the metric's bound in
``BENCHMARK.json``:

    python3 perfbench/spread.py --workload ingest_small_bodies --seeds 1-10

Run it from the root of a checkout. ``--json PATH`` also writes every run's
metrics, so two sets can be compared later.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--json", help="write every run's metrics here")
    a = ap.parse_args(argv)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    runs = []
    for seed in a.seeds:
        cmd = [*bench["command"], "--workload", a.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else None
        diag = next((json.loads(x) for x in reversed(proc.stderr.splitlines()) if x.startswith('{"attempted"')), {})
        print(f"seed {seed}: exit {proc.returncode}", {k: v for k, v in (result or {}).items() if k != "metrics"},
              {k: diag.get(k) for k in ("cpu_steal_frac", "phase_wall_s")}, file=sys.stderr)
        if result:
            runs.append({k: m["value"] for k, m in result["metrics"].items()})
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"workload": a.workload, "seeds": a.seeds, "runs": runs}, f, indent=1)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    for name in sorted({k for r in runs for k in r}):
        vals = [r[name] for r in runs if name in r]
        spread = stats.quartile_spread(vals) if len(vals) >= 2 and statistics.median(vals) else float("nan")
        b = bounds.get(name)
        flag = "" if b is None else ("ok" if spread <= b / 3 else ("WIDE" if spread > b else "near"))
        print(f"{name:40s} n={len(vals):2d} median={statistics.median(vals):12.4f} "
              f"spread={spread:7.4f} bound={b} {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
