"""Pure helpers of the ingest benchmark: percentiles, attribution of sink
rows to epoch commit times, spool backlog, span self time and run spread.

Nothing here touches Spark, the network or the file system, so
``perfbench/tests`` checks every rule in isolation.
"""

from __future__ import annotations

import math
import statistics
from collections import Counter
from collections.abc import Iterable

#: Candidate percentiles, highest first, for the tail-percentile rule.
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: Iterable[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p`` %
    of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[max(0, math.ceil(p / 100.0 * len(xs)) - 1)]


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest percentile in :data:`PERCENTILES` with at least
    ``min_beyond`` of ``n`` samples beyond it; ``None`` when even the
    median is not supported."""
    for p in PERCENTILES:
        if n * (100.0 - p) / 100.0 >= min_beyond - 1e-9:
            return p
    return None


def tail_summary(values: list[float], min_beyond: int = 10) -> dict:
    """Median, the tail percentile the sample count supports, and the count."""
    p = tail_percentile(len(values), min_beyond)
    return {
        "n": len(values),
        "p50": percentile(values, 50.0) if values else None,
        "tail_p": p,
        "tail": percentile(values, p) if p is not None else None,
    }


def attribute(
    sent: dict[str, int],
    sink_rows: Iterable[tuple[str, int]],
    marker_ns: dict[int, int],
) -> tuple[dict[str, int], list[str], list[str], list[str]]:
    """Match sink rows to the events that were acked.

    ``sent`` maps every acked event id to anything (its due time, say);
    ``sink_rows`` holds ``(event_id, epoch_id)`` for every row found in the
    sink's epoch files; ``marker_ns`` maps each committed epoch to the time
    its commit marker appeared. Rows of an epoch without a marker are not
    durable and do not count.

    Returns ``(durable_ns, missing, duplicated, unexpected)``: the commit
    time of every acked event found exactly once, the acked ids found in no
    committed epoch, the ids found more than once, and committed ids that
    were never acked.
    """
    seen: Counter[str] = Counter()
    durable: dict[str, int] = {}
    for eid, epoch in sink_rows:
        if epoch not in marker_ns:
            continue
        seen[eid] += 1
        durable[eid] = marker_ns[epoch]
    duplicated = sorted(e for e, c in seen.items() if c > 1)
    for e in duplicated:
        durable.pop(e, None)
    missing = sorted(e for e in sent if e not in seen)
    unexpected = sorted(e for e in seen if e not in sent)
    for e in unexpected:
        durable.pop(e, None)
    return durable, missing, duplicated, unexpected


def backlog_at(
    times_ns: Iterable[int], spooled_ns: list[int], batches: list[tuple[int, int]]
) -> list[int]:
    """Spool backlog (files spooled minus files in committed batches) at
    each of ``times_ns``; ``batches`` holds ``(commit_ns, n_files)``."""
    spooled = sorted(spooled_ns)
    done = sorted(batches)
    out = []
    i = j = consumed = 0
    for t in sorted(times_ns):
        while i < len(spooled) and spooled[i] <= t:
            i += 1
        while j < len(done) and done[j][0] <= t:
            consumed += done[j][1]
            j += 1
        out.append(i - consumed)
    return out


def backlog_growing(samples: list[int], margin: float) -> bool:
    """True when the backlog's troughs rise across the window: the lowest
    backlog in its last third exceeds the lowest in its first third by more
    than ``margin`` (files; one trigger's arrivals is a fair choice, since a
    sustained rate drains to about the same trough every trigger)."""
    if len(samples) < 3:
        return False
    third = len(samples) // 3
    return min(samples[-third:]) > min(samples[:third]) + margin


def self_times(spans: list[dict]) -> dict[int, int]:
    """Self time of every span: its duration minus the part of it that its
    children cover (overlapping children are counted once, and a child
    sticking out of its parent is clipped to it).

    Each span is a dict with ``id``, ``parent`` (``None`` for a root),
    ``start`` and ``end`` (any one time unit).
    """
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        ivs = sorted(
            (max(c["start"], lo), min(c["end"], hi))
            for c in children.get(s["id"], [])
            if min(c["end"], hi) > max(c["start"], lo)
        )
        covered = 0
        cur_lo = cur_hi = None
        for a, b in ivs:
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with the quartiles of ``statistics.quantiles(values, n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
