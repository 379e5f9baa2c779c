"""Table loading for the driver's synthetic parquet testdata.

The testdata writer emits parquet TIMESTAMP(NANOS, isAdjustedToUTC=false)
for ``events.ts``, which Spark rejects outright ([PARQUET_TYPE_ILLEGAL]).
We read it via ``spark.sql.legacy.parquet.nanosAsLong`` and convert
long-nanos → TIMESTAMP_NTZ micros, which matches DuckDB's own ns→us
truncation bit-for-bit (both floor positive nanos).

All timestamps in this engine are TIMESTAMP_NTZ (wall-clock, no zone), the
same semantics as ClickHouse ``DateTime`` in the reference schema
(/root/reference/clickhouse-init/init.sql:9) and DuckDB ``TIMESTAMP``.
"""

from __future__ import annotations

import os
import weakref

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .session import RUNTIME_CONFS

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Columns stored as TIMESTAMP(NANOS) that arrive as LongType under
# nanosAsLong and need explicit conversion. (orders.o_orderdate and
# lineitem.l_shipdate are TIMESTAMP(MILLIS) — Spark reads those natively
# as TIMESTAMP_NTZ.)
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to a session we may not have built."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime conf on this build; session.get_spark sets it at build time
    return spark


# DataFrame cache for the (static, read-only) testdata tables: the parquet
# open — file listing + footer/schema read — costs ~30-80 ms of driver time
# PER load_table call, paid again by every query build. DataFrames are
# immutable logical plans, but they stay BOUND to the SparkSession that
# built them — so the cache is a WeakKeyDictionary keyed by the session
# object itself: a different or restarted session builds its own plans
# (never inherits ones tied to a stopped session), and a session's entries
# vanish with it instead of accumulating as dead weight. Correct only
# because the testdata never changes underneath a running session (a table
# that gets appended to must be re-read, not cached — which is why only
# load_table uses this, not the log-table readers in storage.py); restart
# the session — or call _TABLE_CACHE.clear() — if testdata is regenerated
# in-process.
_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def parquet_footprint(path: str) -> tuple[int, int, int] | None:
    """(total_bytes, total_row_groups, total_rows) of a parquet file or
    directory, from filesystem metadata + footers only — no Spark job. The
    path resolves
    through ``pyarrow.fs.FileSystem.from_uri``, so plain local paths AND
    remote URIs (``s3://``, ``hdfs://``, ``gs://``) size correctly wherever
    the matching pyarrow filesystem is available (the r9 os.listdir version
    errored off the local FS, silently disabling every footprint-based
    decision in production). Returns ``None`` when the path cannot be sized
    (missing filesystem/credentials, unreadable footer) — each caller picks
    its own safe direction for that."""
    try:
        import pyarrow.parquet as pq
        from pyarrow import fs as pafs

        filesystem, rel = pafs.FileSystem.from_uri(path)
        info = filesystem.get_file_info(rel)
        if info.type == pafs.FileType.Directory:
            infos = [
                i
                for i in filesystem.get_file_info(pafs.FileSelector(rel))
                if i.is_file and i.path.endswith(".parquet")
            ]
        elif info.type == pafs.FileType.File:
            infos = [info]
        else:
            return None
        total_bytes = sum(i.size for i in infos)
        row_groups = 0
        rows = 0
        for i in infos:
            with filesystem.open_input_file(i.path) as f:
                md = pq.ParquetFile(f).metadata
                row_groups += md.num_row_groups
                rows += md.num_rows
        return total_bytes, row_groups, rows
    except Exception:  # noqa: BLE001 - unsizable input → None, caller decides
        return None


def _scan_splits_wide(path: str, n_par: int) -> bool:
    """True when the parquet scan ALREADY splits to ≥ ``n_par`` tasks, so a
    requested rebalance would be a pure-overhead full exchange. Two
    conditions, both required: (a) ≥ 2·n_par row groups (a row group is the
    atomic split unit — a single-row-group file yields ONE task with rows
    no matter how Spark ranges it; the 2× headroom covers skewed row-group
    sizes and midpoint assignment, where exactly-n_par groups can still
    execute as fewer non-empty tasks — r9 advice), and (b) enough bytes
    that Spark's split sizing — maxSplitBytes = min(maxPartitionBytes,
    max(openCost, size/defaultParallelism)) — actually produces n_par
    splits (≥ n_par × 2·openCost, openCost 4 MB default). Measured at sf10
    (300-row-group 1.18 GB lineitem): the rebalance exchange cost ~2.3 s of
    q1's 6.5 s for zero parallelism gain. Unsizable paths return False
    (keep the rebalance — the safe direction)."""
    fp = parquet_footprint(path)
    if fp is None:
        return False
    total_bytes, row_groups, _rows = fp
    return row_groups >= 2 * n_par and total_bytes >= n_par * 8 * 1024 * 1024


def _size_bytes(v: str) -> int:
    """Parse a Spark byte-size conf string ('134217728', '128m', '1g')."""
    v = v.strip().lower().removesuffix("b")
    mult = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}.get(v[-1:], 1)
    return int(float(v[:-1] if mult > 1 else v) * mult)


def load_table(spark: SparkSession, sf_dir: str, name: str, rebalance: bool = False) -> DataFrame:
    """Load one synthetic table, normalizing timestamp columns to TIMESTAMP_NTZ.

    ``rebalance=True`` round-robins the scan output across the session's
    parallelism WHEN the scan cannot split that wide on its own. The
    small-SF testdata files are single-row-group parquet, so their scans
    can never split past one task; queries whose per-row cost dwarfs the
    scan (decimal aggregation, JSON round-trips, shingling) request a
    rebalance so that work runs wide. Production multi-row-group inputs
    split at the scan, where the same flag becomes a no-op
    (``_scan_splits_wide``) instead of a corpus-wide exchange — for
    footprint-sizable paths; an UNSIZABLE path (no pyarrow filesystem for
    the URI scheme, unreadable footers) conservatively keeps the rebalance.

    When the rebalance does fire, its width is
    ``max(min(n_par, ceil(rows / minTaskRows)), ceil(bytes / maxPartitionBytes), 1)``
    (``spark.graft.rebalance.minTaskRows``, default 1024;
    ``spark.sql.files.maxPartitionBytes``): one task per ``minTaskRows``
    input rows up to the session's parallelism, then wider at
    maxPartitionBytes strides. The byte term keeps the per-task ceiling
    Spark's own scan splitting enforces, so a giant single-row-group file
    cannot put an unbounded row count in one task — the bound the
    fixed-point aggregation kernels (queries._fp_sum_2level) rely on. A
    width of 1 skips the exchange. Unsizable paths fall back to n_par
    width — there the _fp_sum_2level int64-partial bound is NOT structural
    (its docstring carries the caveat). Both confs are runtime-settable and
    part of the cache key, so flipping either yields a freshly sized frame.
    """
    from .session import default_parallelism

    # Applied on cache hits too so the caller's confs (nanosAsLong, UTC)
    # are in place before any plan built here executes.
    configure_session(spark)
    n_par = default_parallelism()
    # the rebalance-width confs are runtime-toggleable, so they are part of
    # the plan-cache identity (a stale width would silently survive a flip)
    try:
        min_rows = int(spark.conf.get("spark.graft.rebalance.minTaskRows", "1024"))
    except Exception:  # noqa: BLE001 - unparseable/unavailable conf → default
        min_rows = 1024
    try:
        mpb = _size_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    except Exception:  # noqa: BLE001 - unparseable/unavailable conf → default
        mpb = 128 * 1024**2
    key = (sf_dir, name, rebalance, n_par, min_rows, mpb)
    per_session = _TABLE_CACHE.setdefault(spark, {})
    cached = per_session.get(key)
    if cached is not None:
        return cached
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if rebalance and not _scan_splits_wide(path, n_par):
        width = n_par
        fp = parquet_footprint(path)
        if fp is not None:
            # Width is DATA-derived, cores-capped (r10 verdict item 1): ramp
            # one task per `minTaskRows` of input ROWS until the session's
            # parallelism, then keep growing past it at maxPartitionBytes
            # strides (the same per-task byte ceiling Spark's own scan
            # splitting enforces — the _fp_sum_2level bound stays
            # structural). The old `max(n_par, …)` floor repartitioned a
            # few-thousand-row table into n_par near-empty tasks whose fixed
            # costs (task binary deserialize, scheduler round-trip,
            # shuffle-block bookkeeping) dwarf their rows — the r10 verdict's
            # "don't repartition 10k rows to 32 tasks". Rows, not bytes:
            # rebalance callers are per-row CPU-heavy text/decimal kernels
            # over hard-compressing columns (documents at sf0.1 is 595 KB on
            # disk for 20k rows), so a byte ramp starves exactly the
            # operators the exchange exists to parallelize — measured +37%
            # on tfidf / +21% on minhash with a 1 MiB byte ramp vs flat
            # n_par (OPTIMIZATION_r11.md §2). 1024 rows ≈ several ms of
            # kernel work per task, ~10× its fixed overhead; every
            # ≥n_par×1024-row input (events/lineitem at sf0.1 upward,
            # anything real in production) is unchanged — and a narrowed
            # width is the SAME at any core count, so small-input plans
            # stop depending on local[N] (the scaling-run comparability
            # the bench contract asks for). Measured NEUTRAL at sf0.1 /
            # 32 cores once the sort-writer conf landed (interleaved sweep
            # 0/64/256/1024: 12.03/11.99/11.38/11.52 s over 11 probes).
            # minTaskRows=0 restores the r10 flat-n_par behavior.
            ramp = -(-fp[2] // max(min_rows, 1)) if min_rows > 0 else n_par
            width = max(min(n_par, ramp), -(-fp[0] // max(mpb, 1)), 1)
        # width 1 would be a pure-overhead Exchange SinglePartition on top
        # of an already-single-task scan — skip the exchange outright
        if width > 1:
            df = df.repartition(width)
    for c in _NANOS_TS_COLS.get(name, ()):
        if c in df.columns and dict(df.dtypes)[c] == "bigint":
            # integer-divide nanos to micros — `div`, NOT `/` (float division
            # loses precision above 2^53 ns ≈ 1970+104 days and lands ±1 µs
            # off); then NTZ wall-clock (session tz pinned UTC → identity).
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast("timestamp_ntz")
            )
    per_session[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}
