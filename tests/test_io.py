"""io.load_table behaviors that the query surface leans on."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from conftest import SF_ORACLE

from filebeat_to_clickhouse_spark.io import _scan_splits_wide


class TestScanSplitsWide:
    def test_single_row_group_testdata_keeps_rebalance(self):
        """The small-SF files are single-row-group: the scan can never
        split past one task, so the rebalance must stay."""
        assert not _scan_splits_wide(os.path.join(SF_ORACLE, "lineitem.parquet"), 32)

    def test_wide_multi_row_group_file_skips_rebalance(self, tmp_path):
        """≥ n_par row groups AND enough bytes for Spark's split sizing →
        the scan parallelizes on its own and the rebalance exchange is
        pure overhead (measured ~2.3 s of q1's 6.5 s at sf10)."""
        p = str(tmp_path / "wide.parquet")
        n = 2_200_000  # ~17.6 MB of raw int64 > 2 × (2 × 4 MB openCost)
        tbl = pa.table({"x": pa.array(range(n), type=pa.int64())})
        pq.write_table(tbl, p, row_group_size=n // 4, compression="none")
        assert pq.ParquetFile(p).metadata.num_row_groups >= 4
        assert _scan_splits_wide(p, 2)
        # but not wider than its row groups allow
        assert not _scan_splits_wide(p, 8)

    def test_unreadable_path_keeps_rebalance(self, tmp_path):
        assert not _scan_splits_wide(str(tmp_path / "missing.parquet"), 2)


class TestLoadTableCacheKey:
    def test_max_partition_bytes_flip_resizes_rebalance(self, spark, tmp_path):
        """The rebalance width depends on spark.sql.files.maxPartitionBytes
        (its byte term), so the cached frame must not survive a flip of
        that conf: the second load must come back at the new width."""
        import re

        from filebeat_to_clickhouse_spark.io import load_table

        rows = 2048  # two minTaskRows (1024) ramp tasks at the default conf
        pq.write_table(
            pa.table({"x": pa.array(range(rows), type=pa.int64())}),
            str(tmp_path / "t.parquet"),
        )
        size = os.path.getsize(tmp_path / "t.parquet")

        def width(df):
            plan = df._jdf.queryExecution().logical().toString()
            return int(re.search(r"Repartition (\d+), true", plan).group(1))

        key = "spark.sql.files.maxPartitionBytes"
        old = spark.conf.get(key)
        try:
            assert width(load_table(spark, str(tmp_path), "t", rebalance=True)) == 2
            spark.conf.set(key, str(size // 5 + 1))  # byte term: 5 tasks
            assert width(load_table(spark, str(tmp_path), "t", rebalance=True)) == 5
        finally:
            spark.conf.set(key, old)
