"""Query-level kernel pins that don't fit the oracle harness: cross-form
row identity (a fast kernel vs the reference relational form) and the
plan shapes those kernels rely on."""

from __future__ import annotations

import re

from conftest import SF_ORACLE

from pyspark.sql import functions as F


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestQ11FixedPointKernel:
    def test_fp_sum_equals_decimal_sum_per_part(self, spark):
        """The int64 fixed-point revenue kernel (_rev_fp_sum) is EXACTLY
        the decimal sum on every part — same casts fix the rounding, the
        multiply-accumulate is exact integers (q11 NOTE: sf10 3.19→1.88 s)."""
        from filebeat_to_clickhouse_spark.io import load_table
        from filebeat_to_clickhouse_spark.queries import _rev_expr, _rev_fp_sum

        li = load_table(spark, SF_ORACLE, "lineitem")
        dec = li.groupBy("l_partkey").agg(F.sum(_rev_expr()).alias("v_dec"))
        fp = li.groupBy("l_partkey").agg(_rev_fp_sum().alias("v_fp"))
        joined = dec.join(fp, "l_partkey")
        assert joined.count() == dec.count() == fp.count()
        bad = joined.filter(
            F.col("v_dec").cast("decimal(38,4)") != F.col("v_fp")
        ).count()
        assert bad == 0, f"{bad} parts diverge between decimal and fixed-point sums"

    def test_q1_two_level_fp_equals_decimal_form(self, spark):
        """q1's two-level fixed-point aggregate (long partials per (group,
        partition) merged with decimal sums — safe at any scale and any
        group cardinality) must be bit-identical to the single-level
        decimal aggregate it replaced, including the derived avgs."""
        from filebeat_to_clickhouse_spark.io import load_table
        from filebeat_to_clickhouse_spark.queries import QUERIES, _dec, _rev_expr

        got = {tuple(r) for r in QUERIES["q1_pricing_summary"](spark, SF_ORACLE).collect()}

        li = load_table(spark, SF_ORACLE, "lineitem")
        rev = _rev_expr()
        charge = rev * (F.lit(1).cast("decimal(3,2)") + _dec("l_tax", 5, 2))
        ref = (
            li.filter(F.col("l_shipdate") <= F.lit("2001-09-01 00:00:00").cast("timestamp_ntz"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
                F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
                F.sum(rev).cast("double").alias("sum_disc_price"),
                F.sum(charge).cast("double").alias("sum_charge"),
                F.count(F.lit(1)).alias("count_order"),
            )
            .select(
                "l_returnflag",
                "l_linestatus",
                "sum_qty",
                "sum_base_price",
                "sum_disc_price",
                "sum_charge",
                (F.col("sum_qty") / F.col("count_order")).alias("avg_qty"),
                (F.col("sum_base_price") / F.col("count_order")).alias("avg_price"),
                "count_order",
            )
        )
        want = {tuple(r) for r in ref.collect()}
        assert got == want and got

    def test_q11_returns_rows_and_single_scan(self, spark):
        """The r9 threshold fix (1.5× mean part value) must keep the gate
        non-vacuous — the original total·0.001 filter returned 0 rows at
        every SF, so hash-matching proved nothing — and the lineage-cut
        single-derivation shape must hold (one lineitem scan, total by
        broadcast, no sort-merge join)."""
        from filebeat_to_clickhouse_spark.queries import QUERIES

        df = QUERIES["q11_important_parts"](spark, SF_ORACLE)
        assert df.count() > 0, "threshold must select at least one part"
        p = plan_of(df)
        assert len(re.findall(r"FileScan parquet", p)) <= 1
        assert "SortMergeJoin" not in p
        assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


class TestRowsOnlyEntriesEvidence:
    """The registry's 2 oracle-less entries (engine-specific by design)
    carry their correctness evidence HERE; tools/parity_artifact.py links
    these node ids into PARITY_r{N}.json so the rows-only verdicts are
    auditable instead of bare smokes (r9 verdict item 4)."""

    def test_hll_estimate_tracks_exact_count_within_sketch_error(self, spark):
        """approx_distinct_users_hll returns BOTH the HLL-sketch estimate
        and the exact distinct count per event_type: the estimate must sit
        within the sketch's published relative-error envelope (lgK=12 ⇒
        σ≈1.6%; 5σ bound at these cardinalities) and be positive for every
        non-empty group — the property an engine-specific sketch CAN
        guarantee, where a value-hash against another engine's sketch
        could not."""
        from filebeat_to_clickhouse_spark.queries import QUERIES

        rows = QUERIES["approx_distinct_users_hll"](spark, SF_ORACLE).collect()
        assert rows, "grouped sketch returned no groups"
        for r in rows:
            exact = r["exact_users"]
            assert exact > 0
            rel_err = abs(r["approx_users"] - exact) / exact
            assert rel_err <= 0.08, (r["event_type"], r["approx_users"], exact)

    def test_mixed_perceptron_entry_matches_library_path(self, spark):
        """quality_classifier_mixed_scores is the registered face of
        text.train_token_perceptron_mixed, whose determinism (identical
        weights across partitionings) and accuracy (beats the centroid
        baseline) are pinned by
        tests/test_operators.py::TestMixedPerceptron — here the REGISTERED
        composition itself must produce scored rows for every document
        with the holdout accuracy the perceptron tests establish."""
        import pyspark.sql.functions as F

        from filebeat_to_clickhouse_spark.io import load_table
        from filebeat_to_clickhouse_spark.queries import QUERIES

        df = QUERIES["quality_classifier_mixed_scores"](spark, SF_ORACLE)
        n_docs = load_table(spark, SF_ORACLE, "documents").count()
        rows = df.collect()
        assert len(rows) == n_docs  # one score per document, none dropped
        acc = sum(1 for r in rows if r["pred"] == r["label"]) / len(rows)
        assert acc >= 0.85, acc


class TestFastCents:
    """The r10 fast cents extraction ((x·100+0.5)::long) must be
    bit-identical to the decimal(prec,2)-cast reference ON ITS CONTRACT
    (2-decimal non-negative money) and is EXPECTED to diverge outside it
    — both directions pinned so the contract stays honest."""

    def test_equals_decimal_cast_on_two_decimal_grid(self, spark):
        """Exhaustive-by-construction: every k/100 double over a dense
        grid (all cent values to $100, coarse strides to $10M, plus the
        percentage domain) must extract to exactly k under both forms."""
        import pyspark.sql.functions as F

        from filebeat_to_clickhouse_spark.queries import _fp_cents, _fp_cents_decimal

        ks = list(range(0, 10_001)) + list(range(10_001, 1_000_000_000, 37_337))
        df = spark.createDataFrame([(k, k / 100.0) for k in ks], "k bigint, v double")
        bad = df.select(
            "k",
            _fp_cents("v").alias("fast"),
            _fp_cents_decimal("v").alias("ref"),
        ).filter((F.col("fast") != F.col("ref")) | (F.col("fast") != F.col("k")))
        assert bad.count() == 0, bad.limit(5).collect()

    def test_corpus_columns_identical_at_oracle_sf(self, spark):
        """All four lineitem money columns: zero fast-vs-reference
        mismatches at the oracle SF (the sf10 sweep measured the same
        zero over 59M rows; this keeps the pin in the suite)."""
        import pyspark.sql.functions as F

        from filebeat_to_clickhouse_spark.io import load_table
        from filebeat_to_clickhouse_spark.queries import _fp_cents, _fp_cents_decimal

        li = load_table(spark, SF_ORACLE, "lineitem")
        row = li.select(
            *[
                F.sum((_fp_cents(c) != _fp_cents_decimal(c)).cast("long")).alias(c)
                for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
            ]
        ).collect()[0]
        assert all(v == 0 for v in row.asDict().values()), row.asDict()

    def test_q18_fp_sum_equals_decimal_form(self, spark):
        """q18's kernelized per-order quantity sum (r10 second sitting)
        must reproduce the decimal-sum form exactly — rescale, HAVING cut
        and double cast included."""
        import pyspark.sql.functions as F

        from filebeat_to_clickhouse_spark.io import load_table
        from filebeat_to_clickhouse_spark.queries import QUERIES, _dec

        li = load_table(spark, SF_ORACLE, "lineitem")
        ref = sorted(
            map(
                tuple,
                li.groupBy("l_orderkey")
                .agg(F.sum(_dec("l_quantity")).alias("qty_dec"))
                .filter(F.col("qty_dec") > 300)
                .select("l_orderkey", F.col("qty_dec").cast("double"))
                .collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                QUERIES["q18_large_quantity_orders"](spark, SF_ORACLE)
                .select("o_orderkey", "total_qty")
                .collect(),
            )
        )
        assert got == ref

    def test_diverges_outside_contract_as_documented(self, spark):
        """The docstring's two counterexamples must actually diverge —
        if they ever stop diverging, the contract text is stale."""
        from filebeat_to_clickhouse_spark.queries import _fp_cents, _fp_cents_decimal

        df = spark.createDataFrame([(1.005,), (-1.23,)], "v double")
        rows = df.select(
            _fp_cents("v").alias("fast"), _fp_cents_decimal("v").alias("ref")
        ).collect()
        assert (rows[0]["fast"], rows[0]["ref"]) == (100, 101)  # 3-decimal input
        assert (rows[1]["fast"], rows[1]["ref"]) == (-122, -123)  # negative


class TestQ10DeferredDimFKAssumption:
    """q10's deferred-dim rewrite (r10) assumes FK integrity: every
    o_custkey resolves in customer. On an ORPHAN custkey the two forms
    diverge — the deferred form ranks the orphan into its pre-join top-20
    and then loses it at the inner customer join (result < 20 rows),
    while the pre-r10 join-below-aggregate form dropped orphan fact rows
    BEFORE ranking and still filled 20 decorated rows. This fixture pins
    both behaviors so the assumption stays visible (r10 verdict item 5);
    the data-model guarantee itself is pinned by the oracle harness."""

    def _write_fixture(self, spark, root: str) -> None:
        n_valid = 24
        cust = [(i, f"Customer#{i}", 0) for i in range(1, n_valid + 1)]
        spark.createDataFrame(
            cust, "c_custkey bigint, c_name string, c_nationkey bigint"
        ).write.parquet(f"{root}/customer.parquet")
        spark.createDataFrame(
            [(0, "GERMANY")], "n_nationkey bigint, n_name string"
        ).write.parquet(f"{root}/nation.parquet")
        import datetime

        d = datetime.datetime(1997, 2, 1)
        orders = [(i, i, d) for i in range(1, n_valid + 1)] + [(999, 999, d)]
        spark.createDataFrame(
            orders, "o_orderkey bigint, o_custkey bigint, o_orderdate timestamp_ntz"
        ).write.parquet(f"{root}/orders.parquet")
        # orphan custkey 999 carries the HIGHEST revenue, so it ranks #1
        li = [(i, "R", float(1000 - i), 0.0) for i in range(1, n_valid + 1)] + [
            (999, "R", 5000.0, 0.0)
        ]
        spark.createDataFrame(
            li,
            "l_orderkey bigint, l_returnflag string, l_extendedprice double, l_discount double",
        ).write.parquet(f"{root}/lineitem.parquet")

    def test_orphan_custkey_shrinks_deferred_form_only(self, spark, tmp_path):
        from filebeat_to_clickhouse_spark.io import load_table
        from filebeat_to_clickhouse_spark.queries import QUERIES, _rev_fp_sum

        root = str(tmp_path / "q10fk")
        self._write_fixture(spark, root)

        got = QUERIES["q10_returned_items"](spark, root).collect()
        # deferred-dim form: orphan took one of the 20 pre-join slots and
        # vanished at the inner join -> 19 rows
        assert len(got) == 19
        assert [r["c_custkey"] for r in got] == list(range(1, 20))

        # pre-r10 join-below-aggregate form on the same fixture: orphan
        # fact rows drop BEFORE ranking -> a full 20 valid rows
        cust = load_table(spark, root, "customer")
        nation = load_table(spark, root, "nation")
        orders = load_table(spark, root, "orders")
        li = load_table(spark, root, "lineitem").filter(F.col("l_returnflag") == "R")
        old = (
            cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
            .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
            .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("c_custkey", "c_name", "n_name")
            .agg(_rev_fp_sum().alias("rev_dec"))
            .orderBy(F.desc("rev_dec"), F.col("c_custkey"))
            .limit(20)
            .collect()
        )
        assert len(old) == 20
        assert [r["c_custkey"] for r in old] == list(range(1, 21))
        # on FK-clean data the deferred form IS the old form's prefix
        assert [(r["c_custkey"], r["revenue"]) for r in got] == [
            (r["c_custkey"], float(r["rev_dec"])) for r in old[:19]
        ]


class TestRegistryOrderGuard:
    def test_first_fifty_names_match_correctness_set(self):
        """The correctness set is the first 50 registered names, in
        registration order (the keys of CORRECTNESS_r11.json): deleting
        or reordering an entry at or before position 50 would silently
        swap which queries that set checks."""
        import json
        import os

        from conftest import REPO_ROOT

        from filebeat_to_clickhouse_spark.queries import QUERIES

        with open(os.path.join(REPO_ROOT, "CORRECTNESS_r11.json")) as f:
            expected = list(json.load(f))
        assert len(expected) == 50
        assert list(QUERIES)[:50] == expected
