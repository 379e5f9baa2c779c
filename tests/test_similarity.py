"""Similarity-search semantics: multi-probe LSH recall, the non-broadcast
verify-join path, and SimHash block frequency capping."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from conftest import SF_SMOKE

from filebeat_to_clickhouse_spark.extensions.similarity import (
    brute_force_topk,
    cosine_neardup_pairs,
    lsh_topk,
)
from filebeat_to_clickhouse_spark.extensions.text import simhash_neardup_pairs
from filebeat_to_clickhouse_spark.io import load_table


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings").localCheckpoint()


def _pairs(df):
    return {(r["q_id"], r["neighbor_id"]) for r in df.collect()}


class TestMultiProbe:
    def test_recall_rises_with_n_probe(self, emb):
        """Probing hamming-adjacent buckets strictly grows the candidate set,
        so recall vs the exact baseline is monotone — and on this corpus it
        measurably rises."""
        q = emb.filter(F.col("vec_id") < 8)
        truth = _pairs(brute_force_topk(emb, q, k=10))
        recalls = {}
        for n_probe in (1, 3, 5):
            got = _pairs(lsh_topk(emb, q, k=10, n_planes=6, n_probe=n_probe))
            recalls[n_probe] = len(got & truth) / len(truth)
        assert recalls[1] <= recalls[3] <= recalls[5]
        assert recalls[5] > recalls[1], recalls

    def test_single_probe_matches_own_bucket_only(self, emb):
        """n_probe=1 degenerates to the plain single-bucket LSH search."""
        q = emb.filter(F.col("vec_id") < 8)
        single = lsh_topk(emb, q, k=10, n_planes=6, n_probe=1)
        multi = lsh_topk(emb, q, k=10, n_planes=6, n_probe=3)
        # every single-probe candidate survives into the multi-probe result
        # unless displaced by a strictly better neighbor
        s, m = _pairs(single), _pairs(multi)
        assert len(m) >= len(s)


class TestNeardupBroadcastFlag:
    def test_non_broadcast_path_identical(self, emb):
        """broadcast_vectors=False (the 100 TB call-site flag) must produce
        the identical pair set through the shuffle-join verify path."""
        on = cosine_neardup_pairs(emb, threshold=0.4)
        off = cosine_neardup_pairs(emb, threshold=0.4, broadcast_vectors=False)
        rows_on = {(r["vec_a"], r["vec_b"], round(r["cosine_sim"], 12)) for r in on.collect()}
        rows_off = {(r["vec_a"], r["vec_b"], round(r["cosine_sim"], 12)) for r in off.collect()}
        assert rows_on == rows_off and rows_on

    def test_non_broadcast_plan_has_no_broadcast_verify(self, emb):
        plan = cosine_neardup_pairs(emb, broadcast_vectors=False)._jdf.queryExecution().executedPlan().toString()
        # the only remaining broadcast may come from AQE's own size estimate;
        # the explicit hint must be gone from the logical plan
        logical = cosine_neardup_pairs(emb, broadcast_vectors=False)._jdf.queryExecution().optimizedPlan().toString()
        assert "ResolvedHint" not in logical


class TestAutoBandSizing:
    def test_width_scales_with_corpus_and_clamps(self):
        from filebeat_to_clickhouse_spark.extensions.similarity import auto_band_rows

        assert auto_band_rows(10) == 3  # tiny corpus -> floor
        assert auto_band_rows(500) == 5  # the sf0.01 instantiation the oracle hardcodes
        assert auto_band_rows(20_000) == 11
        assert auto_band_rows(2_000_000_000) == 24  # ceiling
        # monotone: more corpus never narrows the bands
        widths = [auto_band_rows(n) for n in (10, 100, 1000, 10**4, 10**6, 10**9)]
        assert widths == sorted(widths)

    def test_auto_finds_planted_near_identical_dups(self, spark, emb):
        """Wide bands trade recall at LOW similarity for linear candidate
        generation — but true near-duplicates (θ→0) collide in every band
        at any width. Planted exact copies must all be found under auto."""
        from filebeat_to_clickhouse_spark.extensions.similarity import cosine_neardup_pairs

        clones = emb.filter(F.col("vec_id") < 5).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
        )
        corpus = emb.select("vec_id", "embedding", "label").unionByName(clones)
        got = cosine_neardup_pairs(corpus, threshold=0.99, band_rows="auto")
        found = {(r["vec_a"], r["vec_b"]) for r in got.collect()}
        assert {(i, i + 100000) for i in range(5)} <= found

    def test_auto_equals_explicit_instantiation(self, emb):
        """band_rows='auto' must be exactly the fixed operator at the
        resolved (width, planes) — same pair set, same similarities."""
        from filebeat_to_clickhouse_spark.extensions.similarity import (
            auto_band_rows,
            cosine_neardup_pairs,
        )

        n = emb.count()
        r = auto_band_rows(n)
        auto = cosine_neardup_pairs(emb, threshold=0.4, band_rows="auto", corpus_count=n)
        fixed = cosine_neardup_pairs(emb, threshold=0.4, n_planes=4 * r, band_rows=r)
        a = {(x["vec_a"], x["vec_b"], round(x["cosine_sim"], 12)) for x in auto.collect()}
        b = {(x["vec_a"], x["vec_b"], round(x["cosine_sim"], 12)) for x in fixed.collect()}
        assert a == b


class TestSimhashBlockCapping:
    def test_correlated_corpus_capped_distinct_pairs_kept(self, spark):
        """Boilerplate docs (identical text) blow up quarter blocks; capping
        drops those blocks while pairs among distinct-content docs — whose
        blocks stay small — are unchanged."""
        boiler = [(i, "the same boilerplate sentence repeated everywhere") for i in range(40)]
        distinct = [
            (100, "alpha beta gamma delta epsilon zeta"),
            (101, "alpha beta gamma delta epsilon zets"),  # 1 token off → near-dup
            (102, "completely different words about spark engines"),
        ]
        docs = spark.createDataFrame(boiler + distinct, "doc_id bigint, text string")
        uncapped = {
            (r["doc_a"], r["doc_b"]) for r in simhash_neardup_pairs(docs).collect()
        }
        capped = {
            (r["doc_a"], r["doc_b"])
            for r in simhash_neardup_pairs(docs, max_block_size=10).collect()
        }
        # boilerplate clique: 40*39/2 pairs uncapped, gone when capped
        assert len(uncapped) >= 40 * 39 // 2
        assert capped <= uncapped
        boiler_ids = set(range(40))
        assert not any(a in boiler_ids or b in boiler_ids for a, b in capped)
        # the distinct-content near-dup pair survives capping untouched
        distinct_uncapped = {(a, b) for a, b in uncapped if a >= 100}
        distinct_capped = {(a, b) for a, b in capped if a >= 100}
        assert distinct_capped == distinct_uncapped


class TestIvfRecall:
    """The number a user tuning n_probe at 100 TB needs: recall@k against
    the exact baseline, per n_probe — probing more cells strictly grows the
    candidate set, so recall is monotone, and at n_probe == n_cells the
    search degenerates to exhaustive (recall 1.0 by construction).
    Deterministic end to end: seeded/trained quantizers, fixed testdata."""

    def test_ivf_seeded_recall_floor_and_monotone(self, emb):
        from filebeat_to_clickhouse_spark.extensions.similarity import ivf_topk

        q = emb.filter(F.col("vec_id") < 8)
        truth = _pairs(brute_force_topk(emb, q, k=10))
        recalls = {}
        for n_probe in (1, 2, 4, 16):
            got = _pairs(ivf_topk(emb, q, k=10, n_cells=16, n_probe=n_probe))
            recalls[n_probe] = len(got & truth) / len(truth)
        assert recalls[1] <= recalls[2] <= recalls[4] <= recalls[16], recalls
        assert recalls[1] >= 0.5, recalls  # measured 0.84 on this corpus
        assert recalls[16] == 1.0, recalls  # full probe == brute force

    def test_ivf_kmeans_recall_floor_and_monotone(self, emb):
        """The trained-quantizer variant ranks by integer squared distance,
        so its exact baseline is its own full-probe search (same metric,
        same fixed-point quantization) — against it, partial probes must be
        monotone with a floor."""
        from filebeat_to_clickhouse_spark.extensions.similarity import ivf_topk_kmeans

        q = emb.filter(F.col("vec_id") < 8)
        kw = dict(topk=10, n_cells=8, n_iter=2)
        truth = _pairs(ivf_topk_kmeans(emb, q, n_probe=8, **kw))
        recalls = {}
        for n_probe in (1, 2, 4):
            got = _pairs(ivf_topk_kmeans(emb, q, n_probe=n_probe, **kw))
            recalls[n_probe] = len(got & truth) / len(truth)
        assert recalls[1] <= recalls[2] <= recalls[4], recalls
        assert recalls[1] >= 0.6, recalls  # measured 0.90 on this corpus
        assert recalls[4] >= 0.8, recalls  # measured 0.96


class TestIvfPq:
    """IVF-PQ: the quantized search must degrade gracefully toward — and
    at full shortlist coincide exactly with — the unquantized IVF."""

    KW = dict(topk=10, n_cells=8, n_iter=2, n_probe=2)
    PQ = dict(m_sub=4, ks=16, pq_iter=2)

    def test_full_shortlist_equals_unquantized_ivf(self, emb):
        """With the shortlist covering every probed-cell candidate, the
        exact re-rank sees everything the unquantized search sees — rows,
        distances, and ranks must be identical."""
        from filebeat_to_clickhouse_spark.extensions.similarity import (
            ivf_pq_topk,
            ivf_topk_kmeans,
        )

        q = emb.filter(F.col("vec_id") < 8)
        got = {tuple(r) for r in ivf_pq_topk(emb, q, shortlist=10**6, **self.KW, **self.PQ).collect()}
        want = {tuple(r) for r in ivf_topk_kmeans(emb, q, **self.KW).collect()}
        assert got == want and got

    def test_recall_monotone_in_shortlist(self, emb):
        """Recall@10 vs the unquantized IVF grows with the shortlist — the
        recall/re-rank-cost dial a 100 TB deployment tunes."""
        from filebeat_to_clickhouse_spark.extensions.similarity import (
            ivf_pq_topk,
            ivf_topk_kmeans,
        )

        q = emb.filter(F.col("vec_id") < 8)
        truth = _pairs(ivf_topk_kmeans(emb, q, **self.KW))
        recalls = {}
        for sl in (10, 32):
            got = _pairs(ivf_pq_topk(emb, q, shortlist=sl, **self.KW, **self.PQ))
            recalls[sl] = len(got & truth) / len(truth)
        assert recalls[10] <= recalls[32], recalls
        assert recalls[32] >= 0.5, recalls  # measured 0.675 on this corpus


class TestIvfPqIndexPersistence:
    def test_indexed_matches_inline_and_prunes_partitions(self, spark, tmp_path):
        from filebeat_to_clickhouse_spark.extensions.similarity import (
            build_ivf_pq_index,
            ivf_pq_topk,
            ivf_pq_topk_indexed,
        )
        from filebeat_to_clickhouse_spark.io import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        queries = emb.filter(F.col("vec_id") < 8)
        kw = dict(n_cells=8, n_iter=2, m_sub=4, ks=16, pq_iter=2)
        idx = str(tmp_path / "ivfpq")
        build_ivf_pq_index(emb, idx, **kw)

        got = ivf_pq_topk_indexed(
            spark, idx, queries, topk=10, m_sub=4, n_probe=2, shortlist=32
        )
        want = ivf_pq_topk(emb, queries, topk=10, n_probe=2, shortlist=32, **kw)
        as_set = lambda df: {tuple(r) for r in df.collect()}
        assert as_set(got) == as_set(want) and as_set(got)

        # probes must reach the postings scan as a runtime partition filter
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:2000]


class TestIvfIndexPersistence:
    def test_indexed_matches_inline_and_prunes_partitions(self, spark, tmp_path):
        import pyspark.sql.functions as F

        from filebeat_to_clickhouse_spark.extensions.similarity import (
            build_ivf_index,
            ivf_topk,
            ivf_topk_indexed,
        )
        from filebeat_to_clickhouse_spark.io import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        queries = emb.filter(F.col("vec_id") % 40 == 0)
        idx = str(tmp_path / "ivf")
        build_ivf_index(emb, idx, n_cells=8)

        got = ivf_topk_indexed(spark, idx, queries, k=5, n_probe=3)
        want = ivf_topk(emb, queries, k=5, n_cells=8, n_probe=3)
        as_set = lambda df: {tuple(r) for r in df.select("q_id", "neighbor_id", "rank").collect()}
        assert as_set(got) == as_set(want)

        # the probe set must reach the postings scan as a runtime partition
        # filter (dynamic partition pruning), not a post-scan filter
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:2000]


class TestPartialTopk:
    def test_partial_prefilter_is_row_identical(self, emb):
        """The per-partition Arrow top-k cut must not change the result:
        every (q, neighbor, sim, rank) row identical to the plain window
        path — the property that licenses the switch at scale."""
        q = emb.filter(F.col("vec_id") < 8)
        plain = {tuple(r) for r in brute_force_topk(emb, q, k=10).collect()}
        cut = {tuple(r) for r in brute_force_topk(emb, q, k=10, partial_topk=True).collect()}
        assert plain == cut


class TestSemDedup:
    """semdedup_survivors keep-rule semantics on a constructed corpus."""

    def _corpus(self, spark):
        # ids 0..7 seed 8 distinct clusters; 100/101/102 are id 0 with a
        # coordinate nudged (cosine ≈ 0.9999 — the paraphrase/near-dup
        # case; unit-ish norms, per the operator's normalization
        # precondition), 200 nudges id 1.
        def unit(i, eps=0.0):
            v = [0.0] * 16
            v[i] = 0.9
            v[(i + 1) % 16] = 0.1
            v[(i + 2) % 16] = eps
            return v

        rows = [(i, unit(i)) for i in range(8)]
        rows += [(100, unit(0, 0.003)), (101, unit(0, 0.005)), (102, unit(0, 0.008))]
        rows += [(200, unit(1, 0.004))]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_one_representative_per_duplicate_group(self, spark):
        from filebeat_to_clickhouse_spark.extensions.similarity import semdedup_survivors

        surv = {
            r["vec_id"]
            for r in semdedup_survivors(self._corpus(spark), k=8, n_iter=2, threshold=0.95).collect()
        }
        # the lowest id of each near-identical group survives; every
        # scaled copy is dropped
        assert {0, 1} <= surv
        assert surv.isdisjoint({100, 101, 102, 200})
        # singletons all survive
        assert {2, 3, 4, 5, 6, 7} <= surv

    def test_threshold_one_keeps_near_but_not_exact(self, spark):
        from filebeat_to_clickhouse_spark.extensions.similarity import semdedup_survivors

        # at a threshold above any attainable cosine nothing is dropped
        surv = semdedup_survivors(self._corpus(spark), k=8, n_iter=2, threshold=1.1)
        assert surv.count() == 12

    def test_unknown_k_mode_raises(self, spark):
        from filebeat_to_clickhouse_spark.extensions.similarity import semdedup_survivors

        with pytest.raises(ValueError, match="'balanced', 'ivf'"):
            semdedup_survivors(self._corpus(spark), k="auto")


class TestHardNegativeMining:
    def test_same_label_excluded_and_hardest_first(self, spark):
        from filebeat_to_clickhouse_spark.extensions.similarity import hard_negative_topk

        # q0 (label 0): v=[1,0]; same-label [0.99,0.1] must NOT appear even
        # though it is the nearest vector; nearest wrong-label wins.
        rows = [
            (0, [1.0, 0.0], 0),
            (1, [0.99, 0.1], 0),   # same label, nearest — excluded
            (2, [0.9, 0.3], 1),    # wrong label, hardest negative
            (3, [0.0, 1.0], 1),    # wrong label, easy
        ]
        emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>, label int")
        got = hard_negative_topk(emb, emb.filter("vec_id = 0"), k=2).collect()
        assert [r["neighbor_id"] for r in got] == [2, 3]
        assert all(r["neighbor_label"] == 1 for r in got)

    def test_queries_broadcast(self, spark):
        from filebeat_to_clickhouse_spark.extensions.similarity import hard_negative_topk
        from filebeat_to_clickhouse_spark.io import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        got = hard_negative_topk(emb, emb.filter("vec_id < 4"), k=5)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestEmbeddingOutlierFlags:
    def test_far_point_flagged(self, spark):
        from filebeat_to_clickhouse_spark.queries import QUERIES

        out = QUERIES["embedding_outlier_flags"](spark, "/root/testdata/sf0.001").toPandas()
        assert len(out) == 500
        # flags exist and are a strict minority (mean rule: only the tail
        # beyond 2x the cluster mean squared distance)
        n_out = int(out["is_outlier"].sum())
        assert 0 < n_out < len(out) * 0.5
        # every flagged point is farther than every unflagged point IN ITS
        # OWN cluster's terms: d2*cnt > 2*ssum is monotone in d2 per cluster
        for _, grp in out.groupby("cluster"):
            if grp["is_outlier"].any() and (~grp["is_outlier"]).any():
                assert grp.loc[grp.is_outlier, "dist_sq"].min() > \
                       grp.loc[~grp.is_outlier, "dist_sq"].max()


class TestSemDedupBalancedK:
    def test_balanced_k_same_dup_removal(self, spark):
        """k="balanced" (k = isqrt(n), the O(n^1.5) growth law) must still
        drop every planted near-identical copy and keep all originals —
        only the clustering granularity changes, not the keep-rule."""
        from filebeat_to_clickhouse_spark.extensions.similarity import semdedup_survivors

        def unit(i, eps=0.0):
            v = [0.0] * 16
            v[i] = 0.9
            v[(i + 1) % 16] = 0.1
            v[(i + 2) % 16] = eps
            return v

        rows = [(i, unit(i)) for i in range(8)]
        rows += [(100, unit(0, 0.003)), (200, unit(1, 0.004))]
        corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        surv = {
            r["vec_id"]
            for r in semdedup_survivors(corpus, k="balanced", n_iter=2, threshold=0.95).collect()
        }
        assert {0, 1, 2, 3, 4, 5, 6, 7} <= surv
        assert surv.isdisjoint({100, 200})


class TestHierarchicalSemDedup:
    def _corpus(self, spark):
        def unit(i, eps=0.0):
            v = [0.0] * 16
            v[i] = 0.9
            v[(i + 1) % 16] = 0.1
            v[(i + 2) % 16] = eps
            return v

        rows = [(i, unit(i)) for i in range(8)]
        rows += [(100, unit(0, 0.003)), (200, unit(1, 0.004))]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_two_level_same_dup_removal(self, spark):
        """k=(k1,k2) hierarchical assignment: planted near-dups must still
        collapse to one representative — near-identical vectors land in
        the same coarse cell AND the same sub-cell (identical argmin
        chains on near-identical quantizations)."""
        from filebeat_to_clickhouse_spark.extensions.similarity import semdedup_survivors

        surv = {
            r["vec_id"]
            for r in semdedup_survivors(
                self._corpus(spark), k=(4, 2), n_iter=2, threshold=0.95
            ).collect()
        }
        assert {0, 1, 2, 3, 4, 5, 6, 7} <= surv
        assert surv.isdisjoint({100, 200})

    def test_cell_count_and_ids(self, spark):
        from filebeat_to_clickhouse_spark.extensions.similarity import hierarchical_cells
        from filebeat_to_clickhouse_spark.io import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        out = hierarchical_cells(emb, k1=4, k2=4, n_iter=2).toPandas()
        assert len(out) == 500
        # composite cell ids stay inside [0, k1*k2)
        assert out["cell"].between(0, 15).all()
        # the hierarchy actually splits: strictly more cells used than k1
        assert out["cell"].nunique() > 4


class TestIvfProbeSemDedup:
    def _corpus(self, spark):
        def unit(i, eps=0.0):
            v = [0.0] * 16
            v[i] = 0.9
            v[(i + 1) % 16] = 0.1
            v[(i + 2) % 16] = eps
            return v

        rows = [(i, unit(i)) for i in range(8)]
        rows += [(100, unit(0, 0.003)), (200, unit(1, 0.004))]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_ivf_mode_same_dup_removal(self, spark):
        """k="ivf" (two-level quantizer + multi-probe routing): planted
        near-dups must still collapse to one representative — the
        clustering rung changes, never the keep-rule."""
        from filebeat_to_clickhouse_spark.extensions.similarity import semdedup_survivors

        surv = {
            r["vec_id"]
            for r in semdedup_survivors(
                self._corpus(spark), k="ivf", n_iter=2, threshold=0.95, n_probe=2
            ).collect()
        }
        assert {0, 1, 2, 3, 4, 5, 6, 7} <= surv
        assert surv.isdisjoint({100, 200})

    def test_multi_probe_reroutes_boundary_points(self, spark):
        """Multi-probe must actually widen the final routing: on the
        sf0.001 embeddings, probe=2 reassigns a nonzero fraction of
        points relative to greedy probe=1 (the coarse-boundary split the
        probes exist to fix), while probe=1 keeps the legacy behavior
        cell-for-cell."""
        from filebeat_to_clickhouse_spark.extensions.similarity import hierarchical_cells
        from filebeat_to_clickhouse_spark.io import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        p1 = {r["vec_id"]: r["cell"] for r in
              hierarchical_cells(emb, k1=3, k2=3, n_iter=2, n_probe=1).collect()}
        p2 = {r["vec_id"]: r["cell"] for r in
              hierarchical_cells(emb, k1=3, k2=3, n_iter=2, n_probe=2).collect()}
        assert set(p1) == set(p2) and len(p1) == 500
        moved = sum(1 for k in p1 if p1[k] != p2[k])
        assert moved > 0
        # determinism: a second probe=2 run is cell-for-cell identical
        again = {r["vec_id"]: r["cell"] for r in
                 hierarchical_cells(emb, k1=3, k2=3, n_iter=2, n_probe=2).collect()}
        assert again == p2

    def test_full_probe_is_global_argmin(self, spark):
        """Probing ALL coarse cells = the flat argmin over every
        sub-centroid: any point probe=1 routed to a worse sub-centroid
        must move, so full-probe assignments can only differ from greedy
        where greedy was suboptimal — verified via the quantization
        property that a point and its near-identical twin always share a
        full-probe cell."""
        from filebeat_to_clickhouse_spark.extensions.similarity import hierarchical_cells

        cells = {r["vec_id"]: r["cell"] for r in
                 hierarchical_cells(self._corpus(spark), k1=2, k2=2, n_iter=2,
                                    n_probe=2, dedup_seeds_cos=0.95).collect()}
        assert cells[0] == cells[100] and cells[1] == cells[200]


class TestSemanticDecontaminate:
    def test_planted_paraphrase_leak_is_flagged(self, spark):
        """A corpus vector that is a tiny perturbation of an eval vector
        (the paraphrased-benchmark case n-gram gates miss) must be
        flagged against exactly that eval item; orthogonal vectors must
        not appear."""
        from filebeat_to_clickhouse_spark.extensions.similarity import (
            semantic_decontaminate,
        )

        ev = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
            "vec_id bigint, embedding array<float>",
        )
        corpus = spark.createDataFrame(
            [
                (100, [0.99, 0.02, 0.0, 0.0]),   # near-copy of eval 0
                (101, [0.0, 0.0, 1.0, 0.0]),     # orthogonal: clean
                (102, [0.0, -1.0, 0.0, 0.0]),    # anti-parallel: clean
            ],
            "vec_id bigint, embedding array<float>",
        )
        got = {
            (r["vec_id"], r["eval_id"]): r["cosine"]
            for r in semantic_decontaminate(corpus, ev, threshold=0.9).collect()
        }
        assert set(got) == {(100, 0)}
        assert got[(100, 0)] > 0.99

    def test_threshold_boundary_is_inclusive(self, spark):
        from filebeat_to_clickhouse_spark.extensions.similarity import (
            semantic_decontaminate,
        )

        ev = spark.createDataFrame(
            [(0, [1.0, 0.0])], "vec_id bigint, embedding array<float>"
        )
        corpus = spark.createDataFrame(
            [(10, [1.0, 0.0])], "vec_id bigint, embedding array<float>"
        )
        [r] = semantic_decontaminate(corpus, ev, threshold=1.0).collect()
        assert r["cosine"] == 1.0  # identical vector kept at cos ≥ 1.0

    def test_zero_norm_vectors_never_flag(self, spark):
        """A vector quantizing to all zeros (|x| < 1/scale everywhere) has
        norm 0 → cosine 0/0 = NaN; Spark sorts NaN above every double, so
        without the norm guard a single zero-norm eval vector would flag
        the ENTIRE corpus as leaked (ADVICE r4)."""
        from filebeat_to_clickhouse_spark.extensions.similarity import (
            semantic_decontaminate,
        )

        ev = spark.createDataFrame(
            [(0, [0.0001, 0.0]), (1, [1.0, 0.0])],
            "vec_id bigint, embedding array<float>",
        )
        corpus = spark.createDataFrame(
            [(10, [0.0, 1.0]), (11, [0.0002, 0.0]), (12, [1.0, 0.0])],
            "vec_id bigint, embedding array<float>",
        )
        got = {(r["vec_id"], r["eval_id"]) for r in
               semantic_decontaminate(corpus, ev, threshold=0.9).collect()}
        # zero-norm rows (eval 0, corpus 11) appear in NO pair, in either role
        assert got == {(12, 1)}

    def test_corpus_scaled_eval_side_raises_loudly(self, spark):
        """The eval broadcast has NO spillable fallback (threshold
        theta-join ⇒ BroadcastNestedLoopJoin is the only strategy), so a
        premise-violating corpus-scaled 'registry' must raise with the
        LSH redirect instead of OOM-ing (r10; the n-gram decontaminate
        family degrades to sort-merge — this operator cannot)."""
        import pytest

        from filebeat_to_clickhouse_spark.extensions.similarity import (
            semantic_decontaminate,
        )

        ev = spark.createDataFrame(
            [(i, [1.0, 0.0]) for i in range(4)],
            "vec_id bigint, embedding array<float>",
        )
        corpus = spark.createDataFrame(
            [(10, [1.0, 0.0])], "vec_id bigint, embedding array<float>"
        )
        with pytest.raises(ValueError, match="sign-band LSH"):
            semantic_decontaminate(corpus, ev, threshold=0.9, max_eval_rows=3)
        # explicit opt-out keeps the old contract
        assert semantic_decontaminate(
            corpus, ev, threshold=0.9, max_eval_rows=None
        ).count() == 4


class TestMmrTopk:
    @staticmethod
    def _py_mmr(vecs: dict, qv, k: int):
        """Brute-force greedy MMR model: 0.5·cos(q,c) − 0.5·max cos(c,s),
        ties by id."""
        import math

        def cos(a, b):
            num = sum(x * y for x, y in zip(a, b))
            return num / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

        rel = {i: cos(v, qv) for i, v in vecs.items()}
        picked = []
        while len(picked) < k and len(picked) < len(vecs):
            best = None
            for i in sorted(vecs):
                if i in [p[0] for p in picked]:
                    continue
                red = max((cos(vecs[i], vecs[p[0]]) for p in picked), default=0.0)
                s = 0.5 * rel[i] - 0.5 * red
                if best is None or s > best[1]:
                    best = (i, s)
            picked.append(best)
        return picked

    def test_matches_python_model(self, spark):
        from filebeat_to_clickhouse_spark.extensions.similarity import mmr_topk

        vecs = {
            0: [1.0, 0.0, 0.0],
            1: [0.99, 0.1, 0.0],   # near-dup of 0: redundancy should skip it
            2: [0.6, 0.8, 0.0],
            3: [0.0, 0.0, 1.0],
            4: [0.7, 0.0, 0.7],
        }
        corpus = spark.createDataFrame(
            [(i, v) for i, v in vecs.items()], "vec_id bigint, embedding array<double>"
        )
        q = spark.createDataFrame([([1.0, 0.05, 0.1],)], "embedding array<double>")
        got = [
            (r["rank"], r["vec_id"], r["mmr_score"])
            for r in mmr_topk(corpus, q, k=3).orderBy("rank").collect()
        ]
        want = self._py_mmr(vecs, [1.0, 0.05, 0.1], 3)
        assert [g[1] for g in got] == [w[0] for w in want]
        for g, w in zip(got, want):
            assert abs(g[2] - w[1]) < 1e-9

    def test_id_col_schema_follows_corpus(self, spark):
        """A string-typed, differently-named id column must come out with
        its own name and type — the output schema is built from the
        corpus field, not hard-coded bigint (r5 advice)."""
        from filebeat_to_clickhouse_spark.extensions.similarity import mmr_topk

        corpus = spark.createDataFrame(
            [("docA", [1.0, 0.0]), ("docB", [0.0, 1.0]), ("docC", [0.9, 0.1])],
            "name string, embedding array<double>",
        )
        q = spark.createDataFrame([([1.0, 0.2],)], "embedding array<double>")
        out = mmr_topk(corpus, q, k=2, id_col="name")
        assert out.schema["name"].dataType.typeName() == "string"
        rows = out.orderBy("rank").collect()
        # docC has the highest relevance (cos ≈ .996 vs docA's .981);
        # round 2 penalizes docA's redundancy with docC, so docB follows
        assert [r["name"] for r in rows] == ["docC", "docB"]


class TestVectorizedAssignment:
    """The Arrow-batched numpy Lloyd assignment must be BIT-IDENTICAL to
    the broadcast struct-fold: every operand is int64 fixed-point, so the
    matmul formulation (|x|² + |c|² − 2·X·Cᵀ) and numpy's first-minimum
    argmin over a cluster-sorted codebook realize exactly the
    (d2 asc, cluster asc) order array_min does."""

    def _both(self, emb, monkeypatch, **kw):
        from filebeat_to_clickhouse_spark.extensions import similarity as S

        # force the vectorized gate open regardless of k
        monkeypatch.setattr(S, "_VECTORIZED_K_FLOOR", 1)
        av, cv, _ = S.kmeans_assign_and_centroids(emb, assign_impl="vectorized", **kw)
        ae, ce, _ = S.kmeans_assign_and_centroids(emb, assign_impl="expr", **kw)
        return av, cv, ae, ce

    def test_bit_identity_with_expr_path(self, emb, monkeypatch):
        av, cv, ae, ce = self._both(emb, monkeypatch, k=23, n_iter=3)
        rv = sorted(map(tuple, av.select("vec_id", "cluster", "dist_sq").collect()))
        re_ = sorted(map(tuple, ae.select("vec_id", "cluster", "dist_sq").collect()))
        assert rv == re_
        assert sorted((r["cluster"], tuple(r["cq"])) for r in cv.collect()) == sorted(
            (r["cluster"], tuple(r["cq"])) for r in ce.collect()
        )

    def test_semdedup_row_identity_across_paths(self, emb, monkeypatch):
        """The full SemDeDup composition (Lloyd + within-cluster pairs +
        greedy keep) returns the same survivors through either
        assignment implementation."""
        from filebeat_to_clickhouse_spark.extensions import similarity as S

        monkeypatch.setattr(S, "_VECTORIZED_K_FLOOR", 1)
        a = sorted(map(tuple, S.semdedup_survivors(emb, k=16).collect()))
        monkeypatch.setattr(S, "_VECTORIZED_K_FLOOR", 10**9)
        b = sorted(map(tuple, S.semdedup_survivors(emb, k=16).collect()))
        assert a == b and len(a) > 0

    def test_small_k_uses_expr_large_k_uses_pandas(self, emb):
        """The regime gate: below the floor the plan keeps the broadcast
        fold (no Python stage); at/above it the assignment runs through
        MapInPandas."""
        from filebeat_to_clickhouse_spark.extensions import similarity as S

        import re

        def asgn_is_cut(df):
            # the quantized corpus is itself a lineage cut, so ExistingRDD
            # alone doesn't discriminate — only the vectorized branch cuts
            # the ASSIGNMENT, whose checkpoint scan carries cluster/dist_sq
            plan = df._jdf.queryExecution().executedPlan().toString()
            return bool(re.search(r"Scan ExistingRDD\[[^\]]*cluster[^\]]*dist_sq", plan))

        small, _, _ = S.kmeans_assign_and_centroids(emb, k=8, n_iter=1)
        small_plan = small._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in small_plan
        assert not asgn_is_cut(small)
        big, _, _ = S.kmeans_assign_and_centroids(emb, k=S._VECTORIZED_K_FLOOR, n_iter=1)
        assert asgn_is_cut(big)


class TestVectorizedSignatures:
    """The numpy signature pass must be bit-identical to the relational
    left fold: vectorized across rows, SEQUENTIAL across dims, so every
    accumulator sees the same IEEE additions in the same order (a matmul
    would re-associate and could flip near-zero signs)."""

    def test_signature_bit_identity(self, emb):
        from filebeat_to_clickhouse_spark.extensions import similarity as S
        from filebeat_to_clickhouse_spark.extensions.similarity import (
            as_double_vec,
            signature_bits,
        )

        v = emb.select(
            F.col("vec_id").alias("vid"), as_double_vec(F.col("embedding")).alias("vec")
        )
        rel = {
            r["vid"]: r["sig"]
            for r in v.withColumn("sig", signature_bits("vec", 56, 64))
            .select("vid", "sig")
            .collect()
        }
        vec = {r["vid"]: r["sig"] for r in S._signature_bits_vectorized(v, 56, 64).collect()}
        assert rel == vec and len(rel) > 0

    def test_neardup_rows_identical_across_sig_paths(self, emb, monkeypatch):
        from filebeat_to_clickhouse_spark.extensions import similarity as S

        base = sorted(
            (r["vec_a"], r["vec_b"], r["cosine_sim"])
            for r in S.cosine_neardup_pairs(emb, threshold=0.4).collect()
        )
        monkeypatch.setattr(S, "_VECTORIZED_SIG_FLOOR", 1)
        vec = sorted(
            (r["vec_a"], r["vec_b"], r["cosine_sim"])
            for r in S.cosine_neardup_pairs(emb, threshold=0.4).collect()
        )
        assert base == vec and len(base) > 0


class TestVectorizedPairStep:
    def test_semdedup_drop_set_identical_across_pair_paths(self, emb, monkeypatch):
        """The per-cluster blocked int64 matmul must reproduce the pair
        join's drop set exactly: integer dots are associative, and the
        sqrt/divide/compare sequence per value is the same."""
        from filebeat_to_clickhouse_spark.extensions import similarity as S

        # plant exact clones so the drop set is provably non-empty
        clones = emb.filter(F.col("vec_id") < 20).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
        )
        corpus = emb.select("vec_id", "embedding", "label").unionByName(clones)
        n = corpus.count()
        monkeypatch.setattr(S, "_VECTORIZED_SIG_FLOOR", 1)
        vec = sorted(map(tuple, S.semdedup_survivors(corpus, threshold=0.7).collect()))
        monkeypatch.setattr(S, "_VECTORIZED_SIG_FLOOR", 10**12)
        rel = sorted(map(tuple, S.semdedup_survivors(corpus, threshold=0.7).collect()))
        assert vec == rel and 0 < len(vec) < n


class TestVectorizedIvfAssignment:
    def test_ivf_topk_identical_across_assignment_paths(self, emb, monkeypatch):
        """The numpy cell assignment (sequential-dim dots, pass-through
        norms, first-maximum argmax over cell-sorted centroids) must give
        the exact crossJoin+window result."""
        from filebeat_to_clickhouse_spark.extensions import similarity as S

        q = emb.filter(F.col("vec_id") < 8)
        monkeypatch.setattr(S, "_VECTORIZED_SIG_FLOOR", 1)
        vec = sorted(map(tuple, S.ivf_topk(emb, q, k=10).collect()))
        monkeypatch.setattr(S, "_VECTORIZED_SIG_FLOOR", 10**12)
        rel = sorted(map(tuple, S.ivf_topk(emb, q, k=10).collect()))
        assert vec == rel and len(vec) > 0


class TestVectorizedLevel2:
    def test_semdedup_ivf_identical_across_paths(self, emb, monkeypatch):
        """The ivf mode's grouped level-2 argmin (per-cell codebooks via
        blocked int matmuls) must reproduce the struct-fold composition
        end to end."""
        from filebeat_to_clickhouse_spark.extensions import similarity as S

        monkeypatch.setattr(S, "_VECTORIZED_SIG_FLOOR", 1)
        vec = sorted(map(tuple, S.semdedup_survivors(emb, k="ivf").collect()))
        monkeypatch.setattr(S, "_VECTORIZED_SIG_FLOOR", 10**12)
        rel = sorted(map(tuple, S.semdedup_survivors(emb, k="ivf").collect()))
        assert vec == rel and len(vec) > 0


class TestVectorizedOraclePin:
    """r8 advice: the sf0.01 parity harness runs BELOW the vectorized
    gates (isqrt(500) = 22 < _VECTORIZED_K_FLOOR = 24, n = 500 <
    _VECTORIZED_SIG_FLOOR = 4096), so the numpy paths were validated
    against the DuckDB oracle only transitively through monkeypatched
    A/Bs. Here the floors drop to 1 and the REGISTERED queries run
    against their own oracle SQL directly, so _assign_vectorized,
    _semdedup_dropped_vectorized, and _cosine_argmax_vectorized each get
    one direct oracle-pinned pass."""

    def _oracle_rows(self, name):
        import duckdb

        from conftest import SF_ORACLE

        from filebeat_to_clickhouse_spark.io import TABLES
        from filebeat_to_clickhouse_spark.queries import ORACLE_SQL

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_ORACLE}/{t}.parquet'")
        rows = con.execute(ORACLE_SQL[name]).fetchall()
        con.close()
        return sorted(map(tuple, rows))

    def test_semdedup_vectorized_matches_oracle_directly(self, spark, monkeypatch):
        from conftest import SF_ORACLE

        from filebeat_to_clickhouse_spark.extensions import similarity as S
        from filebeat_to_clickhouse_spark.queries import QUERIES

        monkeypatch.setattr(S, "_VECTORIZED_K_FLOOR", 1)
        monkeypatch.setattr(S, "_VECTORIZED_SIG_FLOOR", 1)
        got = sorted(map(tuple, QUERIES["semdedup_survivors"](spark, SF_ORACLE).collect()))
        assert got == self._oracle_rows("semdedup_survivors")

    def test_ivf_vectorized_argmax_matches_oracle_directly(self, spark, monkeypatch):
        from conftest import SF_ORACLE

        from filebeat_to_clickhouse_spark.extensions import similarity as S
        from filebeat_to_clickhouse_spark.queries import QUERIES

        monkeypatch.setattr(S, "_VECTORIZED_SIG_FLOOR", 1)
        got = sorted(map(tuple, QUERIES["ann_ivf_topk"](spark, SF_ORACLE).collect()))
        assert got == self._oracle_rows("ann_ivf_topk")

    def test_explicit_k_with_corpus_count_engages_vectorized_pair_step(
        self, spark, monkeypatch
    ):
        """r8 advice: an explicit integer k used to leave n=None so the
        vectorized pair step never engaged. With corpus_count passed, the
        gate must now see n — pinned by spying the kernel."""
        from conftest import SF_ORACLE

        from filebeat_to_clickhouse_spark.extensions import similarity as S
        from filebeat_to_clickhouse_spark.io import load_table

        monkeypatch.setattr(S, "_VECTORIZED_SIG_FLOOR", 1)
        calls = []
        real = S._semdedup_dropped_vectorized
        monkeypatch.setattr(
            S,
            "_semdedup_dropped_vectorized",
            lambda *a, **k: calls.append(1) or real(*a, **k),
        )
        emb = load_table(spark, SF_ORACLE, "embeddings")
        n = emb.count()
        S.semdedup_survivors(emb, k=8, threshold=0.5, corpus_count=n).collect()
        assert calls, "explicit-k + corpus_count must route the vectorized pair step"
