"""Property-based invariants (hypothesis): each example generates a BATCH
of inputs and runs ONE Spark job, so examples stay cheap.

Properties pin the semantics that the oracle harness can't reach: arbitrary
timestamps (not just testdata's), arbitrary bulk-line compositions, and the
as-of join against a brute-force model."""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F
from hypothesis import given, settings, strategies as st

SETTINGS = dict(max_examples=5, deadline=None)

_DTS = st.datetimes(
    min_value=datetime.datetime(1990, 1, 1), max_value=datetime.datetime(2099, 12, 31)
).map(lambda d: d.replace(microsecond=0))


class TestTfRunLength:
    @settings(**SETTINGS)
    @given(
        st.lists(
            st.lists(
                st.sampled_from(["the", "a", "b", "zz", "row", ""]),
                min_size=0,
                max_size=12,
            ),
            min_size=1,
            max_size=30,
        )
    )
    def test_run_length_tf_equals_groupby_tf(self, spark, docs_tokens):
        """The r3 sorted-run-length term-frequency scan (tfidf_top_terms's
        hot path) must equal the textbook explode → groupBy count on
        arbitrary token multisets, including empty docs, empty tokens,
        and all-duplicate docs."""
        from filebeat_to_clickhouse_spark.extensions.text import tfidf_top_terms

        rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["doc_id"], r["term"]): r["tf"]
            for r in tfidf_top_terms(docs, k=100).collect()
        }
        want: dict[tuple[int, str], int] = {}
        for i, toks in enumerate(docs_tokens):
            for t in toks:
                if t:
                    want[(i, t)] = want.get((i, t), 0) + 1
        assert got.keys() == want.keys()  # k=100 > any doc's vocab here
        assert all(got[k] == want[k] for k in want)


class TestTimestampParse:
    @settings(**SETTINGS)
    @given(st.lists(_DTS, min_size=1, max_size=40))
    def test_roundtrip_all_wire_formats(self, spark, dts):
        """Any datetime rendered in any of the reference's accepted formats
        parses back to the same wall-clock instant."""
        from filebeat_to_clickhouse_spark.normalize import parse_timestamp_expr

        rows = []
        for i, d in enumerate(dts):
            fmt = i % 4
            if fmt == 0:
                s = d.strftime("%Y-%m-%dT%H:%M:%SZ")
            elif fmt == 1:
                s = d.strftime("%Y-%m-%dT%H:%M:%S.000Z")
            elif fmt == 2:
                s = d.strftime("%Y-%m-%d %H:%M:%S")
            else:
                s = d.strftime("%Y-%m-%dT%H:%M:%S+00:00")
            rows.append((s,))
        df = spark.createDataFrame(rows, "ts string")
        got = [
            r.p
            for r in df.select(
                parse_timestamp_expr(F.col("ts"), default=F.lit(None)).alias("p")
            ).collect()
        ]
        assert got == list(dts)

    @settings(**SETTINGS)
    @given(st.lists(st.text(max_size=25), min_size=1, max_size=40))
    def test_junk_never_parses_never_throws(self, spark, junk):
        """Arbitrary strings (ANSI mode on!) must yield NULL, not raise —
        the reference's silent fallback (main.go:106-110)."""
        from filebeat_to_clickhouse_spark.normalize import parse_timestamp_expr

        shaped = [
            s for s in junk
            if not __import__("re").match(r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}", s)
        ]
        if not shaped:
            return
        df = spark.createDataFrame([(s,) for s in shaped], "ts string")
        got = df.select(
            parse_timestamp_expr(F.col("ts"), default=F.lit(None)).alias("p")
        ).collect()
        assert all(r.p is None for r in got)


class TestBulkClassifier:
    LINE = st.sampled_from(
        [
            ('{"index":{}}', "action"),
            ('{"create":{"_id":"x"}}', "action"),
            ('{"message":"doc"}', "document"),
            ('{"@timestamp":"2024-01-01T00:00:00Z","message":"d2"}', "document"),
            ("not json at all", "junk"),
            ("[1, 2, 3]", "junk"),  # JSON but not an object
            ("", "blank"),
        ]
    )

    @settings(**SETTINGS)
    @given(st.lists(LINE, min_size=1, max_size=60))
    def test_line_accounting_is_conserved(self, spark, lines):
        """classify_lines partitions every line; parse_bulk_ndjson yields
        exactly the document lines — no silent loss anywhere."""
        from filebeat_to_clickhouse_spark.ingest import parse_bulk_ndjson
        from filebeat_to_clickhouse_spark.ingest.formats import classify_lines

        body = "\n".join(s for s, _ in lines)
        expected: dict[str, int] = {}
        for _, cls in lines:
            expected[cls] = expected.get(cls, 0) + 1
        df = spark.createDataFrame([(body,)], "value string")
        got = {
            r["line_class"]: r["n"]
            for r in classify_lines(df).groupBy("line_class").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert got == {k: v for k, v in expected.items() if v}
        assert parse_bulk_ndjson(df).count() == expected.get("document", 0)


class TestAsofModel:
    EVENT = st.tuples(
        st.integers(min_value=0, max_value=3),      # key
        st.integers(min_value=0, max_value=50),     # ts offset (minutes)
    )

    @settings(**SETTINGS)
    @given(
        st.lists(EVENT, min_size=1, max_size=25),
        st.lists(EVENT, min_size=1, max_size=25),
    )
    def test_matches_brute_force_model(self, spark, left, right):
        """asof_join_backward ≡ per-row model: the right row with the
        greatest (ts, seq) among those with ts <= left ts on the same key."""
        from filebeat_to_clickhouse_spark.operators import asof_join_backward

        base = datetime.datetime(2024, 1, 1)
        lrows = [
            (i, k, base + datetime.timedelta(minutes=m)) for i, (k, m) in enumerate(left)
        ]
        rrows = [
            (i, k, base + datetime.timedelta(minutes=m)) for i, (k, m) in enumerate(right)
        ]
        ldf = spark.createDataFrame(lrows, "lid bigint, k bigint, lts timestamp_ntz")
        rdf = spark.createDataFrame(rrows, "rid bigint, k bigint, rts timestamp_ntz")
        got = {
            r["lid"]: r["rid"]
            for r in asof_join_backward(
                ldf, rdf, on="k", left_ts="lts", right_ts="rts",
                right_cols=("rid",), right_seq="rid",
            ).collect()
        }
        for lid, k, lts in lrows:
            cand = [(rts, rid) for rid, rk, rts in rrows if rk == k and rts <= lts]
            expected = max(cand)[1] if cand else None
            assert got[lid] == expected, (lid, k, lts)


class TestPackScanModel:
    @settings(**SETTINGS)
    @given(
        st.lists(st.integers(min_value=1, max_value=400), min_size=1, max_size=200),
        st.integers(min_value=1, max_value=300),
    )
    def test_matches_reference_greedy(self, tokens, budget):
        """_pack_scan (vectorized-ish numpy scan) must equal the obvious
        one-pass greedy reference for any token counts and budget."""
        import numpy as np

        from filebeat_to_clickhouse_spark.extensions.packing import _pack_scan

        pack_id, seq = _pack_scan(np.array(tokens, dtype=np.int64), budget)
        # reference model
        exp_pack, exp_seq = [], []
        acc = pos = cur = 0
        for t in tokens:
            if pos > 0 and acc + t > budget:
                cur += 1
                acc = 0
                pos = 0
            pos += 1
            acc += t
            exp_pack.append(cur)
            exp_seq.append(pos)
        assert list(pack_id) == exp_pack and list(seq) == exp_seq
        # invariants: packs are contiguous, every pack except possibly ones
        # holding a single oversized doc stays within budget
        for p in range(int(pack_id.max()) + 1):
            members = [t for t, pp in zip(tokens, pack_id) if pp == p]
            assert sum(members) <= budget or len(members) == 1


class TestConnectedComponentsModel:
    @settings(**SETTINGS)
    @given(
        st.lists(
            st.tuples(st.integers(min_value=0, max_value=30), st.integers(min_value=0, max_value=30)),
            min_size=1,
            max_size=40,
        ).filter(lambda es: any(a != b for a, b in es))
    )
    def test_matches_union_find(self, spark, edges):
        """Distributed min-label propagation must agree with a driver-side
        union-find on arbitrary small graphs (chains, cliques, self-loops)."""
        from filebeat_to_clickhouse_spark.extensions.dedup import connected_components

        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for a, b in edges:
            union(a, b)
        expect = {n: find(n) for n in parent}

        df = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
        got = {r["node"]: r["component"] for r in connected_components(df).collect()}
        assert got == expect


class TestRepetitionStatsModel:
    @settings(**SETTINGS)
    @given(
        st.lists(
            st.lists(st.sampled_from(["a", "b", "c", "aa"]), min_size=1, max_size=12),
            min_size=1,
            max_size=8,
        )
    )
    def test_matches_counter_model(self, spark, docs):
        """The zero-shuffle fold formulation must agree with a Counter-based
        model on adversarial tiny-alphabet docs (heavy gram collisions,
        single-token docs, all-identical runs)."""
        from collections import Counter

        from filebeat_to_clickhouse_spark.extensions.text import repetition_stats

        df = spark.createDataFrame(
            [(i, " ".join(toks)) for i, toks in enumerate(docs)], "doc_id bigint, text string"
        )
        got = {r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()}

        for i, toks in enumerate(docs):
            row = got[i]
            assert row["n_tokens"] == len(toks)
            best = run = 1
            for a, b in zip(toks, toks[1:]):
                run = run + 1 if a == b else 1
                best = max(best, run)
            assert row["max_token_run"] == best
            for n, top_col, dup_col in (
                (2, "top_bigram_frac", "dup_bigram_frac"),
                (3, None, "dup_trigram_frac"),
            ):
                grams = [" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)]
                if not grams:
                    if top_col:
                        assert row[top_col] is None
                    assert row[dup_col] is None
                    continue
                cnt = Counter(grams)
                if top_col:
                    assert row[top_col] == max(cnt.values()) / len(grams)
                assert row[dup_col] == (len(grams) - len(cnt)) / len(grams)


class TestDecontaminateModel:
    @settings(**SETTINGS)
    @given(
        st.lists(st.lists(st.sampled_from(["x", "y", "z"]), min_size=3, max_size=8), min_size=1, max_size=6),
        st.lists(st.lists(st.sampled_from(["x", "y", "z"]), min_size=3, max_size=8), min_size=1, max_size=4),
    )
    def test_matches_set_intersection(self, spark, train, evals):
        """Shared-gram counts must equal the distinct trigram-set
        intersection computed directly (40-bit hashes: collision-free at
        this size)."""
        from filebeat_to_clickhouse_spark.extensions.dedup import decontaminate

        tr = spark.createDataFrame(
            [(i, " ".join(t)) for i, t in enumerate(train)], "doc_id bigint, text string"
        )
        ev = spark.createDataFrame(
            [(1000 + i, " ".join(t)) for i, t in enumerate(evals)], "doc_id bigint, text string"
        )
        got = {r["doc_id"]: r["n_shared_grams"] for r in decontaminate(tr, ev, n=3).collect()}

        ev_grams = {tuple(t[j : j + 3]) for t in evals for j in range(len(t) - 2)}
        for i, t in enumerate(train):
            shared = {tuple(t[j : j + 3]) for j in range(len(t) - 2)} & ev_grams
            assert got.get(i, 0) == len(shared)


class TestPrefixFilterExactness:
    @settings(**SETTINGS)
    @given(
        st.lists(
            st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=3, max_size=10),
            min_size=2,
            max_size=8,
        )
    )
    def test_prefix_variant_equals_plain(self, spark, docs):
        """Prefix filtering is an EXACT optimization: for any corpus —
        including tiny vocabularies where every shingle collides at
        chance, the plain join's worst case — the prefix-indexed variant
        must return the identical thresholded pair set."""
        from filebeat_to_clickhouse_spark.extensions.dedup import (
            ngram_jaccard_pairs,
            ngram_jaccard_pairs_prefix,
        )

        df = spark.createDataFrame(
            [(i, " ".join(t)) for i, t in enumerate(docs)], "doc_id bigint, text string"
        )
        plain = {
            (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
            for r in ngram_jaccard_pairs(df, threshold=0.5, max_df=None).collect()
        }
        pref = {
            (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
            for r in ngram_jaccard_pairs_prefix(df, threshold=0.5).collect()
        }
        assert pref == plain
        # ≤8 docs → every shingle's df is under any sane cap: the capped
        # DEFAULT must coincide with the uncapped exact form here.
        capped = {
            (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
            for r in ngram_jaccard_pairs(df, threshold=0.5).collect()
        }
        assert capped == plain

    def test_prefix_prunes_skewed_corpus(self, spark):
        """The operator's design regime, pinned with deterministic COUNTS
        (no wall-clock flakiness): a Zipf-ish corpus — every document
        shares hot boilerplate, content shingles are rare — at a high
        threshold. The prefix index must cut the candidate join's row
        count by >50× versus the plain inverted-index join, and still
        return the identical pair set."""
        import pyspark.sql.functions as F

        from filebeat_to_clickhouse_spark.extensions.dedup import (
            ngram_jaccard_pairs,
            ngram_jaccard_pairs_prefix,
            word_shingles,
        )

        boiler = "terms of service apply all rights reserved contact us for details"
        rows = []
        for i in range(300):
            # unique content per doc; docs 0/1 share theirs → one true pair
            content = f"u{i % 299}a u{i % 299}b u{i % 299}c u{i % 299}d u{i % 299}e"
            rows.append((i, f"{boiler} {content}"))
        df = spark.createDataFrame(rows, "doc_id bigint, text string")

        t = 0.8
        sh = word_shingles(df, n=3)
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        plain_rows = dfreq.agg(
            F.sum(F.col("_df") * (F.col("_df") - 1) / 2)
        ).collect()[0][0]
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        from pyspark.sql import Window

        ranked = (
            sh.join(dfreq, "shingle")
            .withColumn(
                "_rk",
                F.row_number().over(Window.partitionBy("doc_id").orderBy("_df", "shingle")),
            )
            .join(sizes, "doc_id")
        )
        pref_sh = ranked.filter(
            F.col("_rk") <= F.col("n_sh") - F.ceil(F.lit(t) * F.col("n_sh") - F.lit(1e-9)) + 1
        )
        pref_rows = (
            pref_sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_pf"))
            .agg(F.sum(F.col("_pf") * (F.col("_pf") - 1) / 2))
            .collect()[0][0]
        )
        assert pref_rows * 50 <= plain_rows, (pref_rows, plain_rows)

        plain = {
            (r["doc_a"], r["doc_b"])
            for r in ngram_jaccard_pairs(df, threshold=t, max_df=None).collect()
        }
        pref = {
            (r["doc_a"], r["doc_b"])
            for r in ngram_jaccard_pairs_prefix(df, threshold=t).collect()
        }
        assert pref == plain and (0, 299) in plain


class TestIncrementalDedupModel:
    @settings(**SETTINGS)
    @given(
        st.lists(st.sampled_from(["p", "q", "r", "s"]), min_size=0, max_size=6),
        st.lists(st.sampled_from(["p", "q", "r", "s"]), min_size=1, max_size=8),
    )
    def test_matches_set_model(self, spark, store_texts, batch_texts):
        """Survivors = first occurrence of each batch text not in the store."""
        from filebeat_to_clickhouse_spark.extensions.dedup import incremental_dedup

        store = spark.createDataFrame(
            [(t,) for t in store_texts] or [("__none__",)], "text string"
        ).selectExpr("md5(text) AS digest")
        batch = spark.createDataFrame(
            [(i, t) for i, t in enumerate(batch_texts)], "doc_id bigint, text string"
        )
        got = {r["doc_id"] for r in incremental_dedup(batch, store).collect()}

        seen, expect = set(store_texts), set()
        for i, t in enumerate(batch_texts):
            if t not in seen:
                expect.add(i)
                seen.add(t)
        assert got == expect

    @settings(**SETTINGS)
    @given(
        st.lists(st.sampled_from(["p", "q", "r", "s"]), min_size=0, max_size=6),
        st.lists(st.sampled_from(["p", "q", "r", "s"]), min_size=1, max_size=8),
    )
    def test_bloom_variant_is_bit_identical(self, spark, store_texts, batch_texts):
        """incremental_dedup_bloom == incremental_dedup at ANY filter size:
        a 64-bit filter (false positives near-certain) and a 2^17-bit one
        must both verify down to the exact anti-join result."""
        from filebeat_to_clickhouse_spark.extensions.dedup import (
            incremental_dedup,
            incremental_dedup_bloom,
        )

        store = spark.createDataFrame(
            [(t,) for t in store_texts] or [("__none__",)], "text string"
        ).selectExpr("md5(text) AS digest")
        batch = spark.createDataFrame(
            [(i, t) for i, t in enumerate(batch_texts)], "doc_id bigint, text string"
        )
        plain = {(r["doc_id"], r["digest"]) for r in incremental_dedup(batch, store).collect()}
        for m_bits in (64, 1 << 17):
            got = {
                (r["doc_id"], r["digest"])
                for r in incremental_dedup_bloom(batch, store, m_bits=m_bits).collect()
            }
            assert got == plain, m_bits

    def test_bloom_clears_definite_nonmembers_without_join(self, spark):
        """Disjoint batch/store: with an adequately sized filter, most batch
        rows must clear the bitmap (hit=False) — the pre-filter actually
        prunes, it is not a pass-through."""
        import pyspark.sql.functions as F

        from filebeat_to_clickhouse_spark.extensions.dedup import bloom_filter_words

        store = spark.range(200).selectExpr("md5(CAST(id AS STRING)) AS digest")
        batch = spark.range(1000, 1200).selectExpr("md5(CAST(id AS STRING)) AS digest")
        words = bloom_filter_words(store, m_bits=1 << 12, k_hashes=4)
        assert len(words) == (1 << 12) // 64 and any(words)
        lit = F.lit(words).cast("array<bigint>")
        probed = batch.withColumn("_bw", lit).select(
            "*",
            *[
                F.pmod(F.xxhash64("digest", F.lit(i)), F.lit(1 << 12)).alias(f"_p{i}")
                for i in range(4)
            ],
        )
        hit = F.lit(True)
        for i in range(4):
            hit = hit & F.expr(
                f"(shiftright(element_at(_bw, CAST(_p{i} div 64 AS INT) + 1),"
                f" CAST(_p{i} % 64 AS INT)) & 1) = 1"
            )
        n_hits = probed.filter(hit).count()
        # 200 members in 4096 bits at k=4: expected fp rate well under 15%
        assert n_hits <= 30


class TestKmeansFixedPointModel:
    @settings(**SETTINGS)
    @given(
        st.lists(
            st.lists(st.floats(min_value=-1, max_value=1, width=32), min_size=3, max_size=3),
            min_size=4,
            max_size=12,
        )
    )
    def test_matches_numpy_lloyd(self, spark, vecs):
        """The distributed fixed-point Lloyd must agree exactly with a
        single-threaded model: same quantization, same trunc-div update,
        same lowest-cluster tie-break."""
        import math

        from filebeat_to_clickhouse_spark.extensions.similarity import kmeans_fixed_point

        k, n_iter, scale = 2, 3, 1024
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)], "vec_id bigint, embedding array<float>"
        )
        got = {
            r["vec_id"]: (r["cluster"], r["dist_sq"])
            for r in kmeans_fixed_point(df, k=k, n_iter=n_iter, scale=scale).collect()
        }

        xq = [[math.floor(float(x) * scale) for x in v] for v in vecs]

        def trunc_div(s, n):
            return -((-s) // n) if s < 0 else s // n

        cent = {i: xq[i] for i in range(k)}
        for it in range(n_iter):
            asgn = {}
            for i, v in enumerate(xq):
                best = min(
                    (sum((a - b) ** 2 for a, b in zip(v, c)), cl) for cl, c in cent.items()
                )
                asgn[i] = (best[1], best[0])
            if it == n_iter - 1:
                break
            cent = {}
            for cl in {c for c, _ in asgn.values()}:
                members = [xq[i] for i, (c, _) in asgn.items() if c == cl]
                cent[cl] = [
                    trunc_div(sum(col), len(members)) for col in zip(*members)
                ]
        assert got == {i: (c, d) for i, (c, d) in asgn.items()}


class TestEpochShuffleModel:
    @settings(**SETTINGS)
    @given(st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=30, unique=True),
           st.integers(min_value=0, max_value=3))
    def test_valid_permutation_and_model_match(self, spark, ids, epoch):
        """Positions are 1..n contiguous per shard, the mapping matches the
        md5 model exactly, and different epochs reorder (same shard+pos
        multiset, different assignment when hashes differ)."""
        import hashlib

        from filebeat_to_clickhouse_spark.extensions.text import epoch_shuffle

        df = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
        got = {r["doc_id"]: (r["shard"], r["pos"]) for r in epoch_shuffle(df, epoch=epoch, n_shards=4).collect()}

        def key(i):
            return hashlib.md5(f"{epoch}:{i}".encode()).hexdigest()

        shards = {}
        for i in ids:
            shards.setdefault(int(key(i)[:8], 16) % 4, []).append(i)
        expect = {}
        for sh, members in shards.items():
            for pos, i in enumerate(sorted(members, key=key), start=1):
                expect[i] = (sh, pos)
        assert got == expect


class TestChunkingModel:
    @settings(**SETTINGS)
    @given(
        st.integers(min_value=1, max_value=90),
        st.integers(min_value=2, max_value=8),
    )
    def test_every_token_covered_exactly_as_model(self, spark, n_tokens, chunk):
        """Every token index lands in ≥1 chunk, windows match the
        Python slicing model exactly, and stride < chunk overlaps seams."""
        from filebeat_to_clickhouse_spark.extensions.text import chunk_documents

        stride = max(1, chunk - 1)
        toks = [f"t{i}" for i in range(n_tokens)]
        df = spark.createDataFrame([(1, " ".join(toks))], "doc_id bigint, text string")
        got = {
            r["chunk_idx"]: (r["start_tok"], r["chunk_text"].split(" "))
            for r in chunk_documents(df, chunk_tokens=chunk, stride=stride).collect()
        }

        starts = list(range(1, max(n_tokens - chunk + stride, 1) + 1, stride))
        assert sorted(got) == list(range(len(starts)))
        covered = set()
        for idx, s in enumerate(starts):
            window = toks[s - 1 : s - 1 + chunk]
            assert got[idx] == (s, window)
            covered.update(range(s - 1, s - 1 + len(window)))
        assert covered == set(range(n_tokens))


class TestDecontaminateBroadcastSwitch:
    def test_shuffle_path_row_identical(self, spark):
        """broadcast_eval=False (the huge-eval-registry path) must return
        exactly the broadcast path's rows — the switch only moves the
        join strategy."""
        from filebeat_to_clickhouse_spark.extensions.dedup import decontaminate

        tr = spark.createDataFrame(
            [(i, f"a b c d{i} e f") for i in range(20)], "doc_id bigint, text string"
        )
        ev = spark.createDataFrame([(100, "a b c x"), (101, "e f g")], "doc_id bigint, text string")
        on = {tuple(r) for r in decontaminate(tr, ev, n=3, broadcast_eval=True).collect()}
        off = {tuple(r) for r in decontaminate(tr, ev, n=3, broadcast_eval=False).collect()}
        assert on == off and on  # non-empty: 'a b c' shared by every doc

    def test_auto_mode_sizes_the_eval_side(self, spark, monkeypatch):
        """broadcast_eval=None (the default) must pick broadcast under the
        row cap and FLIP TO SHUFFLE past it — the r6 guard for the r5
        sf10 OOM (a corpus-scaled "eval registry" trusted into an 8 GiB
        driver broadcast). The decision function is pinned directly, and
        both auto outcomes must be row-identical to the forced paths."""
        import pyspark.sql.functions as F

        from filebeat_to_clickhouse_spark.extensions import dedup

        tr = spark.createDataFrame(
            [(i, f"a b c d{i} e f") for i in range(20)], "doc_id bigint, text string"
        )
        ev = spark.createDataFrame(
            [(100, "a b c x"), (101, "e f g")], "doc_id bigint, text string"
        )
        ev_sh = dedup.word_shingles(ev, n=3).select("shingle").distinct()
        _, hint_small = dedup._eval_join_hint(ev_sh, None, max_rows=10**9)
        assert hint_small is F.broadcast
        _, hint_big = dedup._eval_join_hint(ev_sh, None, max_rows=0)
        assert hint_big is not F.broadcast
        # the flipped path must FORBID broadcast structurally, not just
        # drop the hint: AQE's autoBroadcastJoinThreshold re-broadcast an
        # un-hinted oversized eval side and OOM'd the r6 sf10 growth run.
        # With the merge hint the eval join plans as SortMergeJoin.
        monkeypatch.setattr(dedup, "BROADCAST_EVAL_MAX_ROWS", 0)
        flipped_plan = (
            dedup.decontaminate(tr, ev, n=3)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        monkeypatch.undo()
        assert "SortMergeJoin" in flipped_plan
        assert "BroadcastHashJoin" not in flipped_plan

        forced = {tuple(r) for r in dedup.decontaminate(tr, ev, n=3, broadcast_eval=True).collect()}
        auto_small = {tuple(r) for r in dedup.decontaminate(tr, ev, n=3).collect()}
        monkeypatch.setattr(dedup, "BROADCAST_EVAL_MAX_ROWS", 0)
        auto_flipped = {tuple(r) for r in dedup.decontaminate(tr, ev, n=3).collect()}
        assert auto_small == forced and auto_flipped == forced and forced

        monkeypatch.undo()
        pairs_forced = {
            tuple(r)
            for r in dedup.decontaminate_pairs(
                tr, ev, n=3, min_shared=1, broadcast_eval=True
            ).collect()
        }
        # the pairs variant flips on its OWN tighter cap (the r8 sf10 OOM
        # happened at 1.30M eval rows, UNDER the generic 4M cap): force it
        # and require both row identity and a structurally-SMJ eval join
        monkeypatch.setattr(dedup, "BROADCAST_EVAL_PAIRS_MAX_ROWS", 0)
        pairs_df = dedup.decontaminate_pairs(tr, ev, n=3, min_shared=1)
        pairs_plan = pairs_df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in pairs_plan
        pairs_flipped = {tuple(r) for r in pairs_df.collect()}
        assert pairs_flipped == pairs_forced and pairs_forced


class TestFrequencyCapGuards:
    """The r6 guards on the exact pair joins: hot keys (shingles /
    winnowing fingerprints shared by more documents than the cap) are
    boilerplate, not pair evidence — the capped DEFAULTS drop them before
    the quadratic self-join, and pairs similar only through them drop out
    by design, while rare-evidence pairs survive untouched."""

    def test_jaccard_max_df_semantics(self, spark):
        from filebeat_to_clickhouse_spark.extensions.dedup import ngram_jaccard_pairs

        boiler = "common one two three four five"
        rows = [(i, boiler) for i in range(4)]  # boilerplate-only docs
        rows += [(10, boiler + " rare alpha beta"), (11, boiler + " rare alpha beta")]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")

        unc = {
            (r["doc_a"], r["doc_b"])
            for r in ngram_jaccard_pairs(df, threshold=0.5, max_df=None).collect()
        }
        # uncapped: boilerplate alone makes pairs (all 4 clones at J=1)
        assert {(a, b) for a in range(4) for b in range(a + 1, 4)} <= unc

        cap = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(df, threshold=0.5, max_df=5).collect()
        }
        # capped: every boiler shingle has df=6 > 5 → dropped; only the
        # rare-content pair survives, at J=1 over the rare sub-universe
        assert set(cap) == {(10, 11)} and cap[(10, 11)] == 1.0
        # capped pair sets are always a subset of the uncapped ones
        assert set(cap) <= unc

    def test_winnow_max_postings_semantics(self, spark):
        from filebeat_to_clickhouse_spark.extensions.text import winnow_overlap_pairs

        boiler = " ".join(f"b{i}" for i in range(30))
        rows = [(i, boiler) for i in range(4)]
        rare = " ".join(f"r{i}" for i in range(30))
        rows += [(10, rare), (11, rare)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")

        unc = {
            (r["doc_a"], r["doc_b"])
            for r in winnow_overlap_pairs(df, min_shared=5, max_postings=None).collect()
        }
        assert {(a, b) for a in range(4) for b in range(a + 1, 4)} <= unc
        assert (10, 11) in unc

        cap = {
            (r["doc_a"], r["doc_b"]): (r["n_shared"], r["containment"])
            for r in winnow_overlap_pairs(df, min_shared=5, max_postings=3).collect()
        }
        # boilerplate fingerprints live in 4 docs > cap 3 → dropped; the
        # rare copy pair (2 docs ≤ cap) survives with full containment
        assert set(cap) == {(10, 11)} and cap[(10, 11)][1] == 1.0
        assert set(cap) <= unc


class TestChunkAndSpanDedupInvariants:
    @settings(**SETTINGS)
    @given(
        st.lists(
            st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=15),
            min_size=1,
            max_size=20,
        )
    )
    def test_chunk_dedup_conservation(self, spark, docs_tokens):
        """On arbitrary corpora: (1) kept-chunk total equals the number of
        DISTINCT chunk texts corpus-wide (exactly one survivor each);
        (2) per-doc counts reconcile; (3) every surviving word existed in
        its document."""
        from filebeat_to_clickhouse_spark.extensions.dedup import chunk_dedup_docs

        texts = [" ".join(t) for t in docs_tokens]
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        out = {r["doc_id"]: r for r in chunk_dedup_docs(docs, chunk_words=3).collect()}
        distinct_chunks = set()
        for t in docs_tokens:
            for i in range(0, len(t), 3):
                distinct_chunks.add(" ".join(t[i : i + 3]))
        assert sum(r["n_kept"] for r in out.values()) == len(distinct_chunks)
        for i, toks in enumerate(docs_tokens):
            r = out[i]
            assert r["n_chunks"] == (len(toks) + 2) // 3
            kept_words = r["clean_text"].split(" ") if r["clean_text"] else []
            assert set(kept_words) <= set(toks)

    @settings(**SETTINGS)
    @given(
        st.lists(
            st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=12),
            min_size=1,
            max_size=15,
        )
    )
    def test_span_stats_match_bruteforce(self, spark, docs_tokens):
        """duplicated_span_stats equals a literal per-position recount on
        arbitrary corpora (including all-same-token and sub-n docs)."""
        from collections import Counter

        from filebeat_to_clickhouse_spark.extensions.dedup import duplicated_span_stats

        n = 3
        docs = spark.createDataFrame(
            [(i, " ".join(t)) for i, t in enumerate(docs_tokens)], "doc_id long, text string"
        )
        out = {r["doc_id"]: r for r in duplicated_span_stats(docs, n=n).collect()}
        counts = Counter(
            tuple(t[i : i + n]) for t in docs_tokens for i in range(len(t) - n + 1)
        )
        for i, toks in enumerate(docs_tokens):
            grams = [tuple(toks[j : j + n]) for j in range(len(toks) - n + 1)]
            assert out[i]["n_grams"] == len(grams)
            assert out[i]["n_dup"] == sum(1 for g in grams if counts[g] > 1)


class TestExactQuantileModel:
    @settings(**SETTINGS)
    @given(
        st.lists(
            st.integers(min_value=-(1 << 40), max_value=1 << 40),
            min_size=1,
            max_size=40,
        ),
        st.integers(min_value=1, max_value=100),
        st.sampled_from([3, 10, 25]),
    )
    def test_matches_rank_rule(self, spark, vals, pct, coarse_bits):
        """exact_quantile_threshold ≡ the sorted-multiset rank rule
        (smallest v with count(x ≤ v)·100 ≥ pct·n) for any values —
        negative, tied, clustered or spanning many coarse buckets — and
        any bucket width."""
        from filebeat_to_clickhouse_spark.operators import exact_quantile_threshold

        df = spark.createDataFrame([(v,) for v in vals], "score bigint")
        [row] = exact_quantile_threshold(df, "score", pct, coarse_bits=coarse_bits).collect()
        s = sorted(vals)
        want = next(v for i, v in enumerate(s) if (i + 1) * 100 >= pct * len(s))
        assert row["thr"] == want


class TestBandedAsofEquivalence:
    EVENT = st.tuples(
        st.integers(min_value=0, max_value=2),       # key (few keys → hot)
        st.integers(min_value=0, max_value=7_000),   # ts offset (minutes, spans bands)
    )

    @settings(**SETTINGS)
    @given(
        st.lists(EVENT, min_size=1, max_size=25),
        st.lists(EVENT, min_size=1, max_size=25),
        st.sampled_from([600, 3600, 86400]),
    )
    def test_banded_equals_plain(self, spark, left, right, band_seconds):
        """asof_join_backward_banded ≡ asof_join_backward for any data,
        any band width — hot keys spanning many bands, carries crossing
        empty bands, ties at band boundaries."""
        from filebeat_to_clickhouse_spark.operators import (
            asof_join_backward,
            asof_join_backward_banded,
        )

        base = datetime.datetime(2024, 1, 1)
        lrows = [
            (i, k, base + datetime.timedelta(minutes=m)) for i, (k, m) in enumerate(left)
        ]
        rrows = [
            (i, k, base + datetime.timedelta(minutes=m)) for i, (k, m) in enumerate(right)
        ]
        ldf = spark.createDataFrame(lrows, "lid bigint, k bigint, lts timestamp_ntz")
        rdf = spark.createDataFrame(rrows, "rid bigint, k bigint, rts timestamp_ntz")
        kw = dict(on="k", left_ts="lts", right_ts="rts", right_cols=("rid",), right_seq="rid")
        plain = {
            r["lid"]: (r["rid"], r["asof_rts"])
            for r in asof_join_backward(ldf, rdf, **kw).collect()
        }
        banded = {
            r["lid"]: (r["rid"], r["asof_rts"])
            for r in asof_join_backward_banded(
                ldf, rdf, band_seconds=band_seconds, **kw
            ).collect()
        }
        assert banded == plain


class TestCentroidClassifierModel:
    WORD = st.sampled_from(["the", "of", "to", "alpha", "beta", "gamma", "delta", "x9"])

    @settings(**SETTINGS)
    @given(st.lists(st.lists(WORD, min_size=1, max_size=12), min_size=2, max_size=15))
    def test_weights_equal_numpy_model(self, spark, docs_tokens):
        """train_token_centroid ≡ the numpy reference (floored fixed-point
        rates, floored per-class mean difference) for arbitrary corpora —
        the engine-independence the oracle checks on one fixture, here on
        random ones."""
        import hashlib

        import numpy as np

        from filebeat_to_clickhouse_spark.extensions.text import (
            hashed_token_features,
            stopword_ratio_label,
            train_token_centroid,
        )

        D, S = 1024, 1 << 20
        SW = {"the", "a", "of", "and", "to", "in"}
        rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        got = {
            (r["bucket"], r["w"])
            for r in train_token_centroid(
                hashed_token_features(docs), stopword_ratio_label(docs)
            ).collect()
        }

        def bkt(t):
            return int(hashlib.md5(t.encode()).hexdigest()[:10], 16) % D

        X = np.zeros((len(rows), D), dtype=np.int64)
        y = np.zeros(len(rows), dtype=np.int64)
        for i, toks in enumerate(docs_tokens):
            for t in toks:
                X[i, bkt(t)] += 1
            n_stop = sum(1 for t in toks if t in SW)
            y[i] = 1 if 100 * n_stop >= 6 * len(toks) else -1
        R = X * S // X.sum(1, keepdims=True)
        npos, nneg = max((y == 1).sum(), 1), max((y == -1).sum(), 1)
        w = R[y == 1].sum(0) // npos - R[y == -1].sum(0) // nneg
        want = {(int(b), int(w[b])) for b in range(D)}
        # Spark emits a row per bucket seen in the features; absent buckets
        # are implicit zeros in the scorer
        got_full = dict(got)
        for b in range(D):
            got_full.setdefault(b, 0)
        assert {(b, v) for b, v in got_full.items()} == want


class TestMixturePlanners:
    @settings(**SETTINGS)
    @given(
        st.lists(
            st.tuples(st.integers(min_value=0, max_value=1000), st.integers(min_value=1, max_value=9)),
            min_size=1,
            max_size=6,
        )
    )
    def test_strict_budget_matches_fraction_model(self, spark, nws):
        """budget_tokens == floor(w_s · min_t(n_t/w_t)) under exact rational
        arithmetic, regardless of which source binds or ties."""
        from fractions import Fraction

        from filebeat_to_clickhouse_spark.extensions.text import mixture_token_budgets

        rows = [(f"s{i}", n, w) for i, (n, w) in enumerate(nws)]
        counts = spark.createDataFrame(
            [(s, n) for s, n, _ in rows], "source string, n_tokens bigint"
        )
        weights = spark.createDataFrame(
            [(s, w) for s, _, w in rows], "source string, weight bigint"
        )
        got = {
            r["source"]: r["budget_tokens"]
            for r in mixture_token_budgets(counts, weights).collect()
        }
        lam = min(Fraction(n, w) for _, n, w in rows)
        expect = {s: int(Fraction(w) * lam) for s, _, w in rows}
        assert got == expect

    @settings(**SETTINGS)
    @given(
        st.lists(
            st.tuples(st.integers(min_value=0, max_value=1000), st.integers(min_value=1, max_value=9)),
            min_size=1,
            max_size=6,
        ),
        st.integers(min_value=0, max_value=4000),
    )
    def test_waterfill_matches_fraction_model(self, spark, nws, budget):
        """alloc_s == min(n_s, floor(w_s·λ)) at the exact rational water
        level λ solving Σ min(n_s, w_s·λ) = B, full take when B ≥ Σn."""
        from fractions import Fraction

        from filebeat_to_clickhouse_spark.extensions.text import mixture_waterfill_allocations

        rows = [(f"s{i}", n, w) for i, (n, w) in enumerate(nws)]
        counts = spark.createDataFrame(
            [(s, n) for s, n, _ in rows], "source string, n_tokens bigint"
        )
        weights = spark.createDataFrame(
            [(s, w) for s, _, w in rows], "source string, weight bigint"
        )
        got = {
            r["source"]: r["alloc_tokens"]
            for r in mixture_waterfill_allocations(counts, weights, budget).collect()
        }

        # model: walk breakpoints in exact rational order
        order = sorted(rows, key=lambda r: (Fraction(r[1], r[2]), r[0]))
        totn = sum(n for _, n, _ in rows)
        if budget >= totn:
            expect = {s: n for s, n, _ in rows}
        else:
            cumn, sufw = 0, sum(w for _, _, w in rows)
            lam = None
            for i, (s, n, w) in enumerate(order):
                num, den = budget - cumn, sufw
                prev_ok = i == 0 or order[i - 1][1] * den <= num * order[i - 1][2]
                if prev_ok and n * den > num * w:
                    lam = Fraction(num, den)
                    break
                cumn += n
                sufw -= w
            assert lam is not None
            expect = {s: min(n, int(Fraction(w) * lam)) for s, n, w in rows}
        assert got == expect


class TestQuarterBitLogIdentity:
    def test_spark_bin_length_matches_bit_length(self, spark):
        """DSIR's integer log L(P) = length(bin(P⁴)) must equal Python's
        exact (p**4).bit_length() across the full probability domain
        [1, 2^15] — including every power-of-two boundary, where a
        float-log implementation could flip by one. P⁴ at the domain max
        is exactly 2^60, inside int64."""
        assert (1 << 15) ** 4 == 1 << 60
        ps = list(range(1, 4096)) + [1 << b for b in range(12, 16)] + [
            (1 << b) - 1 for b in range(12, 16)
        ] + [(1 << b) + 1 for b in range(12, 15)] + [1 << 15]
        df = spark.createDataFrame([(p,) for p in ps], "p bigint")
        got = {
            r["p"]: r["L"]
            for r in df.selectExpr("p", "length(bin(p * p * p * p)) AS L").collect()
        }
        assert got == {p: (p ** 4).bit_length() for p in ps}


class TestKnBigram:
    @settings(**SETTINGS)
    @given(
        st.lists(
            st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=10).map(
                " ".join
            ),
            min_size=1,
            max_size=16,
        )
    )
    def test_matches_python_model(self, spark, texts):
        """kn_bigram_scores vs a pure-Python model of the same integer
        contract (d=3/4 interpolated KN, quarter-bit quantized log)."""
        from collections import Counter

        from filebeat_to_clickhouse_spark.extensions.text import kn_bigram_scores

        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
        )
        got = {
            r["doc_id"]: (r["n_bigrams"], r["kn_qlog_sum"])
            for r in kn_bigram_scores(docs).collect()
        }

        occ = {
            i: list(zip(t.split(" "), t.split(" ")[1:]))
            for i, t in enumerate(texts)
        }
        c2 = Counter(bg for pairs in occ.values() for bg in pairs)
        c1 = Counter()
        fw = Counter()
        bw = Counter()
        for (w1, w2), n in c2.items():
            c1[w1] += n
            fw[w1] += 1
            bw[w2] += 1
        nall = len(c2)

        def lam(w1, w2):
            num = max(4 * c2[(w1, w2)] - 3, 0) * nall + 3 * fw[w1] * bw[w2]
            den = 4 * c1[w1] * nall
            q = 1 + (num * 32767) // den
            return (q**4).bit_length()

        want = {}
        for i, pairs in occ.items():
            if not pairs:
                want[i] = (0, None)
            else:
                want[i] = (len(pairs), sum(lam(*bg) for bg in pairs))
        assert got == want

    def test_kn_probabilities_normalize_per_prefix(self):
        """The UNQUANTIZED rational num/den the operator encodes must be a
        true conditional distribution: sum over observed w2 of P(w2|w1)
        plus the backoff mass of unseen continuations equals exactly 1
        (Fraction arithmetic — pins the algebra the quantization then
        floors)."""
        from collections import Counter
        from fractions import Fraction

        texts = ["a b a c a b", "b b a", "c a b c"]
        occ = [bg for t in texts for bg in zip(t.split(" "), t.split(" ")[1:])]
        c2 = Counter(occ)
        c1 = Counter()
        fw = Counter()
        bw = Counter()
        for (w1, w2), n in c2.items():
            c1[w1] += n
            fw[w1] += 1
            bw[w2] += 1
        nall = len(c2)
        vocab = sorted({w for bg in c2 for w in bg})
        d = Fraction(3, 4)
        for w1 in sorted(c1):
            total = Fraction(0)
            for w2 in vocab:
                pcont = Fraction(bw[w2], nall)
                num = max(Fraction(c2[(w1, w2)]) - d, 0) + d * fw[w1] * pcont
                total += num / c1[w1]
            # Pcont sums to 1 over the vocab, so interpolated KN sums to 1
            assert total == 1, (w1, total)
