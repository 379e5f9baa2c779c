"""Embedding similarity search: brute-force cosine top-k, LSH-bucketed ANN,
IVF cells + multi-probe, and banded-LSH cosine near-dup pairs.

Scale design (100 TB):
- Brute force broadcasts the (small) query set against the full corpus —
  embarrassingly parallel, no shuffle on the corpus side; the only shuffle
  is the per-query top-k (tiny). This is the exact baseline.
- The LSH variant buckets corpus + queries by random-hyperplane sign bits
  (deterministic, hash-derived hyperplanes) and searches only matching
  buckets — the candidate set shrinks ~2^bits-fold; recall is tunable via
  multi-probe (hamming-adjacent buckets).
- IVF assigns the corpus to quantizer cells in one narrow pass (broadcast
  centroids) and each query searches only its n_probe nearest cells.
- Near-dup pairs use MinHash-style banding over the sign bits (OR across
  bands) with exact cosine verification of candidates.

All vector math is built-in higher-order functions (zip_with/aggregate) on
array<double> — JVM-side, no Python in the row path.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ..checkpointing import default_checkpoint_dir, make_lineage_cut


def _dot(a: Column, b: Column) -> Column:
    """Left-fold dot product — deterministic evaluation order."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine_sim(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def as_double_vec(c: Column) -> Column:
    return c.cast("array<double>")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    partial_topk: bool = False,
) -> DataFrame:
    """Exact cosine top-k of ``queries`` against ``corpus``.

    Returns (q_id, neighbor_id, cosine_sim, rank). Self-matches excluded.
    The query side is broadcast; ranking ties broken by neighbor id for
    full determinism.

    ``partial_topk=True`` inserts an Arrow-batched per-partition top-k
    ahead of the ranking window, so the shuffle carries at most
    k × batches × |queries| rows instead of |corpus| × |queries| — the
    switch that makes the exact baseline usable beyond toy corpora. The
    local cut is a superset of the global top-k (any global winner is a
    local winner in its own batch), so the result is row-identical; it
    defaults off because the Python hop costs more than it saves when the
    scored table fits one shuffle comfortably.
    """
    # Norms are per-VECTOR, computed in each side's narrow projection —
    # not per pair: the join multiplies rows |corpus| × |queries|, and a
    # norm recomputed there costs as much as the dot product itself
    # (bit-identical either way — same fold, same order, just evaluated
    # once instead of per pair).
    q = queries.select(
        F.col(id_col).alias("q_id"), as_double_vec(F.col(vec_col)).alias("q_vec")
    )
    q = q.select("q_id", "q_vec", _norm(F.col("q_vec")).alias("_qn"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_vec(F.col(vec_col)).alias("c_vec")
    )
    c = c.select("neighbor_id", "c_vec", _norm(F.col("c_vec")).alias("_cn"))
    # nullif guards the zero-norm degenerate case: an all-zero vector's
    # cosine is 0/0 = NaN, and Spark sorts NaN ABOVE every real double in
    # a descending order — an undefined similarity would rank FIRST. As
    # NULL it ranks last (desc = nulls-last), which is what "no defined
    # similarity" should mean in a top-k. (r7 advice; the fused hybrid
    # vector leg carries the identical guard so row-identity holds.)
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("q_id"))
        .select(
            "q_id",
            "neighbor_id",
            (
                _dot(F.col("q_vec"), F.col("c_vec"))
                / F.nullif(F.col("_qn") * F.col("_cn"), F.lit(0.0))
            ).alias("cosine_sim"),
        )
    )
    if partial_topk:
        schema = scored.schema

        def local_topk(batches):
            for pdf in batches:
                yield (
                    pdf.sort_values(
                        ["q_id", "cosine_sim", "neighbor_id"],
                        ascending=[True, False, True],
                    )
                    .groupby("q_id", sort=False)
                    .head(k)
                )

        scored = scored.mapInPandas(local_topk, schema)
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine_sim"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "cosine_sim", "rank")
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    partial_topk: bool = False,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the top-k most-similar corpus vectors carrying a DIFFERENT label →
    (q_id, neighbor_id, neighbor_label, cosine_sim, rank).

    The "hard" in hard negatives is exactly the ANN problem restricted to
    the complement of the query's class: the negatives that most confuse
    a bi-encoder are the nearest wrong-label vectors (DPR / contrastive
    retrieval training). Same shuffle shape as ``brute_force_topk``:
    query side broadcast, per-vector norms computed once in each side's
    narrow projection, deterministic neighbor-id tie-break;
    ``partial_topk`` bounds the ranking shuffle to k × batches × |queries|
    rows for beyond-toy corpora. Rows with a NULL label never match the
    ``!=`` predicate and are excluded from both sides by contract. At
    100 TB the candidate generation rides ``lsh_topk``/``ivf_topk`` with
    the label predicate applied to the candidate list before ranking —
    the exact form here is the oracle for those compositions.
    """
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(label_col).alias("_q_label"),
        as_double_vec(F.col(vec_col)).alias("q_vec"),
    )
    q = q.select("q_id", "_q_label", "q_vec", _norm(F.col("q_vec")).alias("_qn"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        as_double_vec(F.col(vec_col)).alias("c_vec"),
    )
    c = c.select("neighbor_id", "neighbor_label", "c_vec", _norm(F.col("c_vec")).alias("_cn"))
    scored = c.join(
        F.broadcast(q),
        (F.col("neighbor_id") != F.col("q_id"))
        & (F.col("neighbor_label") != F.col("_q_label")),
    ).select(
        "q_id",
        "neighbor_id",
        "neighbor_label",
        (_dot(F.col("q_vec"), F.col("c_vec")) / (F.col("_qn") * F.col("_cn"))).alias(
            "cosine_sim"
        ),
    )
    if partial_topk:
        schema = scored.schema

        def local_topk(batches):
            for pdf in batches:
                yield (
                    pdf.sort_values(
                        ["q_id", "cosine_sim", "neighbor_id"],
                        ascending=[True, False, True],
                    )
                    .groupby("q_id", sort=False)
                    .head(k)
                )

        scored = scored.mapInPandas(local_topk, schema)
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine_sim"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "neighbor_label", "cosine_sim", "rank")
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (scale path)
# ---------------------------------------------------------------------------

def _hyperplane_coeff(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane coefficient in [-7.5, 7.5]:
    the first hex nibble of md5("<plane>-<dim>") minus 7.5. Reproducible in
    any engine — no RNG state."""
    import hashlib

    return int(hashlib.md5(f"{plane}-{dim}".encode()).hexdigest()[0], 16) - 7.5


def hyperplane_matrix(n_planes: int, n_dims: int) -> list[list[float]]:
    """The (n_planes × n_dims) hyperplane coefficients, computed once on the
    driver — a few KB of constants shipped inside the plan, so per-row work
    is ONLY the dot product (no md5 in the row path; coefficients depend on
    (plane, dim), never on data)."""
    return [[_hyperplane_coeff(p, d) for d in range(n_dims)] for p in range(n_planes)]


def _planes_sql(n_planes: int, n_dims: int) -> str:
    """The hyperplane matrix as ONE constant-foldable SQL expression.

    Two generations of the same lesson about literal-heavy plans:
    element-wise F.lit construction costs a py4j round trip per
    coefficient (~1.5 s per lsh_topk invocation at 6×64 — the r1 fix
    replaced it with an ``array(array(...))`` SQL literal), but even that
    parses/analyzes as n_planes × n_dims AST nodes, re-walked by EVERY
    analysis pass of every downstream DataFrame op (~0.3 s per build).
    ``from_json('<json>', ...)`` is TWO nodes at analysis time and the
    optimizer constant-folds it into a single array literal before
    execution (verified absent from the optimized plan), so both the
    per-row cost and the result bits are identical — json.dumps/Jackson
    round-trip doubles exactly — while plan construction is O(1)."""
    key = (n_planes, n_dims)
    sql = _PLANES_SQL_CACHE.get(key)
    if sql is None:
        import json

        rows = hyperplane_matrix(n_planes, n_dims)
        sql = f"from_json('{json.dumps(rows)}', 'array<array<double>>')"
        _PLANES_SQL_CACHE[key] = sql
    return sql


_PLANES_SQL_CACHE: dict[tuple[int, int], str] = {}
# Parsed-Column cache for every literal-heavy signature/probe expression:
# Column objects are immutable unresolved expressions, reusable across
# DataFrames and queries WITHIN a JVM, so each distinct (shape, params)
# expression pays its py4j construction + parse exactly ONCE per JVM —
# the residual driver-side constant the r2 bench flagged on ann_lsh_topk /
# ann_cosine_topk (plan construction dominated sub-second execution).
# Keyed per SparkContext (weakly, like io._TABLE_CACHE): a Column holds a
# py4j ref into ONE gateway, and reusing it after a JVM relaunch — the
# r10 growth tool's heap-headroom protocol, or any driver restart — dies
# with a JVM-side NullPointerException (caught live in the first
# SCALE10_r10 run: ann_lsh_topk erred on the post-relaunch session while
# every uncached query ran fine). A dead context's entries vanish with it.
_EXPR_CACHE: "weakref.WeakKeyDictionary" = None  # initialized below


def _cached_expr(key: tuple, sql_builder) -> Column:
    global _EXPR_CACHE
    import weakref

    from pyspark import SparkContext

    if _EXPR_CACHE is None:
        _EXPR_CACHE = weakref.WeakKeyDictionary()
    sc = SparkContext._active_spark_context
    if sc is None:  # no live gateway to pin a cache to — build uncached
        return F.expr(sql_builder())
    per_jvm = _EXPR_CACHE.setdefault(sc, {})
    col = per_jvm.get(key)
    if col is None:
        col = F.expr(sql_builder())
        per_jvm[key] = col
    return col


def _planes_lit(n_planes: int, n_dims: int) -> Column:
    return _cached_expr(
        ("planes", n_planes, n_dims), lambda: _planes_sql(n_planes, n_dims)
    )


def _sig_dots_sql(vec_sql: str, n_planes: int, n_dims: int) -> str:
    """Dot products of ``vec_sql`` against every hyperplane — a transform
    over the 2D literal, each dot the same left fold the DuckDB oracles
    replay."""
    return (
        f"transform({_planes_sql(n_planes, n_dims)}, "
        f"p -> aggregate(zip_with({vec_sql}, p, (x, h) -> x * h), "
        "0.0D, (acc, x) -> acc + x))"
    )


def signature_dots(vec: Column | str, n_planes: int, n_dims: int) -> Column:
    """Array of the vector's dot products against every hyperplane.

    Pass the vector as a COLUMN NAME (str) on hot paths: the whole
    expression then builds as one cached F.expr — a single py4j round trip
    ever — instead of the HOF-lambda construction (one round trip per
    lambda per call). Column inputs keep the general (alias-safe) path.
    """
    if isinstance(vec, str):
        return _cached_expr(
            ("sig_dots", vec, n_planes, n_dims),
            lambda: _sig_dots_sql(vec, n_planes, n_dims),
        )
    return F.transform(
        _planes_lit(n_planes, n_dims),
        lambda p: F.aggregate(
            F.zip_with(vec, p, lambda x, h: x * h), F.lit(0.0), lambda acc, x: acc + x
        ),
    )


def signature_bits(vec: Column | str, n_planes: int, n_dims: int) -> Column:
    """Random-hyperplane sign bits as a bit string, e.g. '10110010'.
    String input takes the cached-single-expr path (see signature_dots)."""
    if isinstance(vec, str):
        return _cached_expr(
            ("sig_bits", vec, n_planes, n_dims),
            lambda: (
                f"array_join(transform({_sig_dots_sql(vec, n_planes, n_dims)}, "
                "d -> if(d > 0, '1', '0')), '')"
            ),
        )
    return F.array_join(
        F.transform(
            signature_dots(vec, n_planes, n_dims),
            lambda d: F.when(d > 0, F.lit("1")).otherwise(F.lit("0")),
        ),
        "",
    )


# Corpus size from which the banded-LSH signature pass runs vectorized:
# below it the Arrow roundtrip isn't worth setting up (and the small-corpus
# unit fixtures keep exercising the relational expression).
_VECTORIZED_SIG_FLOOR = 4096


def _signature_bits_vectorized(v: DataFrame, n_planes: int, n_dims: int) -> DataFrame:
    """(vid, sig) via ONE Arrow-batched numpy pass — BIT-IDENTICAL to
    ``signature_bits``: the relational form is a LEFT FOLD
    (((0 + x₀h₀) + x₁h₁) + …), so the numpy loop goes vectorized across
    ROWS but SEQUENTIAL across dims — each row's accumulator sees exactly
    the same IEEE additions in the same order, and the d > 0 sign test
    matches (the same order-preservation trick as the mixed-classifier
    perceptron pass; a matmul would re-associate the sum and could flip
    near-zero signs against the DuckDB oracle's identical left fold).
    The HOF form allocates a zip_with array per plane per row —
    measured 51 of embedding_cosine_neardup's 75 s at sf10.

    Contract: fixed ``n_dims`` vectors (the embeddings data model);
    null/NaN elements poison their dot to NaN, which signs to '0'
    exactly like the relational null fold."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import StringType, StructField, StructType

    P = np.array(hyperplane_matrix(n_planes, n_dims), dtype=np.float64)
    out_schema = StructType([v.schema["vid"], StructField("sig", StringType())])

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"vid": pdf["vid"], "sig": []})
                continue
            X = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf["vec"].values]
            )
            acc = np.zeros((len(X), n_planes), dtype=np.float64)
            for d in range(n_dims):
                acc += X[:, d : d + 1] * P[:, d]
            bits = np.where(acc > 0, "1", "0")
            yield pd.DataFrame(
                {"vid": pdf["vid"], "sig": ["".join(row) for row in bits]}
            )

    return v.mapInPandas(gen, out_schema)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    n_dims: int = 64,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k: candidates restricted to the query's LSH
    bucket (same hyperplane sign signature), then exact-ranked.

    At 100 TB the bucket join replaces the full scan per query: the corpus
    is hashed once (narrow), and the join key space is 2^n_planes uniform
    buckets. Recall < 1.0 by construction; raise via fewer planes or
    multi-probe (``n_probe`` > 1).

    Multi-probe: each query also searches the buckets reached by flipping
    its ``n_probe - 1`` LEAST-CONFIDENT signature bits (smallest |dot|
    against the hyperplane — the bits most likely to differ for a true
    neighbor), one flip per extra probe. Every corpus item lives in exactly
    one bucket and a query's probe buckets are pairwise distinct, so the
    bucket join emits each (query, neighbor) candidate at most once — no
    dedup stage. Probe fanout multiplies only the (small, broadcast) query
    side; the corpus is still hashed exactly once.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_vec(F.col(vec_col)).alias("c_vec"),
    ).select(
        "neighbor_id",
        "c_vec",
        signature_bits("c_vec", n_planes, n_dims).alias("bucket"),
        _norm(F.col("c_vec")).alias("_cn"),  # per-vector, not per-candidate
    )
    qd = queries.select(
        F.col(id_col).alias("q_id"), as_double_vec(F.col(vec_col)).alias("q_vec")
    ).select(
        "q_id",
        "q_vec",
        signature_dots("q_vec", n_planes, n_dims).alias("_dots"),
        _norm(F.col("q_vec")).alias("_qn"),
    )
    # sig + probe buckets as ONE cached expression each (see _cached_expr):
    # the probe construction (per-plane |dot| sort, bit flips) was the
    # dominant plan-build cost at ~0.5 s per invocation in HOF-lambda form.
    qs = qd.withColumn(
        "sig",
        _cached_expr(
            ("lsh_sig", n_planes),
            lambda: "concat("
            + ",".join(f"if(element_at(_dots, {i + 1}) > 0, '1', '0')" for i in range(n_planes))
            + ")",
        ),
    )
    # Least-confident plane indices: sort (|dot|, plane) ascending, take the
    # first n_probe - 1, flip each bit in turn. Ties break on plane index —
    # total order, so the probe set is deterministic and oracle-reproducible.
    buckets = _cached_expr(
        ("lsh_probe_buckets", n_planes, n_probe),
        lambda: (
            "concat(array(sig), transform(slice(transform(array_sort(transform("
            f"sequence(0, {n_planes - 1}), "
            "i -> struct(abs(element_at(_dots, i + 1)) AS a, i AS i))), "
            f"s -> s.i), 1, {n_probe - 1}), "
            "i -> concat(substring(sig, 1, i), "
            "if(substring(sig, i + 1, 1) = '1', '0', '1'), "
            f"substring(sig, i + 2, {n_planes}))))"
        ),
    )
    q = qs.select("q_id", "q_vec", "_qn", F.explode(buckets).alias("bucket"))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .select(
            "q_id",
            "neighbor_id",
            (_dot(F.col("q_vec"), F.col("c_vec")) / (F.col("_qn") * F.col("_cn"))).alias(
                "cosine_sim"
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine_sim"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "cosine_sim", "rank")
    )


def auto_band_rows(n: int, target_bucket: int = 16, lo: int = 3, hi: int = 24) -> int:
    """Band width (sign bits per band) sized to the corpus: 2^r buckets per
    band ≈ n / target_bucket, so expected bucket occupancy — and with it the
    per-band candidate count, ~n·target_bucket/2 — stays LINEAR in n. A
    fixed width makes banded LSH structurally quadratic (pairs ≈ n²/2^r per
    band), the scale cliff the sf1 rehearsal measured: 10× corpus → 52×
    runtime at r=3. Widening costs recall at LOW similarity — per-band
    collision is (1−θ/π)^r — but near-DUPLICATES (θ→0) collide at ~1 for
    any r, which is the regime this operator exists for."""
    import math

    if n <= target_bucket:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(n / target_bucket))))


def cosine_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    n_planes: int = 12,
    band_rows: int | str = "auto",
    n_dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_vectors: bool = True,
    corpus_count: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded hyperplane LSH.

    Candidates are pairs sharing ANY band of ``band_rows`` consecutive sign
    bits (the OR-over-bands recall boost, same structure as MinHash LSH
    banding); each candidate is then exact-verified, so precision is 1.0
    and recall is the banding collision probability (~0.7 at cosine 0.4
    with 4 bands of 3). The candidate join keys are uniform band buckets —
    no skew — and the full-vector fetch happens only for the (much smaller)
    candidate set, joined back by id.

    ``band_rows="auto"`` (the DEFAULT since r5 — the fixed-band sf1
    quadratic measured 144 s vs auto's 9.9 s) is the 100 TB setting: the
    band width scales with the corpus (auto_band_rows — bucket count ∝ n)
    so candidate generation stays linear instead of n²/2^r; the band
    COUNT is kept at the legacy fixed config's (n_planes // 3) and the
    plane count grows to bands × width.
    Sizing needs the corpus count — one cheap count() action, or pass
    ``corpus_count`` when the caller already knows it. Fixed small bands
    remain the right call for small corpora or low-similarity mining where
    wide-band recall decay matters more than candidate volume.
    """
    n = None
    if band_rows == "auto":
        n = corpus_count if corpus_count is not None else corpus.count()
        band_rows = auto_band_rows(n)
        n_bands = max(1, n_planes // 3)
        n_planes = n_bands * band_rows
    else:
        n_bands = n_planes // band_rows
    v = corpus.select(F.col(id_col).alias("vid"), as_double_vec(F.col(vec_col)).alias("vec"))
    if n is not None and n >= _VECTORIZED_SIG_FLOOR:
        # the auto path already knows n; from the floor up the signature
        # pass runs as the order-preserving numpy fold (bit-identical —
        # see _signature_bits_vectorized). Vectorized contract: non-null
        # fixed-width vectors (np.stack) — null/ragged rows the HOF form
        # tolerates raise here.
        sig = _signature_bits_vectorized(v, n_planes, n_dims)
    else:
        sig = v.withColumn("sig", signature_bits("vec", n_planes, n_dims))
    # Materialized once: both sides of the bucket self-join consume it, and
    # the signature is n_planes × n_dims fused multiply-adds per vector.
    bands = sig.select(
        "vid",
        F.posexplode(
            F.array(*[F.substring("sig", b * band_rows + 1, band_rows) for b in range(n_bands)])
        ).alias("band", "key"),
    ).localCheckpoint(eager=False)
    a, b = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")))
        .filter(F.col("a.vid") < F.col("b.vid"))
        .select(F.col("a.vid").alias("vec_a"), F.col("b.vid").alias("vec_b"))
        .distinct()  # BEFORE verify: band co-occurrence multiplies raw pairs
        # several-fold, and a duplicate's dot product costs more than its
        # share of this shuffle (measured 1.6× end-to-end)
    )
    # Norms once per vector (not per candidate pair). With
    # broadcast_vectors=True (the default — right whenever the vector table
    # fits executor memory) the vector fetch is broadcast so the (large)
    # pair table never shuffles; at 100 TB pass False and the verify join
    # shuffles on the uniform id keys instead (AQE picks the strategy).
    vn = v.select("vid", "vec", _norm(F.col("vec")).alias("nrm"))
    va = vn.select(F.col("vid").alias("vec_a"), F.col("vec").alias("v_a"), F.col("nrm").alias("n_a"))
    vb = vn.select(F.col("vid").alias("vec_b"), F.col("vec").alias("v_b"), F.col("nrm").alias("n_b"))
    hint = F.broadcast if broadcast_vectors else (lambda df: df)
    return (
        cands.join(hint(va), "vec_a")
        .join(hint(vb), "vec_b")
        .select(
            "vec_a",
            "vec_b",
            (_dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b"))).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def _cosine_argmax_vectorized(e: DataFrame, cents: DataFrame) -> DataFrame:
    """(neighbor_id, cell) cell assignment for ivf_topk via one
    Arrow-batched numpy pass — BIT-IDENTICAL to the crossJoin+window
    form: dots accumulate SEQUENTIALLY across dims (the relational left
    fold's exact IEEE order), norms PASS THROUGH from the same
    relational ``_norm`` column both forms read, the divide is the same
    single op, and numpy's first-maximum argmax over a cell-sorted
    codebook realizes (csim desc, cell asc). NaN *elements* in a vector
    propagate identically (Spark's descending total order puts NaN
    first; numpy argmax propagates the first NaN). ZERO-NORM vectors are
    OUTSIDE the bit-identity contract — Spark's divide never produces
    NaN on a zero divisor (ANSI, the session default, raises
    DIVIDE_BY_ZERO; non-ANSI yields NULL) while numpy would silently
    yield NaN — so this kernel raises loudly instead, matching the ANSI
    relational behavior (r8 advice). The crossJoin form allocates a
    zip_with array per (point, cell): 16.6 of the 22 s assignment at
    sf10."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    rows = cents.orderBy("cell").collect()
    C = np.stack([np.asarray(r["cv"], dtype=np.float64) for r in rows])
    cn = np.array([r["_cn"] for r in rows], dtype=np.float64)
    # cells ARE id-column values (seeded from the lowest ids): keep the id
    # dtype in the array and the schema so the type doesn't flip to long
    # only in the vectorized regime (r8 advice)
    cells = np.array([r["cell"] for r in rows])
    if (cn == 0).any():
        raise ArithmeticError(
            "zero-norm centroid: cosine is undefined and the relational ANSI "
            "path raises DIVIDE_BY_ZERO — drop or normalize zero vectors upstream"
        )
    n_dims = C.shape[1]
    out_schema = StructType(
        [
            StructField("neighbor_id", e.schema["eid"].dataType),
            StructField("cell", e.schema["eid"].dataType),
        ]
    )

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"neighbor_id": pdf["eid"], "cell": []})
                continue
            X = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["v"].values])
            nx = pdf["_n"].values.astype(np.float64)
            if (nx == 0).any():
                raise ArithmeticError(
                    "zero-norm vector: cosine is undefined and the relational "
                    "ANSI path raises DIVIDE_BY_ZERO — drop or normalize zero "
                    "vectors upstream"
                )
            acc = np.zeros((len(X), len(C)), dtype=np.float64)
            for d in range(n_dims):
                acc += X[:, d : d + 1] * C[:, d]
            csim = acc / (nx[:, None] * cn[None, :])
            j = csim.argmax(axis=1)
            yield pd.DataFrame({"neighbor_id": pdf["eid"], "cell": cells[j]})

    return e.mapInPandas(gen, out_schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_count: int | None = None,
) -> DataFrame:
    """IVF-style ANN: inverted-file cells + multi-probe search.

    Stages (each scale-independent):
    1. coarse quantizer — here seeded deterministically (the first
       ``n_cells`` ids); production swaps in k-means centroids, every other
       stage unchanged;
    2. cell assignment — corpus × broadcast centroids, map-side argmax, so
       the inverted index costs one narrow pass over the corpus;
    3. probing — each query ranks its ``n_probe`` nearest cells;
    4. exact ranking within probed cells only (~n_probe/n_cells of the
       corpus per query instead of all of it).
    """
    # Norms per VECTOR in the narrow projections, never per pair (the
    # crossJoin against centroids would recompute each corpus norm
    # n_cells times — bit-identical either way, same fold)
    e = corpus.select(
        F.col(id_col).alias("eid"), as_double_vec(F.col(vec_col)).alias("v")
    ).withColumn("_n", _norm(F.col("v")))
    # e feeds the seed centroids, the assignment pass, and the exact
    # re-rank — cut lineage so the corpus projection+norm runs once
    # (the in-line analog of the persisted index ivf_topk_indexed builds)
    e = make_lineage_cut(default_checkpoint_dir())(e, eager=False)
    # seed cells from the n_cells LOWEST ids (TakeOrdered): sparse/offset id
    # spaces still yield exactly n_cells centroids, where `eid < n_cells`
    # would silently under-seed (r2 advice)
    cents = e.orderBy("eid").limit(n_cells).select(
        F.col("eid").alias("cell"), F.col("v").alias("cv"), F.col("_n").alias("_cn")
    )
    csim = _dot(F.col("v"), F.col("cv")) / (F.col("_n") * F.col("_cn"))
    # regime gate: prefer the caller's count; else count the lineage-cut
    # narrow projection e (same cardinality as corpus), so the count
    # materializes the SAME checkpoint the assignment pass then reads —
    # counting the raw corpus was an extra full-width scan per call
    # (r8 advice). Vectorized contract: non-null fixed-width vectors
    # (np.stack) — null/ragged rows the window form tolerates raise here.
    n = corpus_count if corpus_count is not None else e.count()
    if n >= _VECTORIZED_SIG_FLOOR:
        asgn = _cosine_argmax_vectorized(e, cents)
    else:
        wa = Window.partitionBy("eid").orderBy(F.desc("csim"), F.col("cell"))
        asgn = (
            e.crossJoin(F.broadcast(cents))
            .select("eid", "cell", csim.alias("csim"))
            .withColumn("rn", F.row_number().over(wa))
            .filter(F.col("rn") == 1)
            .select(F.col("eid").alias("neighbor_id"), "cell")
        )
    q = queries.select(
        F.col(id_col).alias("q_id"), as_double_vec(F.col(vec_col)).alias("v")
    ).withColumn("_n", _norm(F.col("v")))
    wp = Window.partitionBy("q_id").orderBy(F.desc("csim"), F.col("cell"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select("q_id", "cell", csim.alias("csim"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= n_probe)
        .select("q_id", "cell")
    )
    cand = probes.join(asgn, "cell").filter(F.col("neighbor_id") != F.col("q_id"))
    va = e.select(F.col("eid").alias("neighbor_id"), F.col("v").alias("nv"), F.col("_n").alias("_nn"))
    vq = q.select("q_id", F.col("v").alias("qv"), F.col("_n").alias("_qn"))
    scored = (
        cand.join(F.broadcast(vq), "q_id")
        .join(va, "neighbor_id")
        .select(
            "q_id",
            "neighbor_id",
            (_dot(F.col("qv"), F.col("nv")) / (F.col("_qn") * F.col("_nn"))).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine_sim"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "cosine_sim", F.col("rank").cast("bigint").alias("rank"))
    )


def ivf_topk_kmeans(
    corpus: DataFrame,
    queries: DataFrame,
    topk: int = 10,
    n_cells: int = 8,
    n_iter: int = 2,
    n_probe: int = 2,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """IVF ANN with a TRAINED (k-means) coarse quantizer — the production
    composition the seeded variants (ivf_topk/build_ivf_index) document:
    cells are Lloyd clusters, not id-seeded picks, so the inverted index
    follows the data distribution and probes prune better on clustered
    corpora.

    Every stage is INTEGER-exact on the fixed-point quantization (the
    kmeans_fixed_point property), including the final ranking — candidates
    rank by integer squared distance (d2 asc, id), so the whole
    composition has a bit-exact relational oracle; cosine re-ranking of
    the top-k, where wanted, is a candidate-sized postprocess. Stages:
    k-means (packed-centroid broadcast, narrow argmin per round) → corpus
    assignment comes FREE from the last Lloyd round, carrying the
    quantized vector (no extra pass, no corpus re-join) → per-query probe
    of the ``n_probe`` nearest centroids → exact integer ranking within
    probed cells only.
    """
    asgn, cent, _ = kmeans_assign_and_centroids(
        corpus, k=n_cells, n_iter=n_iter, scale=scale,
        id_col=id_col, vec_col=vec_col, checkpoint_dir=checkpoint_dir,
    )
    qv = quantize_vectors(queries, scale=scale, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("q_id"), F.col("xq").alias("q_xq")
    )
    wp = Window.partitionBy("q_id").orderBy("d2", "cluster")
    probes = (
        qv.crossJoin(F.broadcast(cent))
        .select("q_id", "q_xq", "cluster", _int_d2(F.col("q_xq"), F.col("cq")).alias("d2"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= n_probe)
        .select("q_id", "q_xq", "cluster")
    )
    # the assignment carries xq, so candidate scoring is the broadcast
    # probe join alone — no second corpus join on id
    scored = (
        asgn.select(F.col(id_col).alias("neighbor_id"), "cluster", F.col("xq").alias("n_xq"))
        .join(F.broadcast(probes), "cluster")
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .select("q_id", "neighbor_id", _int_d2(F.col("q_xq"), F.col("n_xq")).alias("d2"))
    )
    w = Window.partitionBy("q_id").orderBy("d2", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("q_id", "neighbor_id", F.col("d2").alias("dist_sq"), F.col("rank").cast("bigint").alias("rank"))
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index: ``<path>/centroids`` + ``<path>/postings``
    (cell-PARTITIONED vectors).

    The build is ivf_topk's stages 1-2 run ONCE and persisted — at scale
    the corpus assignment pass is the dominant ANN cost, and re-running it
    per query batch (as the inline operator must) is wasted work. Postings
    are written ``partitionBy(cell)``, so the directory layout IS the
    inverted index: a probe of ``n_probe`` cells reads only those
    partitions' files and Spark's dynamic partition pruning applies the
    probe set to the scan at runtime (asserted in tests).

    The coarse quantizer is seeded deterministically (first ``n_cells``
    ids, as in ivf_topk); production swaps in k-means centroids without
    touching the layout or the query path.
    """
    import os

    e = corpus.select(
        F.col(id_col).alias("eid"), as_double_vec(F.col(vec_col)).alias("v")
    ).withColumn("_n", _norm(F.col("v")))
    # n_cells lowest ids via TakeOrdered — exact seed count on any id space
    cents = e.orderBy("eid").limit(n_cells).select(
        F.col("eid").alias("cell"), F.col("v").alias("cv"), F.col("_n").alias("cn")
    )
    csim = _dot(F.col("v"), F.col("cv")) / (F.col("_n") * F.col("cn"))
    wa = Window.partitionBy("eid").orderBy(F.desc("csim"), F.col("cell"))
    asgn = (
        e.crossJoin(F.broadcast(cents))
        .select("eid", "v", "_n", "cell", csim.alias("csim"))
        .withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        # norms persist WITH the postings/centroids: queries against the
        # index never recompute a corpus-side norm
        .select(F.col("eid").alias("neighbor_id"), F.col("v").alias("nv"), F.col("_n").alias("nn"), "cell")
    )
    cents.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    asgn.write.mode("overwrite").partitionBy("cell").parquet(os.path.join(path, "postings"))


def ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k against a persisted IVF index (see build_ivf_index).

    Only probed cells' partitions are scanned: the probe set joins the
    postings on the PARTITION column with the probe side broadcastable, so
    dynamic partition pruning narrows the file scan to n_probe/n_cells of
    the index at runtime — the query never touches the raw corpus or the
    unprobed cells.
    """
    import os

    cents = spark.read.parquet(os.path.join(path, "centroids"))
    postings = spark.read.parquet(os.path.join(path, "postings"))
    q = queries.select(
        F.col(id_col).alias("q_id"), as_double_vec(F.col(vec_col)).alias("qv")
    ).withColumn("_qn", _norm(F.col("qv")))
    wp = Window.partitionBy("q_id").orderBy(F.desc("csim"), F.col("cell"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "q_id",
            "qv",
            "_qn",
            "cell",
            (_dot(F.col("qv"), F.col("cv")) / (F.col("_qn") * F.col("cn"))).alias("csim"),
        )
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= n_probe)
        .select("q_id", "qv", "_qn", "cell")
    )
    scored = (
        postings.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .select(
            "q_id",
            "neighbor_id",
            # corpus norms come FROM the index (persisted at build time)
            (_dot(F.col("qv"), F.col("nv")) / (F.col("_qn") * F.col("nn"))).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine_sim"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "cosine_sim", F.col("rank").cast("bigint").alias("rank"))
    )


def kmeans_fixed_point(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Deterministic Lloyd k-means over an embedding column →
    (id, cluster, dist_sq) after ``n_iter`` assignment passes.

    Every quantity is an INTEGER: vectors are fixed-point quantized
    (floor(x · scale) — floor, not round: both engines floor identically,
    and ·2^10 only shifts the float exponent, so quantization is exact),
    distances are integer sums of squares, and the centroid update is a
    truncating integer division (Spark ``div`` ≡ DuckDB ``//``). Floating
    summation order — the classic source of cross-engine (and cross-
    partitioning!) nondeterminism in distributed k-means — never enters,
    which is what makes an exact DuckDB oracle possible and makes the
    result independent of executor count.

    Per iteration: one NARROW pass over the corpus — the packed k-centroid
    array rides a single-row broadcast and each row folds an inline argmin
    (array_min over struct(d2, cluster): total order, ties to the lowest
    cluster id — see _argmin_centroid) — then one partial-aggregated
    groupBy for the new centroids. Seeds are the k lowest-id vectors
    (content-independent, deterministic; a TakeOrdered, so sparse or
    offset id spaces still yield exactly k seeds — a bare ``id < k``
    filter would silently under-seed them). At 100 TB: assignment
    shuffles nothing; the update shuffles k×dim partial sums per map
    task — bytes, not vectors.

    ``checkpoint_dir``: per-iteration lineage cuts use executor-local
    blocks when None (local default) or reliable checkpoints into the
    given path — the executor-loss-safe cluster setting (checkpointing.py).
    """
    asgn, _, _ = kmeans_assign_and_centroids(
        emb, k=k, n_iter=n_iter, scale=scale, id_col=id_col, vec_col=vec_col,
        checkpoint_dir=checkpoint_dir,
    )
    return asgn.select(id_col, "cluster", "dist_sq")


def semdedup_survivors(
    corpus: DataFrame,
    k: int | str | tuple = "balanced",
    n_iter: int = 2,
    threshold: float = 0.95,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint_dir: str | None = None,
    target_cluster: int = 256,
    corpus_count: int | None = None,
    n_probe: int = 2,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication in embedding space — k-means-cluster the corpus,
    compare pairs ONLY within a cluster, and drop every document that has
    a lower-id near-identical neighbor (cosine ≥ threshold) in its
    cluster. Returns the survivors (id, cluster).

    Semantics: the keep-rule is the deterministic greedy "survive unless
    a smaller id in your cluster is ≥ threshold similar to you" — one
    representative per near-identical group, no RNG, reproducible across
    engines and partitionings. Like the paper, clustering assumes
    unit-normalized embeddings (Lloyd groups by L2: wildly different
    magnitudes can split a direction across cells and the pair step never
    compares across cells — normalize upstream if the encoder doesn't). Cosine is evaluated on the fixed-point
    quantization: the dot products are EXACT int64 sums (|xq|≤scale, 64
    dims ≪ 2^53), so double sqrt/divide round identically in any IEEE
    engine and the threshold compare is bit-deterministic — which is what
    gives the whole composition (Lloyd + pairing + anti-join) an exact
    relational oracle.

    Scale: this is the SemDeDup bargain — clustering first makes the
    quadratic pair step per-CLUSTER, Σ s_c² instead of n². ``k`` must
    grow with the corpus so s_c ≈ n/k stays bounded (the paper runs 11k
    clusters on 100M+ docs). The self-join keys on cluster, so a
    degenerate giant cluster is the skew to watch — balance k, or
    pre-split oversized clusters, before turning the threshold down. The
    per-side norm is computed once per row, never per pair.

    Modes of ``k``: an int (fixed cell count), ``"balanced"``, ``"ivf"``
    or a ``(k1, k2)`` tuple; any other string raises ValueError. The
    string modes size from one cheap count(), or pass ``corpus_count``.
    A flat k ∝ n keeps the pair step linear, but the Lloyd ASSIGNMENT
    pass is O(n·k) — the argmin folds over all k centroids — so
    end-to-end grew 6.3× for 10× data (sf1 rehearsal, SCALE_r04.json).
    ``k="balanced"`` (k = ⌈√n⌉, the DEFAULT) equalizes the two terms at
    O(n^1.5) — measured 15.4× for 10× data, under its 31.6× bound.
    ``k="ivf"`` is the rung past that: cells ∝ n (k_fine =
    max(8, ⌈n/target_cluster⌉), so the pair step stays linear at
    target_cluster occupancy) but assignment runs through a two-level
    quantizer with IVF multi-probe routing — ⌈√k⌉ coarse cells × ⌈√k⌉
    sub-centroids, per-point cost O(√k·(1 + n_probe)) instead of the
    flat O(k) fold — and near-identical sub-SEEDS are deduplicated at
    ``threshold`` before training so a duplicate pair can never anchor
    two sub-centroids and split apart (hierarchical_cells). Multi-probe closes the remaining
    split risk at coarse boundaries: the point argmins over the
    sub-centroids of its ``n_probe`` nearest coarse cells, not just its
    own."""
    if isinstance(k, str) and k not in ("balanced", "ivf"):
        raise ValueError(
            f"semdedup_survivors: unknown k mode {k!r}; expected an int, "
            "'balanced', 'ivf' or a (k1, k2) tuple"
        )
    n = None
    if isinstance(k, tuple):
        # (k1, k2): two-level hierarchical assignment — k1·k2 effective
        # cells at O(n·(k1+k2)) cost, the rung past k="balanced" (see
        # hierarchical_cells); the pair/keep machinery below is identical,
        # keyed on the composite cell
        k1, k2 = k
        n = corpus_count if corpus_count is not None else corpus.count()
        asgn = hierarchical_cells(
            corpus, k1=k1, k2=k2, n_iter=n_iter, scale=scale,
            id_col=id_col, vec_col=vec_col, checkpoint_dir=checkpoint_dir,
            dedup_seeds_cos=threshold, corpus_count=n,
        ).withColumnRenamed("cell", "cluster")
    elif k == "ivf":
        n = corpus_count if corpus_count is not None else corpus.count()
        k_fine = max(8, -(-n // target_cluster))
        k1 = max(2, math.isqrt(k_fine - 1) + 1)  # ceil(sqrt(k_fine))
        k2 = -(-k_fine // k1)
        asgn = hierarchical_cells(
            corpus, k1=k1, k2=k2, n_iter=n_iter, scale=scale,
            id_col=id_col, vec_col=vec_col, checkpoint_dir=checkpoint_dir,
            dedup_seeds_cos=threshold, n_probe=n_probe, corpus_count=n,
        ).withColumnRenamed("cell", "cluster")
    else:
        if k == "balanced":
            n = corpus_count if corpus_count is not None else corpus.count()
            # k ∝ √n equalizes the O(n·k) assignment pass and the O(n²/k)
            # pair step at O(n^1.5) — the growth law for corpora where a
            # flat k ∝ n makes assignment the bottleneck (measured 6.3× for
            # 10× data in the sf1 rehearsal)
            k = max(8, math.isqrt(n))
        else:
            # explicit integer k: the pair-step regime gate below still
            # wants n — use the caller's count when given (r8 advice: an
            # explicit k left n=None, so the vectorized pair step never
            # engaged regardless of corpus size); callers who pass neither
            # keep the relational pair join, documented and oracle-exact
            n = corpus_count
        asgn, _, _ = kmeans_assign_and_centroids(
            corpus, k=k, n_iter=n_iter, scale=scale, id_col=id_col, vec_col=vec_col,
            checkpoint_dir=checkpoint_dir,
        )
    # both sides of the pair join + the survivor side consume the
    # assignment — materialize the Lloyd output once
    asgn = asgn.localCheckpoint(eager=False)
    if n is not None and n >= _VECTORIZED_SIG_FLOOR:
        # corpus-sized runs take the per-cluster blocked int64 matmul —
        # bit-identical (integer dots; the same sqrt/divide/compare per
        # value) and free of the per-pair zip_with allocation. Vectorized
        # contract: non-null fixed-width xq vectors (np.stack); zero-norm
        # vectors raise (as the ANSI pair join would).
        dropped = _semdedup_dropped_vectorized(asgn, id_col, threshold)
    else:
        dropped = _semdedup_dropped_expr(asgn, id_col, threshold)
    return asgn.join(dropped, id_col, "left_anti").select(id_col, "cluster")


def _semdedup_dropped_expr(asgn: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """Within-cluster drop set via the relational pair join: every id with
    a LOWER-id cluster-mate at cosine ≥ threshold (whether or not that
    mate is itself dropped — the SemDeDup keep-rule is non-transitive)."""

    def idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("bigint"), lambda acc, x: acc + x
        )

    side = asgn.select(
        "cluster", F.col(id_col).alias("_id"), F.col("xq").alias("_x"),
        F.sqrt(idot(F.col("xq"), F.col("xq")).cast("double")).alias("_n"),
    )
    a = side.select("cluster", F.col("_id").alias("_ida"), F.col("_x").alias("_xa"), F.col("_n").alias("_na"))
    b = side.select("cluster", F.col("_id").alias("_idb"), F.col("_x").alias("_xb"), F.col("_n").alias("_nb"))
    cos = idot(F.col("_xa"), F.col("_xb")).cast("double") / (F.col("_na") * F.col("_nb"))
    return (
        a.join(b, "cluster")
        .filter((F.col("_ida") < F.col("_idb")) & (cos >= threshold))
        .select(F.col("_idb").alias(id_col))
        .distinct()
    )


def _semdedup_dropped_vectorized(asgn: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """The drop set as ONE applyInPandas over clusters — BIT-IDENTICAL to
    the pair join: dots are exact int64 (associative, so the blocked
    X·Xᵀ matmul equals the zip_with fold), norms/cosines apply the same
    sqrt → multiply → divide → ≥ sequence per value, and i<j is the same
    id order. ZERO-NORM vectors are outside the contract (ANSI divide
    raises; numpy would silently NaN and never drop) — guarded with a
    loud raise below. The join form evaluates a 64-element zip_with allocation
    per PAIR (~4.5·10⁷ pairs at sf10 balanced); here a cluster is one
    integer matmul. Row blocks bound the similarity buffer to ~32 MB
    regardless of cluster size (a giant skewed cluster degrades to
    narrow blocks instead of OOM; the group pull itself is xq rows —
    the same per-group footprint applyInPandas always pays)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import StructType

    out_schema = StructType([asgn.schema[id_col]])

    def drop_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col)
        m = len(pdf)
        if m < 2:
            return pdf.iloc[0:0][[id_col]]
        X = np.stack([np.asarray(x, dtype=np.int64) for x in pdf["xq"].values])
        norms = np.sqrt((X * X).sum(axis=1).astype(np.float64))
        if (norms == 0).any():
            # zero-norm is outside the bit-identity contract: the pair-join
            # form's ANSI divide raises DIVIDE_BY_ZERO; silently NaN-ing here
            # would instead keep the vector forever (r8 advice)
            raise ArithmeticError(
                "zero-norm vector: cosine is undefined and the relational "
                "ANSI path raises DIVIDE_BY_ZERO — drop or normalize zero "
                "vectors upstream"
            )
        dropped = np.zeros(m, dtype=bool)
        blk = max(1, (1 << 22) // m)
        for s in range(0, m, blk):
            e = min(m, s + blk)
            cos = (X[s:e] @ X.T).astype(np.float64) / (
                norms[s:e, None] * norms[None, :]
            )
            rows, cols = np.nonzero(cos >= threshold)
            hit = cols[(rows + s) < cols]
            if hit.size:
                dropped[np.unique(hit)] = True
        return pdf.iloc[np.flatnonzero(dropped)][[id_col]]

    return asgn.select("cluster", id_col, "xq").groupBy("cluster").applyInPandas(
        drop_group, out_schema
    )


def semantic_decontaminate(
    corpus: DataFrame,
    ev: DataFrame,
    threshold: float = 0.95,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_eval_rows: int | None = 4_000_000,
) -> DataFrame:
    """Embedding-space eval-set decontamination: every corpus vector whose
    cosine similarity to SOME eval-set vector is ≥ ``threshold``, as
    (corpus id, eval id, cosine) leak pairs. The semantic complement of
    the n-gram gate (dedup.decontaminate): paraphrased or lightly-reworded
    benchmark leakage shares no 3-gram but sits next to the eval item in
    embedding space (the contamination mode SemDeDup-style encoders catch).

    Determinism: cosine is evaluated on the shared fixed-point
    quantization (quantize_vectors) — int64-exact dot and squared norms,
    so the double sqrt/divide and the threshold compare round identically
    in any IEEE engine (same discipline as semdedup_survivors).

    Scale (100 TB): the eval side is a benchmark registry — thousands of
    rows, not billions — so it BROADCASTS; the corpus side is one narrow
    scan with a per-row fold over the broadcast set, embarrassingly
    parallel, zero shuffle, no all-pairs materialization (the
    BroadcastNestedLoopJoin emits only rows passing the threshold). Work
    is O(n_corpus · n_eval) dot products — at n_eval ~1e4 that is cheaper
    than one extra corpus scan. For a huge eval registry, pre-bucket both
    sides with cosine_neardup_pairs' sign-band LSH instead.

    That premise is VERIFIED, not trusted (r10): a threshold theta-join
    has no spillable strategy to degrade to (BroadcastNestedLoopJoin is
    the only plan), so a corpus-scaled "eval registry" — the same
    premise violation the n-gram decontaminate fixture exercises — would
    OOM rather than slow down. Past ``max_eval_rows`` (early-exit count,
    one cheap job at construction time) this raises with the LSH
    redirect instead. ``max_eval_rows=None`` skips the check."""
    cq = quantize_vectors(corpus, scale=scale, id_col=id_col, vec_col=vec_col)
    eq = quantize_vectors(ev, scale=scale, id_col=id_col, vec_col=vec_col)
    if max_eval_rows is not None:
        n_ev = ev.limit(max_eval_rows + 1).count()
        if n_ev > max_eval_rows:
            raise ValueError(
                f"semantic_decontaminate eval side exceeds {max_eval_rows} rows "
                "- it is corpus-scaled, not a benchmark registry, and the "
                "threshold theta-join would broadcast it with no spillable "
                "fallback. Pre-bucket both sides with cosine_neardup_pairs' "
                "sign-band LSH instead, or raise max_eval_rows deliberately."
            )

    def idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("bigint"), lambda acc, x: acc + x
        )

    c = cq.select(
        F.col(id_col), F.col("xq"),
        F.sqrt(idot(F.col("xq"), F.col("xq")).cast("double")).alias("_n"),
    )
    e = eq.select(
        F.col(id_col).alias("eval_id"), F.col("xq").alias("_ex"),
        F.sqrt(idot(F.col("xq"), F.col("xq")).cast("double")).alias("_en"),
    )
    cos = idot(F.col("xq"), F.col("_ex")).cast("double") / (F.col("_n") * F.col("_en"))
    # zero-norm guard: a vector quantizing to all zeros (every |x| < 1/scale)
    # has norm 0 → cosine NaN, and Spark orders NaN above every double, so a
    # bare `cos >= threshold` would flag the entire other side as leaked
    cond = (F.col("_n") > 0) & (F.col("_en") > 0) & (cos >= F.lit(threshold))
    return (
        c.join(F.broadcast(e), cond)
        .select(id_col, "eval_id", cos.alias("cosine"))
    )


def quantize_vectors(
    emb: DataFrame, scale: int = 1024, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, xq: array<bigint>) — the fixed-point quantization shared by the
    k-means family (floor(x·scale); exact in any engine, see
    kmeans_fixed_point)."""
    return emb.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.floor(x * scale).cast("bigint"),
        ).alias("xq"),
    )


def _int_d2(a: Column, b: Column) -> Column:
    """Integer squared distance between two quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin the input up to defaultParallelism partitions when it
    arrives with fewer. The Lloyd/PQ pipeline is narrow end-to-end (the
    assignment has no shuffle), so it EXECUTES at the scan's parallelism
    — a small single-file corpus would otherwise run the whole loop in
    one task. A 100 TB scan already has more partitions than cores and
    passes through untouched; results are partition-independent
    (integer-exact), so the placement never matters."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _pack_centroids(cent: DataFrame) -> DataFrame:
    """k centroid rows → ONE row holding array<struct<cluster, cq>> —
    the broadcastable Lloyd codebook (k×dim ints = kilobytes at any
    corpus scale). Sorted by cluster id for a canonical plan."""
    return cent.agg(F.array_sort(F.collect_list(F.struct("cluster", "cq"))).alias("_cents"))


def _argmin_centroid(vec: Column) -> Column:
    """Inline argmin of ``vec`` against the packed ``_cents`` array:
    struct(d2, cluster) per centroid, array_min picks (d2 asc, cluster
    asc) — the same total order as min(struct(d2, cluster)) / the
    oracle's ``row_number() OVER (ORDER BY d2, cluster)``. Evaluated
    entirely per-row: the assignment pass is a narrow map, no
    per-centroid row explosion and no groupBy shuffle."""
    return F.array_min(
        F.transform(
            F.col("_cents"),
            lambda c: F.struct(_int_d2(vec, c["cq"]).alias("d2"), c["cluster"].alias("cluster")),
        )
    )


def _assign_vectorized(q: DataFrame, cent: DataFrame, id_col: str) -> DataFrame:
    """The Lloyd assignment as ONE Arrow-batched numpy pass: d² against
    every centroid via an int64 matmul (D2 = |x|² + |c|² − 2·X·Cᵀ),
    argmin per row. BIT-IDENTICAL to the ``_argmin_centroid`` fold —
    every operand is an int64 from the fixed-point quantization, integer
    addition is associative, and the centroid matrix is sorted by
    cluster id so numpy's first-minimum argmin realizes the same
    (d2 asc, cluster asc) total order the struct array_min does. The
    win is mechanical: the fold builds k structs per ROW (allocation-
    bound — measured 82 of semdedup's 99 s at sf10); the matmul is a
    tight C loop over one (batch×dims)·(dims×k) product.

    The codebook is a bounded driver pull (k rows, k×dims ints —
    identical bytes to what the broadcast path ships to every
    executor); callers cap k (``_VECTORIZED_K_CAP``) so the pull stays
    model-sized in every regime this path serves."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    rows = cent.orderBy("cluster").collect()
    C = np.array([list(r["cq"]) for r in rows], dtype=np.int64)
    # cluster ids ARE id-column values (seeded from the lowest ids) — keep
    # the id column's dtype in both the numpy array (no forced int64) and
    # the output schema, so a non-long id doesn't silently change type
    # only in the n/k regime that picks this path (r8 advice)
    clusters = np.array([r["cluster"] for r in rows])
    c2 = (C * C).sum(axis=1)
    out_schema = StructType(
        [
            q.schema[id_col],
            StructField("cluster", q.schema[id_col].dataType),
            StructField("dist_sq", LongType()),
            StructField("xq", ArrayType(LongType())),
        ]
    )

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {id_col: pdf[id_col], "cluster": [], "dist_sq": [], "xq": pdf["xq"]}
                )
                continue
            X = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["xq"].values])
            x2 = (X * X).sum(axis=1)
            D = x2[:, None] + c2[None, :] - 2 * (X @ C.T)
            j = D.argmin(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cluster": clusters[j],
                    "dist_sq": D[np.arange(len(j)), j],
                    "xq": pdf["xq"],
                }
            )

    return q.mapInPandas(gen, out_schema)


# Vectorized-assignment regime bounds, set by QUERY-LEVEL sf10 A/Bs (the
# isolated assignment prefers numpy from k=16 up — 4.2 → 2.9 s — but the
# k=16 quantizer QUERIES measure slightly better on the fold, their
# downstream reading dist_sq/xq straight from codegen instead of through
# the cut: pq 14.2 vs 15.2 s, ivf_kmeans 4.0 vs 4.4 s; at k1=28 the
# hierarchical coarse level flips decisively to numpy, semdedup_ivf
# 20.7 → 18.4 s, and the k=448 flat Lloyd is the headline 73.5 → 22 s).
# A first cut-less draft regressed everywhere at small k because every
# consumer re-ran the Arrow roundtrip — the final-assignment lineage cut
# is load-bearing. Above the cap the driver-side codebook pull stops
# being model-sized; the broadcast fold takes over. k="balanced" (√n)
# reaches the cap only past ~4·10⁹ vectors.
_VECTORIZED_K_FLOOR = 24
_VECTORIZED_K_CAP = 65536


def kmeans_assign_and_centroids(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint_dir: str | None = None,
    assign_impl: str = "vectorized",
):
    """The Lloyd loop of kmeans_fixed_point, returning the final
    assignments (id, cluster, dist_sq, xq), the centroids they were
    assigned against (cluster, cq), AND the (checkpointed) quantized
    corpus. The assignment carries the quantized vector ``xq`` so
    consumers (ivf_topk_kmeans, ivf_pq_topk) score candidates without a
    second corpus join on id.

    Per-iteration cost at 100 TB: ONE narrow pass over the corpus plus
    the centroid update's partially-aggregated groupBy, whose
    post-combine shuffle is k×dim rows per map task — bytes, not
    vectors. No corpus-sized shuffle exists anywhere in the loop.

    The assignment pass picks its implementation by k (``assign_impl``
    overrides): below ``_VECTORIZED_K_FLOOR`` the packed k-centroid
    array rides a single-row broadcast and argmin is an inline array
    fold (_argmin_centroid — cheap when k is small, and re-derivable so
    no cut is needed); from the floor up it runs as an Arrow-batched
    numpy int64 matmul (_assign_vectorized — bit-identical by integer
    associativity, measured 3× end-to-end on the √n-cluster SemDeDup at
    sf10 where the per-row struct fold was allocation-bound), with the
    final assignment lineage-cut so fan-out consumers don't re-run the
    Python stage."""
    cut = make_lineage_cut(checkpoint_dir)
    q = cut(
        _ensure_parallelism(quantize_vectors(emb, scale=scale, id_col=id_col, vec_col=vec_col)),
        eager=False,
    )
    cent = q.orderBy(F.col(id_col)).limit(k).select(
        F.col(id_col).alias("cluster"), F.col("xq").alias("cq")
    )
    # Vectorized contract (r8 advice): non-null fixed-width xq vectors —
    # np.stack raises on null/ragged rows the struct-fold form tolerates;
    # cluster ids keep the id column's dtype in BOTH paths (see
    # _assign_vectorized), so the regime flip never changes the schema.
    vectorized = (
        assign_impl == "vectorized" and _VECTORIZED_K_FLOOR <= k <= _VECTORIZED_K_CAP
    )
    asgn = None
    for it in range(n_iter):
        if vectorized:
            asgn = _assign_vectorized(q, cent, id_col)
        else:
            asgn = (
                q.crossJoin(F.broadcast(_pack_centroids(cent)))
                .withColumn("_best", _argmin_centroid(F.col("xq")))
                .select(
                    id_col,
                    F.col("_best.cluster").alias("cluster"),
                    F.col("_best.d2").alias("dist_sq"),
                    "xq",
                )
            )
        if it == n_iter - 1:
            break
        # update straight off the assignment rows (xq rides along — no
        # join back to the corpus); partial agg makes the shuffle tiny
        dims = asgn.select("cluster", F.posexplode("xq").alias("idx", "x"))
        cent = (
            dims.groupBy("cluster", "idx")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .select("cluster", "idx", F.expr("s div n").alias("c"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "c"))), lambda st: st["c"]
                ).alias("cq")
            )
        )
        cent = cut(cent, eager=False)
    if vectorized:
        # consumers fan out from the final assignment (pairs + survivors,
        # residuals + probe scoring); without a cut every re-derivation
        # re-runs the Arrow roundtrip — the expr path's fold re-runs too,
        # but costs nothing at the k where it is chosen
        asgn = cut(asgn, eager=False)
    return asgn, cent, q


def hierarchical_cells(
    corpus: DataFrame,
    k1: int = 8,
    k2: int = 8,
    n_iter: int = 2,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint_dir: str | None = None,
    dedup_seeds_cos: float | None = None,
    n_probe: int = 1,
    corpus_count: int | None = None,
) -> DataFrame:
    """Two-level quantizer → (id, cell, xq) with k1×k2 effective cells at
    O(n·(k1 + k2)) assignment cost — the scaling rung SemDeDup's flat
    ``k ∝ n`` mode lacks (its assignment is O(n·k); ``k="balanced"``
    caps that at O(n^1.5); two levels reach k cells for √k per-level
    work, and deeper trees extend the same recurrence).

    Level 1 is the ordinary fixed-point Lloyd (coarse cells); level 2
    trains k2 sub-centroids PER coarse cell with grouped Lloyd rounds —
    all cells train in ONE job per round exactly like PQ's per-subspace
    training (the group key is the coarse cell instead of the subspace),
    inline argmin against a per-group packed codebook, partial-aggregated
    integer centroid updates. Sub-seeds are the min-id member of each
    ``id mod k2`` bucket within the cell (combinable aggregates only — no
    per-cell ranking window, so a giant coarse cell never becomes a hot
    partition even during seeding). Integer-exact end to end, so the
    whole composition has a relational oracle. ``cell = coarse·k2 + sub``.

    ``dedup_seeds_cos``: drop a sub-seed whose vector is ≥ this cosine
    similar to a lower-code seed in the same cell BEFORE training. Two
    near-identical vectors that both land in the seed set would otherwise
    each anchor their own sub-centroid and SPLIT apart — exactly the
    pairs a downstream near-dup pass must see together. The seed sets are
    k2 rows per cell, so the dedup is a k2² within-cell compare — noise.
    SemDeDup passes its own threshold here; leave None for plain
    quantization where splitting duplicates is harmless.

    ``n_probe`` > 1 turns the FINAL assignment into IVF multi-probe: each
    point ranks the k1 coarse centroids (one inline array_sort over the
    packed-centroid broadcast — no shuffle), looks up the sub-codebooks
    of its ``n_probe`` nearest coarse cells in a broadcast map, and takes
    the global argmin (d2, g, code) over their union. This is the
    boundary-artifact fix for greedy probe-1 routing — a point near a
    coarse boundary can land in the neighboring cell's sub-centroid,
    exactly where its near-duplicates sit — at O(k1 + n_probe·k2) per
    point instead of the flat quantizer's O(k1·k2). Training stays
    in-cell (probe-1): the probes only widen the final routing, the IVF
    search pattern (train coarse, query multi-probe). Still zero-shuffle:
    the sub-codebook map is k1·k2 rows of dim ints — broadcastable up to
    millions of cells."""
    cut = make_lineage_cut(checkpoint_dir)
    coarse, coarse_cent, _ = kmeans_assign_and_centroids(
        corpus, k=k1, n_iter=n_iter, scale=scale, id_col=id_col, vec_col=vec_col,
        checkpoint_dir=checkpoint_dir,
    )
    base = cut(coarse.select(id_col, F.col("cluster").alias("_g"), "xq"), eager=False)
    sb = (
        base.groupBy("_g", (F.col(id_col) % k2).alias("code"))
        .agg(F.min(id_col).alias("_sid"))
        .join(base.select(F.col(id_col).alias("_sid"), F.col("xq").alias("cw")), "_sid")
        .select("_g", "code", "cw")
    )
    if dedup_seeds_cos is not None:
        def _icos(x, y):
            dot = F.aggregate(
                F.zip_with(x, y, lambda a, b: a * b),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            ).cast("double")
            nx = F.sqrt(
                F.aggregate(
                    F.transform(x, lambda a: a * a), F.lit(0).cast("bigint"), lambda acc, v: acc + v
                ).cast("double")
            )
            ny = F.sqrt(
                F.aggregate(
                    F.transform(y, lambda a: a * a), F.lit(0).cast("bigint"), lambda acc, v: acc + v
                ).cast("double")
            )
            return dot / (nx * ny)

        sa = sb.select("_g", F.col("code").alias("_ca"), F.col("cw").alias("_wa"))
        sb_ = sb.select("_g", F.col("code").alias("_cb"), F.col("cw").alias("_wb"))
        dup_seeds = (
            sa.join(sb_, "_g")
            .filter(
                (F.col("_ca") < F.col("_cb"))
                & (_icos(F.col("_wa"), F.col("_wb")) >= dedup_seeds_cos)
            )
            .select("_g", F.col("_cb").alias("code"))
            .distinct()
        )
        sb = sb.join(dup_seeds, ["_g", "code"], "left_anti")
    # level-2 argmin impl: the grouped numpy pass wins decisively on the
    # full-width vectors here (sf10 single pass 2.58 → 0.67 s, identical
    # rows) — unlike PQ's short subvectors, where it measured SLOWER
    # (19.3 vs 17.9 s query-level) and the struct fold is kept
    vec2 = corpus_count is not None and corpus_count >= _VECTORIZED_SIG_FLOOR
    assigned = None
    for it in range(n_iter):
        if vec2:
            assigned = _grouped_argmin_vectorized(
                base, sb, "_g", "xq", [id_col, "_g", "xq"]
            )
        else:
            packed = sb.groupBy("_g").agg(
                F.array_sort(F.collect_list(F.struct("code", "cw"))).alias("_cws")
            )
            best = F.array_min(
                F.transform(
                    F.col("_cws"),
                    lambda c: F.struct(
                        _int_d2(F.col("xq"), c["cw"]).alias("d2"), c["code"].alias("code")
                    ),
                )
            )
            assigned = base.join(F.broadcast(packed), "_g").select(
                id_col, "_g", best["code"].alias("code"), "xq"
            )
        if it == n_iter - 1:
            break
        dims = assigned.select("_g", "code", F.posexplode("xq").alias("idx", "x"))
        sb = (
            dims.groupBy("_g", "code", "idx")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .select("_g", "code", "idx", F.expr("s div n").alias("c"))
            .groupBy("_g", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "c"))), lambda st: st["c"]
                ).alias("cw")
            )
        )
        sb = cut(sb, eager=False)
    if n_probe > 1:
        # IVF multi-probe final assignment (replaces the in-cell argmin):
        # probed = the point's n_probe nearest coarse cells by (d2, g) —
        # the same total order as the coarse argmin, so rank 1 is always
        # the point's own cell and the candidate union is never empty
        smap = (
            sb.groupBy("_g")
            .agg(F.array_sort(F.collect_list(F.struct("code", "cw"))).alias("_cws"))
            .agg(F.map_from_entries(F.collect_list(F.struct("_g", "_cws"))).alias("_smap"))
        )
        probed = F.slice(
            F.array_sort(
                F.transform(
                    F.col("_cents"),
                    lambda c: F.struct(
                        _int_d2(F.col("xq"), c["cq"]).alias("d2"), c["cluster"].alias("g")
                    ),
                )
            ),
            1,
            n_probe,
        )
        # a probed coarse cell can miss a sub-codebook (it lost every
        # member in the final coarse round) — skip it, like the oracle's
        # inner join on the weight table
        live = F.filter(probed, lambda p: F.map_contains_key(F.col("_smap"), p["g"]))
        best = F.array_min(
            F.flatten(
                F.transform(
                    live,
                    lambda p: F.transform(
                        F.element_at(F.col("_smap"), p["g"]),
                        lambda c: F.struct(
                            _int_d2(F.col("xq"), c["cw"]).alias("d2"),
                            p["g"].alias("g"),
                            c["code"].alias("code"),
                        ),
                    ),
                )
            )
        )
        assigned = (
            base.crossJoin(F.broadcast(_pack_centroids(coarse_cent)))
            .crossJoin(F.broadcast(smap))
            .select(id_col, best["g"].alias("_g"), best["code"].alias("code"), "xq")
        )
    return assigned.select(
        id_col, (F.col("_g") * k2 + F.col("code")).alias("cell"), "xq"
    )


def _grouped_argmin_vectorized(
    df: DataFrame,
    cb: DataFrame,
    group_col: str,
    vec_col: str,
    passthrough: list[str],
) -> DataFrame:
    """Per-GROUP codebook argmin as one Arrow-batched numpy pass —
    BIT-IDENTICAL to the packed struct-fold (``array_min`` over
    struct(d2, code)): d² is an exact int64 sum (associative, so the
    blocked matmul equals the zip_with fold) and numpy's first-minimum
    argmin over a code-sorted codebook ties to the lowest code. Groups
    are subspaces (PQ, ~m_sub of them) or cells (hierarchical level 2);
    either way the full codebook is model-sized, so the driver pull is
    bounded — the same bytes the broadcast would ship. Returns
    ``passthrough`` + (code); rows whose group has no codebook are
    dropped (the relational inner join on the packed side does the
    same).

    Regime note (both directions measured at sf10): on FULL-WIDTH
    vectors (hierarchical level 2, 64 dims, k2≈28 codes) this wins 4×
    per pass (2.58 → 0.67 s, identical rows); on PQ's SHORT subvectors
    (16 dims, ks=16) the Arrow roundtrip of corpus×m_sub rows costs
    more than the small fold saves (query-level 19.3 vs 17.9 s), so
    pq_train_codebooks keeps the struct fold by default."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    books: dict = {}
    for r in cb.orderBy(group_col, "code").collect():
        g = books.setdefault(r[group_col], ([], []))
        g[0].append(r["code"])
        g[1].append(list(r["cw"]))
    books = {
        k: (np.array(codes, dtype=np.int64), np.array(cws, dtype=np.int64))
        for k, (codes, cws) in books.items()
    }
    out_schema = StructType(
        [df.schema[c] for c in passthrough] + [StructField("code", LongType())]
    )

    def gen(batches):
        for pdf in batches:
            keep = pdf[group_col].isin(books.keys()).values
            pdf = pdf[keep]
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {**{c: pdf[c] for c in passthrough}, "code": []}
                )
                continue
            code_out = np.empty(len(pdf), dtype=np.int64)
            gvals = pdf[group_col].values
            X = np.stack([np.asarray(v, dtype=np.int64) for v in pdf[vec_col].values])
            x2 = (X * X).sum(axis=1)
            for g in pd.unique(gvals):
                idx = np.flatnonzero(gvals == g)
                codes, CW = books[g]
                D = (
                    x2[idx, None]
                    + (CW * CW).sum(axis=1)[None, :]
                    - 2 * (X[idx] @ CW.T)
                )
                code_out[idx] = codes[D.argmin(axis=1)]
            yield pd.DataFrame(
                {**{c: pdf[c].values for c in passthrough}, "code": code_out}
            )

    return df.mapInPandas(gen, out_schema)


def pq_train_codebooks(
    subs: DataFrame,
    ks: int = 16,
    pq_iter: int = 2,
    id_col: str = "vec_id",
    checkpoint_dir: str | None = None,
    vectorized: bool = False,
):
    """Train per-subspace PQ codebooks by grouped Lloyd iterations and
    encode the corpus in the same pass.

    ``subs`` is the exploded residual-subvector table (id, m, sub) — ALL
    subspaces train in ONE DataFrame job per round (the group key carries
    the subspace), not M separate k-means runs. Integer-exact throughout:
    subvectors are integer residuals, distances integer sums of squares,
    centroid updates truncating integer division — the same fixed-point
    discipline as kmeans_fixed_point, which is what gives IVF-PQ a
    bit-exact relational oracle. Seeds per subspace are the subvectors of
    the ``ks`` lowest ids (TakeOrdered; content-independent). Codebooks
    are ks×M rows of length-(dim/M) arrays — kilobytes, always broadcast.

    Returns (codes, cb): the code table (id, m, code) assigned against
    the RETURNED codebook (cb is the one used in the final assignment,
    never a post-update orphan), and the codebook (m, code, cw).
    """
    cut = make_lineage_cut(checkpoint_dir)
    seed_ids = (
        subs.select(id_col).distinct().orderBy(id_col).limit(ks)
        .select(F.col(id_col).alias("_sid"))
    )
    cb = (
        subs.join(F.broadcast(seed_ids), F.col(id_col) == F.col("_sid"))
        .select("m", F.col(id_col).alias("code"), F.col("sub").alias("cw"))
    )
    codes = None
    for it in range(pq_iter):
        # inline argmin against the packed per-m codebook (array_min over
        # struct(d2, code) ≡ min(struct(d2, code)) — ties to the lowest
        # code): one narrow row per (id, m), never a ks-way row explosion
        # or an assignment groupBy
        if vectorized:
            scored = _grouped_argmin_vectorized(
                subs, cb, "m", "sub", [id_col, "m", "sub"]
            )
        else:
            best = F.array_min(
                F.transform(
                    F.col("_cws"),
                    lambda c: F.struct(
                        _int_d2(F.col("sub"), c["cw"]).alias("d2"), c["code"].alias("code")
                    ),
                )
            )
            scored = (
                subs.join(F.broadcast(_pack_codebook(cb)), "m")
                .select(id_col, "m", best["code"].alias("code"), "sub")
            )
        codes = scored.select(id_col, "m", "code")
        if it == pq_iter - 1:
            break
        # codeword update straight off the scored rows (sub rides along —
        # no join back to the subvector table); partial agg → tiny shuffle
        dims = scored.select("m", "code", F.posexplode("sub").alias("idx", "x"))
        cb = (
            dims.groupBy("m", "code", "idx")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .select("m", "code", "idx", F.expr("s div n").alias("c"))
            .groupBy("m", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "c"))), lambda st: st["c"]
                ).alias("cw")
            )
        )
        cb = cut(cb, eager=False)
    return codes, cb


def _pack_codebook(cb: DataFrame) -> DataFrame:
    """(m, code, cw) → m rows of (m, _cws: array<struct<code, cw>>) —
    the per-subspace codebook as a broadcastable array (ks×dim/m ints)."""
    return cb.groupBy("m").agg(F.array_sort(F.collect_list(F.struct("code", "cw"))).alias("_cws"))


def pq_encode(res: DataFrame, cb: DataFrame, m_sub: int, keys: list[str]) -> DataFrame:
    """Encode integer residual vectors ``rv`` against a trained PQ
    codebook in ONE narrow projection → keys + (codes: array<bigint>,
    codes[m] = argmin code of subspace m, ties to the lowest code —
    bit-identical to pq_train_codebooks' assignment against the same cb).

    The whole codebook rides a single-row broadcast as
    map<m, array<struct<code, cw>>>; each corpus row slices its own
    subvectors and folds the argmin inline, so encoding costs zero
    shuffle at any corpus scale (vs. the explode→assign→groupBy-pivot
    shape, which shuffles corpus×m_sub rows twice)."""
    cbm = _pack_codebook(cb).agg(
        F.map_from_entries(F.collect_list(F.struct("m", "_cws"))).alias("_cbm")
    )

    def code_of(m):
        sub = F.slice(F.col("rv"), m * F.col("_ds") + F.lit(1), F.col("_ds"))
        return F.array_min(
            F.transform(
                F.element_at(F.col("_cbm"), m),
                lambda c: F.struct(_int_d2(sub, c["cw"]).alias("d2"), c["code"].alias("code")),
            )
        )["code"]

    return (
        res.crossJoin(F.broadcast(cbm))
        .withColumn("_ds", (F.size("rv") / m_sub).cast("int"))
        .select(
            *keys,
            F.transform(F.sequence(F.lit(0), F.lit(m_sub - 1)), code_of).alias("codes"),
        )
    )


def _residual_subs(df: DataFrame, keys: list[str], m_sub: int) -> DataFrame:
    """Explode an integer residual column ``rv`` into its ``m_sub``
    subvectors → keys + (m, sub). The subvector length derives from the
    array itself (dim/m_sub), so no dimension constant enters the plan."""
    return df.withColumn("_ds", (F.size("rv") / m_sub).cast("int")).select(
        *keys,
        F.posexplode(
            F.expr(f"transform(sequence(0, {m_sub - 1}), m -> slice(rv, m * _ds + 1, _ds))")
        ).alias("m", "sub"),
    )


def _adc_score(packed: DataFrame, lut: DataFrame) -> DataFrame:
    """ADC candidate scoring: ``packed`` (neighbor_id, cluster, codes) ×
    ``lut`` rows (q_id, cluster, m, code, ad2) → (q_id, neighbor_id,
    approx_d2).

    The LUT packs to ONE row per (q_id, cluster) holding
    map<m, map<code, ad2>> — n_queries·n_probe rows of m_sub·ks entries,
    kilobytes, broadcast. Each candidate row then scores itself inline by
    folding m_sub map lookups over its own code array: no
    candidate×m_sub row explosion, no id-keyed code join, and no
    groupBy-sum shuffle — the only shuffle left downstream is the
    per-query shortlist window."""
    lutm = (
        lut.groupBy("q_id", "cluster", "m")
        .agg(F.map_from_entries(F.collect_list(F.struct("code", "ad2"))).alias("cmap"))
        .groupBy("q_id", "cluster")
        .agg(F.map_from_entries(F.collect_list(F.struct("m", "cmap"))).alias("_lut"))
    )
    approx = F.aggregate(
        F.transform(
            F.col("codes"), lambda c, i: F.element_at(F.element_at(F.col("_lut"), i), c)
        ),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    return (
        packed.join(F.broadcast(lutm), "cluster")
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .select("q_id", "neighbor_id", approx.alias("approx_d2"))
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    topk: int = 10,
    n_cells: int = 8,
    n_iter: int = 2,
    m_sub: int = 4,
    ks: int = 16,
    pq_iter: int = 2,
    n_probe: int = 2,
    shortlist: int = 32,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """IVF-PQ: product quantization of cell RESIDUALS inside a trained
    IVF — the memory-bounded ANN rung above ivf_topk_kmeans for 100 TB
    serving (the corpus is represented by m_sub one-byte-ish codes per
    vector plus broadcast codebooks; raw vectors are touched only for the
    exact re-rank of the shortlist).

    Composition (every stage integer-exact on the fixed-point
    quantization, so the WHOLE thing has a bit-exact relational oracle):
    1. coarse k-means cells (kmeans_assign_and_centroids — assignment
       reused from the last Lloyd round, no second corpus pass);
    2. residuals r = xq − centroid[cell], split into m_sub subvectors;
    3. per-subspace codebooks via grouped Lloyd (pq_train_codebooks),
       corpus encoded as (id, m, code);
    4. queries probe n_probe cells; per (query, cell) the residual is
       computed against THAT cell's centroid and an ADC lookup table
       d2(query-sub, codeword) is built — n_queries·n_probe·m_sub·ks
       rows, broadcast;
    5. candidates in probed cells score as Σ_m LUT[m, code[m]] (one
       id-keyed join to the code table + one broadcast LUT join — the
       raw vectors never enter), shortlist by approximate distance;
    6. exact integer re-rank of the shortlist only → top-k.

    With ``shortlist`` ≥ the probed-cell candidate count this equals
    ivf_topk_kmeans exactly (asserted in tests); smaller shortlists trade
    recall for the re-rank cost, measured in the recall harness.
    """
    asgn, cent, q = kmeans_assign_and_centroids(
        corpus, k=n_cells, n_iter=n_iter, scale=scale,
        id_col=id_col, vec_col=vec_col, checkpoint_dir=checkpoint_dir,
    )
    # the assignment carries xq — residuals come from one broadcast
    # centroid join, never a corpus self-join on id
    res = asgn.join(F.broadcast(cent), "cluster").select(
        id_col, "cluster", F.zip_with("xq", "cq", lambda x, c: x - c).alias("rv")
    )
    subs = _residual_subs(res, [id_col], m_sub)
    # NOTE: vectorized=False deliberately — on PQ's short subvectors the
    # numpy pass measured SLOWER at query level (sf10 19.3 vs 17.9 s);
    # see _grouped_argmin_vectorized's regime note
    _, cb = pq_train_codebooks(
        subs, ks=ks, pq_iter=pq_iter, id_col=id_col, checkpoint_dir=checkpoint_dir
    )
    # one narrow encode pass against the final codebook (bit-identical to
    # the training assignment at the same cb; no explode + pivot shuffle)
    packed = pq_encode(res, cb, m_sub, [id_col, "cluster"])

    qv = quantize_vectors(queries, scale=scale, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("q_id"), F.col("xq").alias("q_xq")
    )
    wp = Window.partitionBy("q_id").orderBy("d2", "cluster")
    probes = (
        qv.crossJoin(F.broadcast(cent))
        .select("q_id", "q_xq", "cluster", "cq", _int_d2(F.col("q_xq"), F.col("cq")).alias("d2"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= n_probe)
        .select("q_id", "q_xq", "cluster", "cq")
    )
    qsubs = _residual_subs(
        probes.select(
            "q_id", "cluster", F.zip_with("q_xq", "cq", lambda x, c: x - c).alias("rv")
        ),
        ["q_id", "cluster"],
        m_sub,
    )
    lut = qsubs.join(F.broadcast(cb), "m").select(
        "q_id", "cluster", "m", "code", _int_d2(F.col("sub"), F.col("cw")).alias("ad2")
    )
    adc = _adc_score(packed.withColumnRenamed(id_col, "neighbor_id"), lut)
    ws = Window.partitionBy("q_id").orderBy("approx_d2", "neighbor_id")
    short = (
        adc.withColumn("srn", F.row_number().over(ws))
        .filter(F.col("srn") <= shortlist)
        .select("q_id", "neighbor_id")
    )
    # shortlist (n_queries×shortlist rows) broadcasts INTO the corpus-side
    # fetch — the raw vectors never shuffle for the re-rank
    nb = q.select(F.col(id_col).alias("neighbor_id"), F.col("xq").alias("n_xq"))
    rer = nb.join(F.broadcast(short.join(F.broadcast(qv), "q_id")), "neighbor_id").select(
        "q_id", "neighbor_id", _int_d2(F.col("q_xq"), F.col("n_xq")).alias("d2")
    )
    w = Window.partitionBy("q_id").orderBy("d2", "neighbor_id")
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            "q_id", "neighbor_id", F.col("d2").alias("dist_sq"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def build_ivf_pq_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 8,
    n_iter: int = 2,
    m_sub: int = 4,
    ks: int = 16,
    pq_iter: int = 2,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint_dir: str | None = None,
) -> None:
    """Materialize the IVF-PQ index: ``<path>/centroids`` (cluster, cq),
    ``<path>/codebooks`` (m, code, cw), ``<path>/postings``
    (cluster-PARTITIONED pq code rows), ``<path>/vectors`` (quantized
    vectors for the exact re-rank).

    This is ivf_pq_topk's training+encoding run ONCE and persisted — the
    100 TB serving layout: the postings row for a vector is m_sub small
    integers (the PQ codes) instead of the raw vector, the directory
    layout IS the inverted index (probes become partition filters, same
    dynamic-partition-pruning contract as build_ivf_index), and raw
    vectors are touched only by the shortlist fetch at query time.
    """
    import os

    asgn, cent, q = kmeans_assign_and_centroids(
        corpus, k=n_cells, n_iter=n_iter, scale=scale,
        id_col=id_col, vec_col=vec_col, checkpoint_dir=checkpoint_dir,
    )
    res = asgn.join(F.broadcast(cent), "cluster").select(
        id_col, "cluster", F.zip_with("xq", "cq", lambda x, c: x - c).alias("rv")
    )
    subs = _residual_subs(res, [id_col], m_sub)
    # NOTE: struct-fold training kept — see _grouped_argmin_vectorized's
    # regime note (short subvectors measured slower under the numpy pass)
    _, cb = pq_train_codebooks(
        subs, ks=ks, pq_iter=pq_iter, id_col=id_col, checkpoint_dir=checkpoint_dir
    )
    # one narrow encode pass per vector — codes ordered by m (pq_encode)
    packed = pq_encode(res, cb, m_sub, [id_col, "cluster"]).select(
        F.col(id_col).alias("neighbor_id"), "cluster", "codes"
    )
    cent.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    cb.write.mode("overwrite").parquet(os.path.join(path, "codebooks"))
    packed.write.mode("overwrite").partitionBy("cluster").parquet(os.path.join(path, "postings"))
    q.select(F.col(id_col).alias("neighbor_id"), "xq").write.mode("overwrite").parquet(
        os.path.join(path, "vectors")
    )


def ivf_pq_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    topk: int = 10,
    m_sub: int = 4,
    n_probe: int = 2,
    shortlist: int = 32,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k against a persisted IVF-PQ index (build_ivf_pq_index) —
    result-identical to the inline ivf_pq_topk at the same parameters
    (asserted in tests).

    Query path: probe n_probe cells against the broadcast centroids,
    build the per-(query, cell) ADC lookup table from the broadcast
    codebooks, scan ONLY the probed postings partitions (the probe set
    joins on the partition column with the probe side broadcast — dynamic
    partition pruning narrows the file scan), score candidates by summing
    code lookups, exact-re-rank the shortlist against the vectors table.
    The raw-vector fetch is shortlist-sized, never corpus-sized.
    """
    import os

    cent = spark.read.parquet(os.path.join(path, "centroids"))
    cb = spark.read.parquet(os.path.join(path, "codebooks"))
    postings = spark.read.parquet(os.path.join(path, "postings"))
    vectors = spark.read.parquet(os.path.join(path, "vectors"))

    qv = quantize_vectors(queries, scale=scale, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("q_id"), F.col("xq").alias("q_xq")
    )
    wp = Window.partitionBy("q_id").orderBy("d2", "cluster")
    probes = (
        qv.crossJoin(F.broadcast(cent))
        .select("q_id", "q_xq", "cluster", "cq", _int_d2(F.col("q_xq"), F.col("cq")).alias("d2"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= n_probe)
        .select("q_id", "q_xq", "cluster", "cq")
    )
    qsubs = _residual_subs(
        probes.select(
            "q_id", "cluster", F.zip_with("q_xq", "cq", lambda x, c: x - c).alias("rv")
        ),
        ["q_id", "cluster"],
        m_sub,
    )
    lut = qsubs.join(F.broadcast(cb), "m").select(
        "q_id", "cluster", "m", "code", _int_d2(F.col("sub"), F.col("cw")).alias("ad2")
    )
    # the broadcast (q_id, cluster)-keyed LUT join doubles as the probe
    # restriction: dynamic partition pruning narrows the postings scan to
    # the probed cells, and each candidate scores itself inline
    adc = _adc_score(postings, lut)
    ws = Window.partitionBy("q_id").orderBy("approx_d2", "neighbor_id")
    short = (
        adc.withColumn("srn", F.row_number().over(ws))
        .filter(F.col("srn") <= shortlist)
        .select("q_id", "neighbor_id")
    )
    # shortlist broadcasts into the vectors fetch — no corpus-side shuffle
    rer = vectors.join(F.broadcast(short.join(F.broadcast(qv), "q_id")), "neighbor_id").select(
        "q_id", "neighbor_id", _int_d2(F.col("q_xq"), F.col("xq")).alias("d2")
    )
    w = Window.partitionBy("q_id").orderBy("d2", "neighbor_id")
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            "q_id", "neighbor_id", F.col("d2").alias("dist_sq"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def mmr_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein 1998) →
    (rank, vec_id, relevance, mmr_score): greedily pick k items maximizing
    0.5·cos(q, c) − 0.5·max_{s∈selected} cos(c, s) — relevance to the
    query balanced against redundancy with what's already picked. The
    diversity-aware variant of top-k retrieval (RAG context packing,
    eval-set sampling, dedup-aware fewshot selection).

    Greedy MMR is inherently sequential in k: each of the k rounds is one
    DISTRIBUTED argmax over the remaining candidates (TakeOrderedAndProject
    over a narrow projection — the corpus never shuffles), with the
    selected vectors re-broadcast as literals. The driver holds only the
    k selected rows (the output itself), never the corpus; cost is
    O(k²·n) dot products total, k jobs deep. Ties break by candidate id;
    round 1's redundancy term is 0 by convention (empty max). Doubles
    stay engine-portable because every expression is the same left fold
    / product / subtraction in the same order as the ANN family.

    The output id column is named and typed after ``id_col`` (its schema
    is built from the corpus's actual field, so string or int ids both
    come out faithfully — r5 advice on the hard-coded bigint)."""
    qrow = (
        query.select(as_double_vec(F.col(vec_col)).alias("qv"))
        .select("qv", _norm(F.col("qv")).alias("qn"))
    )
    c = corpus.select(
        F.col(id_col).alias("cid"), as_double_vec(F.col(vec_col)).alias("cv")
    ).select("cid", "cv", _norm(F.col("cv")).alias("cn"))
    scored = (
        c.crossJoin(F.broadcast(qrow))
        .select(
            "cid", "cv", "cn",
            (_dot(F.col("cv"), F.col("qv")) / (F.col("cn") * F.col("qn"))).alias("rel"),
        )
        .localCheckpoint(eager=False)
    )
    selected: list = []
    for rank in range(1, k + 1):
        if selected:
            sims = [
                _dot(F.col("cv"), F.lit(sv)) / (F.col("cn") * F.lit(sn))
                for (_, sv, sn, _) in selected
            ]
            ms = sims[0] if len(sims) == 1 else F.greatest(*sims)
        else:
            ms = F.lit(0.0)
        score = F.lit(0.5) * F.col("rel") - F.lit(0.5) * ms
        remaining = scored
        if selected:
            remaining = scored.filter(
                ~F.col("cid").isin([sid for (sid, _, _, _) in selected])
            )
        row = (
            remaining.select("cid", "cv", "cn", "rel", score.alias("mmr_score"))
            .orderBy(F.desc("mmr_score"), "cid")
            .limit(1)
            .collect()
        )
        if not row:
            break
        r = row[0]
        selected.append((r["cid"], list(r["cv"]), float(r["cn"]), (r["rel"], r["mmr_score"])))
    out = [
        (i + 1, sid, rel_score[0], rel_score[1])
        for i, (sid, _, _, rel_score) in enumerate(selected)
    ]
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    id_field = corpus.schema[id_col]
    out_schema = StructType(
        [
            StructField("rank", LongType(), False),
            StructField(id_col, id_field.dataType, id_field.nullable),
            StructField("relevance", DoubleType(), True),
            StructField("mmr_score", DoubleType(), True),
        ]
    )
    return corpus.sparkSession.createDataFrame(out, out_schema)
