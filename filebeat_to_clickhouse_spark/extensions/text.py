"""Text analysis operators: token stats, quality scoring, language ID,
SimHash fingerprints, document fingerprints.

All pure Catalyst expressions (split/regexp/md5/higher-order functions);
integer-exact or order-independent arithmetic throughout so results are
bit-reproducible across engines and cluster sizes.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ..checkpointing import default_checkpoint_dir as _default_ckpt_dir
from ..checkpointing import make_lineage_cut as _make_lineage_cut

# A small stopword list drawn from the synthetic corpus vocabulary; at
# production scale this would be per-language broadcast dictionaries.
STOPWORDS = ("the", "a", "of", "and", "to", "in")

# Marker words per language for the marker-vote language-ID heuristic.
# (The synthetic corpus shares one vocabulary, so markers are drawn from it;
# real deployments swap in per-language stopword dictionaries.)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "fast", "data"),
    "de": ("row", "window", "hash"),
    "fr": ("filter", "stream", "sort"),
    "es": ("query", "value", "join"),
    "zh": ("scan", "merge", "batch"),
}

SIMHASH_BITS = 60  # 15 hex chars of md5 → fits a signed 64-bit integer

def _bit_masks() -> Column:
    """MSB-first bit masks as ONE array literal: element-wise F.lit
    construction costs a py4j round-trip per mask on every plan build
    (lazy — F.expr needs an active session, so not a module constant)."""
    return F.expr(
        "array(" + ",".join(f"{1 << b}L" for b in range(SIMHASH_BITS - 1, -1, -1)) + ")"
    )


def token_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_tokens, n_uniq_tokens, ttr) — whitespace tokenization."""
    toks = F.split(F.col(text_col), " ")
    return docs.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq_tokens"),
        (F.size(F.array_distinct(toks)) * F.lit(1.0) / F.size(toks)).alias("ttr"),
    )


def quality_score(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Length / stopword-ratio / mean-token-length quality features + label.

    Mirrors the standard pretraining-corpus quality filters (Gopher-style
    rules): documents outside sane length bands or with no stopwords are
    flagged low-quality.
    """
    text = F.col(text_col)
    toks = F.split(text, " ")
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*[F.lit(s) for s in STOPWORDS])))
    n_chars = F.length(text)
    mean_tok = (n_chars - (n_tokens - 1)) * F.lit(1.0) / n_tokens
    stop_ratio = n_stop * F.lit(1.0) / n_tokens
    label = (
        F.when(n_tokens < 15, F.lit("too_short"))
        .when(mean_tok < 2.0, F.lit("fragmented"))
        .when(stop_ratio <= 0.0, F.lit("no_stopwords"))
        .otherwise(F.lit("ok"))
    )
    return docs.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars_actual"),
        n_stop.alias("n_stopwords"),
        stop_ratio.alias("stopword_ratio"),
        mean_tok.alias("mean_token_len"),
        label.alias("quality_label"),
    )


def language_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Marker-word language-ID heuristic → (doc_id, lang_guess, lang_score).

    Votes = count of distinct marker tokens present per language; the guess
    is the first language (in LANG_MARKERS order) achieving the max vote;
    zero votes → 'und'. Expressed as greatest + a first-match CASE chain so
    the tie-break is trivially portable to any SQL engine.
    """
    toks = F.array_distinct(F.split(F.col(text_col), " "))
    langs = list(LANG_MARKERS)
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(m) for m in marks]))).cast("bigint")
        for lang, marks in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    guess = F.when(best <= 0, F.lit("und"))
    for lang in langs:
        guess = guess.when(scores[lang] == best, F.lit(lang))
    return docs.select(
        F.col(id_col),
        guess.alias("lang_guess"),
        best.alias("lang_score"),
    )


def doc_fingerprints(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content fingerprints: full-text md5, 64-bit-ish prefix, head fingerprint."""
    text = F.col(text_col)
    return docs.select(
        F.col(id_col),
        F.md5(text).alias("fp_md5"),
        F.substring(F.md5(text), 1, 15).alias("fp60"),
        F.md5(F.substring(text, 1, 100)).alias("fp_head"),
    )


def _token_hash60(tok: Column) -> Column:
    """60-bit integer hash of a token: first 15 hex chars of md5."""
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("bigint")


def simhash_fingerprints(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """SimHash over distinct tokens → (doc_id, simhash) with a 60-char
    bit-string fingerprint (MSB first).

    Per-bit majority vote of token-hash bits: bit_j(doc) = 1 iff more token
    hashes have bit j set than unset. Computed entirely per-row — a fold
    over the token-hash array carrying a 60-int vote accumulator, bit-tested
    against literal masks — so the whole fingerprint stage is a narrow map
    with ZERO shuffle at any scale (vs. the naive tokens × bits explode +
    groupBy, which shuffles 60 rows per token).
    """
    votes = _simhash_votes(docs, text_col=text_col, id_col=id_col)
    fingerprint = F.array_join(
        F.transform(F.col("_votes"), lambda x: F.when(x > 0, F.lit("1")).otherwise(F.lit("0"))), ""
    )
    return votes.select(F.col(id_col), fingerprint.alias("simhash"))


def _simhash_votes(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, _votes) — the 60-element per-bit vote array, MSB first."""
    toks = F.array_distinct(F.split(F.col(text_col), " "))
    hashed = docs.select(F.col(id_col), F.transform(toks, _token_hash60).alias("_ht"))
    masks = _bit_masks()
    votes = F.aggregate(
        F.col("_ht"),
        F.array_repeat(F.lit(0), SIMHASH_BITS),
        lambda acc, v: F.zip_with(
            acc, masks, lambda a, m: a + F.when(v.bitwiseAND(m) != 0, 1).otherwise(-1)
        ),
    )
    return hashed.select(F.col(id_col), votes.alias("_votes"))


def simhash_values(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, sv) — the fingerprint as a single 60-bit integer, so downstream
    hamming distance is one ``bit_count(a XOR b)`` instead of per-character
    string work (the neardup join evaluates it millions of times)."""
    votes = _simhash_votes(docs, text_col=text_col, id_col=id_col)
    masks = _bit_masks()
    value = F.aggregate(
        F.zip_with(F.col("_votes"), masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("bigint"))),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return votes.select(F.col(id_col), value.alias("sv"))


def hamming_distance(a: Column, b: Column) -> Column:
    """Hamming distance between two equal-length bit strings."""
    pairs = F.zip_with(F.split(a, ""), F.split(b, ""), lambda x, y: (x != y).cast("int"))
    return F.aggregate(pairs, F.lit(0), lambda acc, x: acc + x)


def simhash_neardup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    max_block_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on fingerprint quarters (any
    identical quarter → candidate; a pair within hamming ≤ 3 of 60 bits must
    share at least one of 4 quarters by pigeonhole), then exact hamming.

    Hamming is ``bit_count(sv XOR sv)`` on the integer fingerprint —
    evaluated inline on the join output and filtered BEFORE the pair
    ``distinct``, so the dedup shuffle sees only surviving near-dup pairs,
    not every candidate comparison (correlated corpora make quarter blocks
    collide heavily; the candidate set can be 1000× the result set).

    ``max_block_size`` is the frequency-capping guard (same role as
    ``lsh_candidate_pairs(max_bucket_size=...)``): quarter blocks larger
    than the cap are dropped before the self-join, because a block of B
    docs costs B² comparisons — boilerplate corpora measured 2.9 M
    comparisons on 5 k docs uncapped. Capping trades recall ONLY among
    documents sharing an over-common quarter (near-identical boilerplate,
    which exact dedup should claim first); None keeps exact pigeonhole
    semantics and is the oracle-checked default.
    """
    # Materialized once: both sides of the block self-join consume it.
    vals = simhash_values(docs, text_col=text_col).localCheckpoint(eager=False)
    quarter = SIMHASH_BITS // 4
    qmask = (1 << quarter) - 1
    blocks = vals.select(
        "doc_id",
        "sv",
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned(F.col("sv"), i * quarter).bitwiseAND(F.lit(qmask).cast("bigint"))
                for i in range(4)
            ])
        ).alias("q", "qbits"),
    )
    if max_block_size is not None:
        sizes = blocks.groupBy("q", "qbits").agg(F.count(F.lit(1)).alias("_n"))
        keep = sizes.filter(F.col("_n") <= max_block_size).select("q", "qbits")
        blocks = blocks.join(keep, ["q", "qbits"], "semi")
    a, b = blocks.alias("a"), blocks.alias("b")
    return (
        a.join(b, (F.col("a.q") == F.col("b.q")) & (F.col("a.qbits") == F.col("b.qbits")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.sv").bitwiseXOR(F.col("b.sv"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def winnow_fingerprints(
    docs: DataFrame, k: int = 3, w: int = 4, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): k-gram rolling hashes; each window of ``w`` consecutive
    grams selects its minimum hash (rightmost on ties); the distinct
    selections are the document's fingerprint set → (doc_id, fp_hash,
    gram_pos) rows, ~2/(w+1) of the grams.

    Entirely per-row (zero shuffle): gram hashes reuse the 40-bit base-31
    token-hash scheme (dedup.word_shingles), and each selection is encoded
    ``(hash << 20) | gram_pos`` so window argmin, distinct, and decode are
    all integer ops on a flat bigint array. The 20-bit position field caps
    docs at ~1M grams; segment longer documents upstream.
    """
    from .dedup import HASH_MOD, _token_hash40

    toks = F.split(F.col(text_col), " ")
    hashed = docs.select(F.col(id_col), F.transform(toks, _token_hash40).alias("_ht"))
    ht = F.col("_ht")

    def gram(i):  # i is the 1-based start token index
        acc = F.element_at(ht, i)
        for d in range(1, k):
            acc = (acc * 31 + F.element_at(ht, i + d)) % F.lit(HASH_MOD)
        return acc

    grams = F.transform(F.sequence(F.lit(1), F.size(ht) - (k - 1)), gram)
    g = hashed.filter(F.size(ht) >= k + w - 1).select(F.col(id_col), grams.alias("_gm"))
    gm = F.col("_gm")

    def window_min(s):  # s is the 1-based window start gram index
        enc = lambda j: F.shiftleft(F.element_at(gm, j), 20).bitwiseOR(j)
        return F.aggregate(
            F.sequence(s + 1, s + (w - 1)),
            enc(s),
            lambda acc, j: F.when(
                F.shiftright(enc(j), 20) <= F.shiftright(acc, 20), enc(j)
            ).otherwise(acc),
        )

    sels = F.array_distinct(F.transform(F.sequence(F.lit(1), F.size(gm) - (w - 1)), window_min))
    return g.select(F.col(id_col), F.explode(sels).alias("_f")).select(
        F.col(id_col),
        F.shiftright(F.col("_f"), 20).alias("fp_hash"),
        (F.col("_f") % F.lit(1 << 20)).cast("bigint").alias("gram_pos"),
    )


# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation — the
# GPT-2-style pre-split shape, kept to plain character classes so the regex
# means the same thing in Java (Spark) and RE2/PCRE (DuckDB) dialects.
SUBWORD_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def token_counts(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_ws_tokens, n_subword_tokens, subword_ratio) — whitespace
    vs BPE-ish-regex token counts, the standard "how many tokens will this
    cost" estimator run per document, narrow and shuffle-free."""
    toks = F.split(F.col(text_col), " ")
    sub = F.regexp_extract_all(F.col(text_col), F.lit(SUBWORD_PATTERN), 0)
    return docs.select(
        F.col(id_col),
        F.size(toks).cast("bigint").alias("n_ws_tokens"),
        F.size(sub).cast("bigint").alias("n_subword_tokens"),
        (F.size(sub) * F.lit(1.0) / F.size(toks)).alias("subword_ratio"),
    )


def _max_equal_run(arr: Column) -> Column:
    """Longest run of equal adjacent elements in ``arr`` — a left fold
    carrying (prev, current run, best run). Over a SORTED array this is the
    max multiplicity of any value: equal elements are adjacent under any
    total order, so the result is collation-independent (the property that
    lets DuckDB verify it relationally while Spark never shuffles)."""
    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("bigint").alias("run"),
        F.lit(0).cast("bigint").alias("best"),
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("bigint"))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(arr, zero, step, lambda acc: acc["best"])


def repetition_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition metrics per document, entirely narrow (zero
    shuffle): (id, n_tokens, max_token_run, top_bigram_frac,
    dup_bigram_frac, dup_trigram_frac).

    Repetition is the highest-signal cheap quality filter for pretraining
    corpora (Rae et al. 2021 "Gopher" §A.1.1 drop documents whose most
    frequent n-gram exceeds a fraction of the text, or with long identical
    runs). All five metrics come from per-row array ops — gram arrays,
    array_sort, and two equal-run folds — so the operator composes with
    the curation pipeline without adding an exchange, and at 100 TB it is
    a pure map over the corpus scan.

    The top-bigram count is the max equal-run of the SORTED bigram array
    (max multiplicity), not a groupBy — the per-doc state never leaves the
    row. Duplicate-gram fractions are (total - distinct) / total; all
    fractions are NULL when the doc is too short to have grams.

    The token array is materialized as a bound column before any lambda
    references it (HOF lambdas get no CSE — see word_shingles)."""
    toks = F.split(F.col(text_col), " ")
    d = docs.select(F.col(id_col), toks.alias("_tk"))
    tk = F.col("_tk")

    def grams(n):
        return F.when(
            F.size(tk) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - (n - 1)),
                lambda i: F.concat_ws(" ", *[F.element_at(tk, i + j) for j in range(n)]),
            ),
        ).otherwise(F.array().cast("array<string>"))

    d = d.select(F.col(id_col), tk, grams(2).alias("_bg"), grams(3).alias("_tg"))
    bg, tg = F.col("_bg"), F.col("_tg")
    n_bg, n_tg = F.size(bg).cast("bigint"), F.size(tg).cast("bigint")
    top_cnt = _max_equal_run(F.array_sort(bg))
    return d.select(
        F.col(id_col),
        F.size(tk).cast("bigint").alias("n_tokens"),
        F.greatest(_max_equal_run(tk), F.lit(1).cast("bigint")).alias("max_token_run"),
        # integer numerator/denominator alongside the fracs so downstream
        # GATES can compare exactly (16·top ≤ total) instead of flirting
        # with double rounding at the threshold
        top_cnt.alias("top_bigram_cnt"),
        n_bg.alias("n_bigrams"),
        (top_cnt.cast("double") / F.nullif(n_bg, F.lit(0))).alias("top_bigram_frac"),
        ((n_bg - F.size(F.array_distinct(bg))).cast("double") / F.nullif(n_bg, F.lit(0))).alias(
            "dup_bigram_frac"
        ),
        ((n_tg - F.size(F.array_distinct(tg))).cast("double") / F.nullif(n_tg, F.lit(0))).alias(
            "dup_trigram_frac"
        ),
    )


def with_repetition_gate(
    docs: DataFrame, text_col: str = "text", inv_frac: int = 16
) -> DataFrame:
    """Append a boolean ``_rep_gate`` column: True iff the most frequent
    bigram accounts for at most 1/``inv_frac`` of the doc's bigrams —
    the repetition gate as an INTEGER comparison (inv_frac · top ≤ total),
    computed narrowly so funnels can evaluate it inline without the
    groupBy-per-stage recompute a stacked-union formulation pays."""
    toks = F.split(F.col(text_col), " ")
    d = docs.select("*", toks.alias("_tk"))
    tk = F.col("_tk")
    bigrams = F.when(
        F.size(tk) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - 1),
            lambda i: F.concat_ws(" ", F.element_at(tk, i), F.element_at(tk, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    d = d.select("*", bigrams.alias("_bg"))
    gate = _max_equal_run(F.array_sort(F.col("_bg"))) * inv_frac <= F.size(F.col("_bg")).cast(
        "bigint"
    )
    return d.select(*docs.columns, gate.alias("_rep_gate"))


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 32,
    stride: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap →
    (id, chunk_idx, start_tok, n_chunk_tokens, chunk_text).

    The long-document answer for a fixed-context trainer: window starts
    step by ``stride`` (< chunk_tokens ⇒ overlapping context at the
    seams), the tail window may be short, and every token appears in at
    least one chunk. Entirely narrow — a per-row transform + posexplode,
    no shuffle at any scale; chunk ids are (id, chunk_idx), deterministic
    and stable under corpus growth."""
    if not 1 <= stride <= chunk_tokens:
        raise ValueError("stride must be in [1, chunk_tokens] for gapless coverage")
    toks = F.split(F.col(text_col), " ")
    d = docs.select(F.col(id_col), toks.alias("_tk"))
    tk = F.col("_tk")
    # Starts step by stride up to n - chunk + stride: when the last full
    # window doesn't land on the document end, one extra (short) tail
    # window is emitted, so every token is covered; stride ≤ chunk keeps
    # every start ≤ n.
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size(tk) - chunk_tokens + stride, F.lit(1)),
        F.lit(stride),
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("start_tok"),
            F.slice(tk, s, chunk_tokens).alias("_ct"),
        ),
    )
    return d.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "_c")
    ).select(
        F.col(id_col),
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.col("_c.start_tok").cast("bigint").alias("start_tok"),
        F.size(F.col("_c._ct")).cast("bigint").alias("n_chunk_tokens"),
        F.array_join(F.col("_c._ct"), " ").alias("chunk_text"),
    )


def hash_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 90,
    val_pct: int = 5,
) -> DataFrame:
    """Deterministic train/val/test assignment by content-independent hash
    of the id: bucket = first 8 md5 hex chars mod 100. Reproducible across
    engines, runs, and cluster sizes — the property random `sample()` lacks
    — and stable under corpus growth (a document's split never changes when
    other documents are added)."""
    bucket = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    ) % 100
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.withColumn("split", split)


def sorted_run_starts(sorted_col: str):
    """Run-start positions (1-based) of a SORTED array column — the first
    half of the run-length kernel shared by ``tfidf_top_terms``,
    ``hashed_token_features`` and ``streaming.pipeline.score_stream``:
    equal values are adjacent after array_sort, so each run is
    [start, next_start) and per-value counts need no shuffle, no explode,
    no O(n·uniq) membership rescans."""
    return F.when(
        F.size(sorted_col) > 0,
        F.filter(
            F.sequence(F.lit(1), F.size(sorted_col)),
            # greatest() keeps the i=1 probe in-bounds (ANSI element_at
            # throws on index 0, and Or does not guarantee short-circuit)
            lambda i: (i == 1)
            | (
                F.element_at(sorted_col, i)
                != F.element_at(sorted_col, F.greatest(i - 1, F.lit(1)))
            ),
        ),
    ).otherwise(F.array().cast("array<int>"))


def run_length_structs(
    sorted_col: str, starts_col: str, value_alias: str, count_alias: str, value_type: str
):
    """(value, run_length) structs from a sorted array + its run starts —
    the second half of the kernel. Both column operands must be BOUND
    columns (materialized by a prior projection), not inline expressions:
    HOF lambdas get no CSE, so substituting the full sort/starts
    expressions here would re-sort the array once per element_at
    (measured 10× end-to-end in tfidf_top_terms)."""
    return F.when(
        F.size(starts_col) > 0,
        F.transform(
            F.sequence(F.lit(1), F.size(starts_col)),
            lambda j: F.struct(
                F.element_at(sorted_col, F.element_at(starts_col, j)).alias(value_alias),
                (
                    # try_element_at: the LAST run has no next start (ANSI
                    # element_at throws out-of-bounds instead of null)
                    F.coalesce(F.try_element_at(starts_col, j + 1), F.size(sorted_col) + 1)
                    - F.element_at(starts_col, j)
                )
                .cast("bigint")
                .alias(count_alias),
            ),
        ),
    ).otherwise(
        F.array().cast(f"array<struct<{value_alias}:{value_type},{count_alias}:bigint>>")
    )


def tfidf_top_terms(
    docs: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-k characteristic terms per document by tf × (N/df) →
    (doc_id, term, tf, df, score).

    The idf factor is the raw inverse document frequency N/df rather than
    its logarithm: rank order per document is identical (log is monotone)
    and the score stays a single division of two exact integers — the same
    bits in every engine, where log(double) would not be.

    Plan: a document's tokens live in ONE row, so tf needs no shuffle at
    all — terms and their counts come from a run-length scan of the SORTED
    token array (the (doc, term) groupBy of the textbook formulation
    shuffles the entire token stream for information the row already
    holds). Equal tokens are adjacent after array_sort, so run starts are
    the positions where the value changes and each term's count is the gap
    to the next start — O(n log n) per document, vs the O(n·uniq)
    count-by-membership formulation this replaces (measured 3× end-to-end
    at sf0.1: the quadratic term dominated execution). The ONLY shuffle
    in the whole operator is the vocabulary-sized df aggregation
    (map-side combinable); df comes back as a broadcast term→df map and
    scoring + the per-doc top-k happen inside the row (sort + slice of
    the term array), never as a window over the exploded term stream. At
    web scale, if the vocabulary outgrows a broadcast, fall back to a
    shuffled term join with stopword-frequency capping (df≈N terms can
    never be top-k — their score is floored at tf).
    """
    # The shared run-length kernel (sort → run starts → (term, count)
    # structs): _s / _st are materialized as bound columns between
    # projections — see run_length_structs on why. Empty docs are handled
    # INSIDE the expression (empty array → explode emits nothing), NOT
    # with a row filter on size(_st): a pushed-down filter predicate gets
    # the full _st/_s expressions substituted in, with the same no-CSE
    # blowup. sequence(1, 0) would also count DOWN, hence the guards.
    sorted_toks = F.array_sort(
        F.filter(F.split(F.lower(F.col(text_col)), " "), lambda t: t != F.lit(""))
    )
    arr = docs.select(F.col(id_col), sorted_toks.alias("_s"))
    runs = arr.select(F.col(id_col), F.col("_s"), sorted_run_starts("_s").alias("_st"))
    tf_structs = run_length_structs("_s", "_st", "term", "tf", "string")
    # the (term, tf) array feeds BOTH the df aggregation and the scoring
    # pass — materialize it once, in ARRAY form (one row per doc, smaller
    # than the exploded term table it replaces)
    tf_arr = runs.select(F.col(id_col), tf_structs.alias("_tf")).localCheckpoint(eager=False)
    # df is the only aggregation left: explode terms (unique per doc
    # already, so count == document frequency), map-side combine makes the
    # shuffle vocabulary-sized. N rides on the same single packed row.
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    dfm = (
        tf_arr.select(F.explode("_tf.term").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.map_from_entries(F.collect_list(F.struct("term", "df"))).alias("_dfm"))
        .crossJoin(n)
    )
    # Scoring and the per-doc top-k stay INSIDE the row: look each term's
    # df up in the broadcast vocabulary map, sort by (score desc, term
    # asc) — encoded as a struct with -score leading — and slice k. The
    # textbook window over the exploded tf table shuffles the entire term
    # stream for a per-document decision the row can make itself; this
    # formulation's only shuffle is the vocabulary-sized df combine.
    def _scored(t):
        dfv = F.element_at(F.col("_dfm"), t["term"])
        score = (t["tf"] * F.col("n_docs")).cast("double") / dfv.cast("double")
        return F.struct(
            (-score).alias("_o"),
            t["term"].alias("term"),
            t["tf"].alias("tf"),
            dfv.alias("df"),
            score.alias("score"),
        )

    topk = F.slice(F.array_sort(F.transform(F.col("_tf"), _scored)), 1, k)
    return (
        tf_arr.crossJoin(F.broadcast(dfm))
        .select(F.col(id_col), F.explode(topk).alias("_t"))
        .select(id_col, "_t.term", "_t.tf", "_t.df", "_t.score")
    )


def stratified_hash_sample(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.0,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum subsample: keep a row iff
    md5(id) mod 1000 < rate[stratum] × 1000.

    This is how a training mix is rebalanced (e.g. downsample crawl, keep
    all curated text) without an RNG: the keep decision is a pure function
    of the row id, so it is reproducible across runs, engines, retries, and
    cluster sizes, and composes with incremental ingestion (a re-run over
    grown data keeps exactly the old rows plus new ones). Narrow op — no
    shuffle, fully pushdown-friendly.
    """
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast("bigint")
        % 1000
    )
    # round, not truncate: int(0.29 * 1000) == 289 under float representation
    # error, off by one permille bucket vs the documented rate×1000 semantics
    rate = F.lit(int(round(default_rate * 1000)))
    for stratum, r in sorted(rates.items()):
        rate = F.when(F.col(stratum_col) == stratum, F.lit(int(round(r * 1000)))).otherwise(rate)
    return docs.filter(bucket < rate)


def bigram_occurrences(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, w1, w2) — one row per adjacent word pair occurrence. Narrow
    explode; docs with fewer than two words produce no rows.

    Shape matters enormously here: posexplode of a slice + a codegen'd
    element_at for the successor runs ~15× faster than the previous
    transform(sequence(...), i -> struct(element_at…)) — higher-order
    lambdas are evaluated INTERPRETED per element, and this generator
    is the corpus-sized front of every bigram-LM scorer (A/B at sf10,
    26.5M pairs: 9.8 s → 0.67 s for generation alone)."""
    toks = F.split(F.col(text_col), " ")
    return (
        docs.select(F.col(id_col), toks.alias("_t"))
        .select(
            F.col(id_col),
            "_t",
            F.posexplode(
                F.slice(F.col("_t"), 1, F.greatest(F.size("_t") - 1, F.lit(0)))
            ).alias("_p", "w1"),
        )
        .select(
            F.col(id_col), "w1", F.element_at("_t", F.col("_p") + 2).alias("w2")
        )
    )


def lm_bigram_predictability(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 1,
    broadcast_model: bool = True,
) -> DataFrame:
    """Corpus-trained bigram-LM predictability score per document →
    (doc_id, n_bigrams, avg_cond_ppm).

    The KenLM/CCNet quality-filter shape without the external model: the
    LM *is* the corpus's own bigram table. Each bigram occurrence scores
    floor(10⁶ × count(w1,w2) / count(w1·)) — the conditional frequency in
    exact integer ppm — and a document's score is the floor-mean over its
    bigrams. High = predictable/boilerplate, low = unusual; CCNet's
    head/middle/tail perplexity buckets are quantiles over exactly this
    kind of score. Integer arithmetic end to end, so the score is
    hash-identical in any engine (no log-prob float accumulation).

    Scale shape: TWO linear corpus passes — the structural floor when
    the model is trained and applied in one plan (scoring cannot start
    before the last bigram is counted). Pass one builds the model: one
    map-side-combinable aggregate over the bigram occurrences (the
    bigram table; its post-combine shuffle is vocabulary-sized, NOT
    corpus-sized), and the prefix counts DERIVE from it (c1(w1) =
    Σ_w2 c2(w1, w2): every occurrence lands in exactly one bigram
    group — the r5 fix that removed a third full corpus scan). Both
    tables are prunable with ``min_count`` exactly like a real LM's
    cutoff: pruned or unseen bigrams score the 0-ppm smoothing floor
    via left joins. Pass two scores: with ``broadcast_model`` the
    occurrence stream probes two broadcast hash tables — no corpus
    shuffle and no Zipf skew problem (the skewed token keys never
    become a shuffle key) — and the per-doc mean partial-aggregates to
    one row per document before its exchange. Set ``broadcast_model``
    False only if the vocabulary outgrows executor memory; the scoring
    joins then shuffle on token keys and should ride
    ``operators.salted_join``.

    Growth law (sf10 check): O(n) with a measured ratio that CLIMBS
    toward 10× for 10× data as the two passes outgrow the per-query
    floor — ~3 s of the sf1 runtime is session/scan floor, near-none of
    sf10's. A per-row fold over a broadcast bigram→ppm MAP was tried
    and rejected: Spark map lookup is a linear scan of the entries
    (O(|vocab|) per occurrence — measured 2.5× slower end-to-end than
    the broadcast hash join it would replace).

    NOTE (r11, guide §5 "caching is only worth it when recomputing is
    more expensive than the memory pressure it creates"): the occurrence
    stream is NOT materialized between the two passes anymore. The r11
    decomposition at sf10 measured generation of the 26.5M-pair stream
    at ~1.0 s (posexplode + element_at, pure codegen) while the
    localCheckpoint'd form paid 6.5–20.4 s end-to-end (median ~15 s —
    writing 26.5M three-column rows into the block store and reading
    them back, with eviction churn as the variance) vs a stable
    5.1–7.5 s re-deriving per consumer; results bit-identical. A
    run-length fused form (per-doc compressed (bigram, count) arrays)
    was also measured and REJECTED: 2× slower at sf10 (31.6 vs 16.0 s
    same-session) — interpreted HOF evaluation over 26M array elements,
    the same trap bigram_occurrences' own docstring documents.
    """
    occ = bigram_occurrences(docs, text_col=text_col, id_col=id_col)
    c2 = occ.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_n2"))
    c1 = c2.groupBy("w1").agg(F.sum("_n2").alias("_n1"))
    if min_count > 1:
        c2 = c2.filter(F.col("_n2") >= min_count)
        c1 = c1.filter(F.col("_n1") >= min_count)
    hint = F.broadcast if broadcast_model else (lambda d: d)
    scored = (
        occ.join(hint(c2), ["w1", "w2"], "left")
        .join(hint(c1), ["w1"], "left")
        .select(
            F.col(id_col),
            F.coalesce(
                F.expr("(CAST(1000000 AS BIGINT) * _n2) div _n1"), F.lit(0).cast("bigint")
            ).alias("_ppm"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.expr("sum(_ppm) div count(1)").alias("avg_cond_ppm"),
    )
    return (
        docs.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0).cast("bigint")).alias("n_bigrams"),
            "avg_cond_ppm",
        )
    )


def kn_bigram_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_model: bool = True,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram-LM score per document →
    (doc_id, n_bigrams, kn_qlog_sum): the smoothed rung above
    ``lm_bigram_predictability``'s raw conditional frequency — the
    proper scaled-down twin of the KenLM 5-gram perplexity filter
    CCNet/RefinedWeb gate on (Heafield 2011; Kneser & Ney 1995), with
    the corpus as its own LM.

    The probability is the standard interpolated KN at the fixed
    discount d = 3/4::

        P(w2|w1) = (max(c2 - d, 0) + d * N1+(w1,*) * Pcont(w2)) / c1(w1)
        Pcont(w2) = N1+(*,w2) / N1+(*,*)

    cleared of fractions by multiplying through by 4 * N1+(*,*)::

        num = max(4*c2 - 3, 0) * N1all + 3 * N1fw(w1) * N1bw(w2)
        den = 4 * c1(w1) * N1all

    and quantized with the DSIR quarter-bit integer-log kernel —
    q = 1 + (num * 32767) div den (P <= 1 so q <= 32768, q^4 <= 2^60),
    per-occurrence contribution length(bin(q^4)) = floor(4*log2 q) + 1.
    A document's ``kn_qlog_sum`` is the BIGINT sum over its bigram
    occurrences — the fixed-point total log-probability whose quantiles
    are CCNet's head/middle/tail buckets — identical bits in any engine
    (the identity is pinned by TestQuarterBitLogIdentity). NULL for
    docs with fewer than two tokens, like the lm scorer.

    Overflow: int64-exact while c2 * N1all < 7*10^13 (the num * 32767
    product) — comfortable for any single-machine corpus and for
    per-shard models; the widening route past it is DECIMAL(38,0), as
    documented for the mixture planners.

    Scale shape: the same two-pass law as ``lm_bigram_predictability``
    (scoring cannot start before the last bigram is counted). All
    model derivations run on the VOCABULARY-sized c2 table: c1(w1),
    N1+(w1,*), N1+(*,w2) are regroupings of c2 (every occurrence lands
    in exactly one bigram group — no extra corpus scans), N1+(*,*) is
    one scalar broadcast, and the per-bigram lam table joins back to
    the occurrence stream as a broadcast (``broadcast_model=False``
    falls back to a shuffle join for vocabularies past executor
    memory).

    The occurrence stream is re-derived per consumer, not checkpointed
    (r11): generation is ~1 s of codegen at sf10 while materializing the
    corpus-sized stream measured 2–3× the whole query's wall in the lm
    scorer's decomposition (same shape — see lm_bigram_predictability's
    r11 NOTE). The VOCABULARY-sized c2 checkpoint below stays: it feeds
    four model derivations and is tiny by construction."""
    occ = bigram_occurrences(docs, text_col=text_col, id_col=id_col)
    c2 = occ.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n2")
    ).localCheckpoint(eager=False)  # four model derivations below
    c1 = c2.groupBy("w1").agg(F.sum("_n2").cast("bigint").alias("_n1"))
    n1fw = c2.groupBy("w1").agg(F.count(F.lit(1)).cast("bigint").alias("_fw"))
    n1bw = c2.groupBy("w2").agg(F.count(F.lit(1)).cast("bigint").alias("_bw"))
    n1all = c2.agg(F.count(F.lit(1)).cast("bigint").alias("_all"))
    lam = (
        c2.join(c1, "w1")
        .join(n1fw, "w1")
        .join(n1bw, "w2")
        .crossJoin(F.broadcast(n1all))
        .withColumn(
            "_num",
            F.greatest(F.lit(4).cast("bigint") * F.col("_n2") - 3, F.lit(0).cast("bigint"))
            * F.col("_all")
            + F.lit(3).cast("bigint") * F.col("_fw") * F.col("_bw"),
        )
        .withColumn("_den", F.lit(4).cast("bigint") * F.col("_n1") * F.col("_all"))
        .withColumn("_q", F.expr("CAST(1 AS BIGINT) + (_num * 32767) div _den"))
        .select(
            "w1",
            "w2",
            F.length(F.bin(F.col("_q") * F.col("_q") * F.col("_q") * F.col("_q")))
            .cast("bigint")
            .alias("_lam"),
        )
    )
    hint = F.broadcast if broadcast_model else (lambda d: d)
    agg = (
        occ.join(hint(lam), ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("_lam").cast("bigint").alias("kn_qlog_sum"),
        )
    )
    return (
        docs.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0).cast("bigint")).alias("n_bigrams"),
            "kn_qlog_sum",
        )
    )


# Default C4-style blocklist; callers pass their own (the registered query
# uses corpus-vocabulary words so the rule path is exercised by testdata).
C4_BAD_WORDS: tuple[str, ...] = ("javascript", "lorem", "ipsum")


def c4_flag_exprs(
    text_col: str = "text",
    min_words: int = 20,
    max_words: int = 100000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    bad_words: tuple[str, ...] = C4_BAD_WORDS,
    chunk_words: int = 20,
) -> dict[str, Column]:
    """The C4 rule battery as named Column expressions over ``text_col`` —
    the ONE definition both the batch operator (``c4_rule_flags``) and the
    streaming curation pass (``streaming.pipeline.curate_stream``) select
    from, so the two faces cannot drift apart (the band_keys_expr rule)."""
    text = F.col(text_col)
    toks = F.split(text, " ")
    n_words = F.size(toks)
    mean_wl = (F.length(text) - (n_words - 1)) * F.lit(1.0) / n_words
    bad = F.array(*[F.lit(w) for w in bad_words])
    chunks = F.transform(
        F.sequence(F.lit(0), F.ceil(n_words / F.lit(float(chunk_words))).cast("int") - 1),
        lambda i: F.array_join(F.slice(toks, i * chunk_words + 1, chunk_words), " "),
    )
    f_short = n_words < min_words
    f_long = n_words > max_words
    f_wl = (mean_wl < min_mean_word_len) | (mean_wl > max_mean_word_len)
    f_bad = F.size(F.array_intersect(toks, bad)) > 0
    f_dup = F.size(F.array_distinct(chunks)) < F.size(chunks)
    return {
        "f_too_short": f_short,
        "f_too_long": f_long,
        "f_word_len": f_wl,
        "f_bad_word": f_bad,
        "f_dup_chunk": f_dup,
        "keep": ~(f_short | f_long | f_wl | f_bad | f_dup),
    }


def c4_rule_flags(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 20,
    max_words: int = 100000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    bad_words: tuple[str, ...] = C4_BAD_WORDS,
    chunk_words: int = 20,
) -> DataFrame:
    """C4-style rule filters as per-rule boolean flags + a keep verdict →
    (doc_id, f_too_short, f_too_long, f_word_len, f_bad_word,
    f_dup_chunk, keep).

    Where ``quality_score`` produces graded features for threshold tuning,
    this is the C4 lineage's hard rule battery: word-count band, mean
    word-length band, blocklist hit, and the repeated-paragraph rule
    (here: any repeated ``chunk_words``-word chunk WITHIN the document,
    the narrow single-doc sibling of ``dedup.chunk_dedup_docs``). Keeping
    each rule's flag visible (instead of only the verdict) is what makes
    the filter auditable: per-rule rejection rates are one groupBy away.

    Entirely narrow — token/array folds per row, zero shuffle, a pure map
    over the corpus scan at any scale. Mean word length divides two exact
    integers in double precision (identical bits in any IEEE engine).
    """
    exprs = c4_flag_exprs(
        text_col=text_col,
        min_words=min_words,
        max_words=max_words,
        min_mean_word_len=min_mean_word_len,
        max_mean_word_len=max_mean_word_len,
        bad_words=bad_words,
        chunk_words=chunk_words,
    )
    return docs.select(F.col(id_col), *[v.alias(k) for k, v in exprs.items()])


def weighted_bernoulli_sample(
    docs: DataFrame,
    target_rows: int,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic size-weighted Bernoulli sample: row i kept with
    probability min(1, target_rows × w_i / ΣW) — expected sample size
    ``target_rows``, long documents proportionally more likely, decision a
    pure function of the row id (reproducible across runs, engines,
    retries, and cluster sizes, like ``stratified_hash_sample``).

    This is the token-budget sampler of a training-mix builder: sampling
    ∝ length approximates uniform-over-TOKENS sampling while drawing
    whole documents. All arithmetic is exact integer (ppm rate from a
    single BIGINT integer division; md5 bucket gate), so the selection is
    hash-identical in any engine — no float rounding at the boundary.
    Plan shape: one count/sum aggregate to a 1-row table, broadcast back
    over the corpus, then a narrow filter — the corpus itself never
    shuffles. Exact-size (not expected-size) sampling needs a global sort
    by the hash key instead; this form is the one that scales.

    Overflow bound: 10^6 × target_rows × max(w) must stay under 2^63 —
    holds for any realistic corpus (10^8 target × 10^6-char docs = 10^20
    would overflow; cap target_rows or pre-scale weights there).
    """
    tot = docs.agg(F.sum(F.col(weight_col).cast("bigint")).alias("_wtot"))
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast("bigint")
        % 1000000
    )
    ppm = F.least(
        F.lit(1000000).cast("bigint"),
        F.expr(
            f"(CAST(1000000 AS BIGINT) * {int(target_rows)} * CAST({weight_col} AS BIGINT)) div _wtot"
        ),
    )
    return (
        docs.crossJoin(F.broadcast(tot))
        .withColumn("keep_ppm", ppm)
        .filter(bucket < F.col("keep_ppm"))
        .drop("_wtot")
    )


# PII patterns kept to ASCII character classes + bounded quantifiers so the
# regex means the same thing in Java (Spark) and RE2 (DuckDB) dialects —
# the same portability rule as SUBWORD_PATTERN. Dict order IS redaction
# order (email first: an address would otherwise leave its user part
# behind after an overlapping rule fired).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}-[0-9]{2,4}",
}


def redact_pii(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """PII scrubbing → (id, redacted, n_<kind> per pattern).

    A pretraining corpus is scrubbed of emails/IPs/phone numbers before
    training (alongside dedup and decontamination); this is the standard
    regex pass: per pattern, count matches (pre-redaction) then replace
    every occurrence with the uppercase kind token (``<EMAIL>`` …).
    Entirely narrow — regexp_count + regexp_replace chains, zero shuffle,
    a pure map over the corpus scan at any scale. Patterns apply in dict
    order on the progressively redacted text, so counts are with respect
    to the text as the EARLIER rules left it — deterministic and
    engine-portable (all patterns are dialect-neutral ASCII classes).
    """
    pats = patterns or PII_PATTERNS
    cur = docs.select(F.col(id_col), F.col(text_col).alias("_red"))
    done: list[str] = []
    for kind, pat in pats.items():
        cur = cur.select(
            F.col(id_col),
            *[F.col(f"n_{k}") for k in done],
            F.regexp_count(F.col("_red"), F.lit(pat)).cast("bigint").alias(f"n_{kind}"),
            F.regexp_replace(F.col("_red"), pat, f"<{kind.upper()}>").alias("_red"),
        )
        done.append(kind)
    return cur.select(
        F.col(id_col),
        F.col("_red").alias("redacted"),
        *[F.col(f"n_{k}") for k in done],
    )


def temperature_rebalance(
    docs: DataFrame,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-flattened mixture sampling (T=2, i.e. α=1/2): keep each
    stratum at rate sqrt(n_min / n_s), so post-sample stratum sizes are
    ∝ sqrt(n_s) — dominant sources are flattened toward the tail, the
    standard multilingual/multi-source training-mix adjustment (the
    "sampling temperature" of multilingual pretraining recipes), with the
    smallest stratum kept whole.

    Unlike ``stratified_hash_sample`` the rates are DATA-DEPENDENT (derived
    from the stratum counts), yet everything stays deterministic and
    engine-portable: the keep decision is md5-bucket < floor(1000·sqrt(
    n_min/n_s)), and sqrt/division are IEEE-correctly-rounded in every
    engine — no pow(), whose last-ulp differences could flip a boundary
    row. Plan: one map-side-combinable count per stratum, a 1-row min
    broadcast over it, a broadcast rate join back (stratum cardinality ≈
    languages/sources, always tiny), then the narrow hash gate — the
    corpus itself never shuffles.

    A NULL stratum (e.g. missing lang tag) is its own stratum, not a
    dropped one: groupBy keeps the null group and the rate join back is
    NULL-SAFE, so untagged documents are rebalanced like any other source
    rather than silently lost (r3 advice).
    """
    counts = docs.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("_ns"))
    # counts (#strata rows) feeds both the min and the rate join — cut so
    # the corpus count pass runs once, not once per consumer
    counts = _make_lineage_cut(_default_ckpt_dir())(counts, eager=False)
    nmin = counts.agg(F.min("_ns").alias("_nmin"))
    rates = counts.crossJoin(F.broadcast(nmin)).select(
        F.col(stratum_col).alias("_stratum"),
        F.floor(F.sqrt(F.col("_nmin") * F.lit(1.0) / F.col("_ns")) * 1000)
        .cast("bigint")
        .alias("_permille"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast("bigint")
        % 1000
    )
    return (
        docs.join(
            F.broadcast(rates), F.col(stratum_col).eqNullSafe(F.col("_stratum"))
        )
        .filter(bucket < F.col("_permille"))
        .drop("_stratum", "_permille")
    )


def _postings_capped_fingerprints(
    docs: DataFrame,
    k: int,
    w: int,
    max_postings: int | None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The postings-capped fingerprint index — distinct (id, fp_hash)
    minus fingerprints hotter than ``max_postings`` (one df aggregate +
    a semi join on the uniform hash key). Split out so the plan gate can
    assert the guard structurally (``winnow_overlap_pairs`` checkpoints
    the result, truncating the visible plan)."""
    fps = (
        winnow_fingerprints(docs, k=k, w=w, text_col=text_col, id_col=id_col)
        .select(F.col(id_col), "fp_hash")
        .distinct()
    )
    if max_postings is not None:
        from .dedup import _observe_cap_drops

        hot = _observe_cap_drops(
            fps.groupBy("fp_hash").agg(F.count(F.lit(1)).alias("_n")),
            F.col("_n") > max_postings,
            f"winnow postings-cap({max_postings})",
        )
        fps = fps.join(
            hot.filter(F.col("_n") <= max_postings).select("fp_hash"), "fp_hash", "semi"
        )
    return fps


def winnow_overlap_pairs(
    docs: DataFrame,
    min_shared: int = 5,
    k: int = 3,
    w: int = 4,
    max_postings: int | None = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring-level near-dup pairs: documents sharing ≥ ``min_shared``
    winnowing fingerprints → (doc_a, doc_b, n_shared, containment).

    Whole-document similarity (shingle Jaccard, SimHash, cosine) dilutes a
    copied PARAGRAPH inside an otherwise unrelated document below any
    usable threshold; winnowing guarantees any shared run of ≥ w+k-1
    tokens yields at least one shared fingerprint (SIGMOD'03), so shared-
    fingerprint count is a direct substring-overlap signal. containment =
    shared / min(|fps_a|, |fps_b|) normalizes for the smaller document.

    The pair join is an inverted index on the fingerprint hash — uniform
    40-bit integers, skew-free for distinct content. ``max_postings``
    (ON by default) drops fingerprints appearing in more documents than
    the cap before the self-join AND before the containment sizes — the
    frequency guard boilerplate corpora need: a fingerprint in B docs
    emits B²/2 pairs, and the uncapped form was a measured 240 s sf10
    growth-check timeout on low-entropy data. A fingerprint shared by
    >``max_postings`` documents is boilerplate, not copy evidence; pairs
    whose overlap is ONLY boilerplate drop out by design.
    ``max_postings=None`` is the uncapped exact form, quadratic on
    boilerplate-heavy data.
    """
    fps = _postings_capped_fingerprints(
        docs, k=k, w=w, max_postings=max_postings, text_col=text_col, id_col=id_col
    )
    fps = fps.localCheckpoint(eager=False)  # three consumers below
    sizes = fps.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_fp"))
    a = fps.select(F.col(id_col).alias("doc_a"), "fp_hash")
    b = fps.select(F.col(id_col).alias("doc_b"), "fp_hash")
    pairs = (
        a.join(b, "fp_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_fp").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_fp").alias("n_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            (F.col("n_shared") * F.lit(1.0) / F.least("n_a", "n_b")).alias("containment"),
        )
    )


def epoch_shuffle(
    docs: DataFrame,
    epoch: int,
    n_shards: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic training-order shuffle → (id, shard, pos): a
    reproducible random permutation of the corpus for one training epoch,
    without an RNG and without a global sort.

    The permutation key is md5(epoch:id) — changing the epoch reshuffles
    everything, re-running does not. Shard = key mod n_shards (uniform),
    position = rank of the key WITHIN the shard, so ordering is a
    per-shard window over ~|corpus|/n_shards rows, never a single
    range-partitioned global sort: at 100 TB each shard becomes one
    training-data file written independently. Ties cannot occur (the key
    is suffixed with the unique id)."""
    key = F.md5(F.concat_ws(":", F.lit(epoch).cast("string"), F.col(id_col).cast("string")))
    shard = (
        F.conv(F.substring(key, 1, 8), 16, 10).cast("bigint") % n_shards
    )
    w = Window.partitionBy("shard").orderBy("key")
    return (
        docs.select(F.col(id_col), key.alias("key"), shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select(id_col, "shard", "pos")
    )


def quality_deciles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Curriculum binning → (id, quality, decile 1..10): rank documents by
    a deterministic quality score (mean token length × stopword presence —
    any monotone score works; this one is integer-exact) and cut into ten
    equal-frequency bins with ntile. Curriculum schedules feed high-decile
    bins first; the tie-break on id makes the binning a total order, so
    the decile of every row is reproducible across engines and runs.

    ntile needs a global order: at 100 TB this becomes a range partition
    (Spark's rangepartitioning exchange) — the one intentionally global
    operator here, run once per corpus snapshot, not per query."""
    n_chars = F.length(F.col(text_col)) - (F.size(F.split(F.col(text_col), " ")) - 1)
    # floor of a double ratio, NOT a double→bigint cast: Spark's cast
    # truncates where DuckDB's rounds; floor means the same thing in both.
    quality = F.floor((n_chars * F.lit(1000)) / F.size(F.split(F.col(text_col), " "))).cast(
        "bigint"
    )
    w = Window.orderBy(F.desc("quality"), F.col(id_col))
    return (
        docs.select(F.col(id_col), quality.alias("quality"))
        .withColumn("decile", F.ntile(10).over(w).cast("bigint"))
    )


def bpe_train_merges(
    docs: DataFrame,
    n_merges: int = 4,
    text_col: str = "text",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Byte-pair-encoding merge training over the corpus →
    (rank, merge_left, merge_right, pair_count): the first ``n_merges``
    BPE merges (Sennrich et al. 2016), trained exactly.

    Each round counts adjacent symbol pairs over the (frequency-weighted)
    word vocabulary, takes the argmax pair (ties: lexicographic on the
    pair — fully deterministic), and rewrites every word's symbol array
    with a greedy left-to-right merge fold. Everything stays in-plan: the
    1-row argmax broadcasts onto the vocabulary (no ``collect`` round
    trips), and each round's symbol table takes a lineage cut like the
    other iterative kernels (Lloyd, connected components).

    Scale shape: the corpus is touched ONCE (word-frequency aggregate);
    every round thereafter runs over the distinct-word vocabulary —
    orders of magnitude smaller than the corpus and independent of its
    size. Pair counting explodes ~|word| rows per vocab entry, the count
    groupBy keys on symbol pairs (bounded alphabet), and the argmax is a
    TakeOrdered(1). Overlapping occurrences count like classic BPE's
    get_stats; the merge fold is the classic greedy scan.
    """
    from ..checkpointing import make_lineage_cut

    cut = make_lineage_cut(checkpoint_dir)
    words = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    syms = words.select("word", "freq", F.split(F.col("word"), "").alias("syms"))

    def adjacent_pairs(col):
        return F.when(
            F.size(col) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(col) - 1),
                lambda i: F.struct(
                    F.element_at(col, i).alias("l"), F.element_at(col, i + 1).alias("r")
                ),
            ),
        ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))

    merge_rows = []
    for rank in range(1, n_merges + 1):
        syms = cut(syms, eager=False)
        pairs = (
            syms.select(F.explode(adjacent_pairs(F.col("syms"))).alias("_p"), "freq")
            .groupBy(F.col("_p.l").alias("_l"), F.col("_p.r").alias("_r"))
            .agg(F.sum("freq").alias("_c"))
        )
        best = pairs.orderBy(F.desc("_c"), F.col("_l"), F.col("_r")).limit(1)
        merge_rows.append(
            best.select(
                F.lit(rank).cast("bigint").alias("rank"),
                F.col("_l").alias("merge_left"),
                F.col("_r").alias("merge_right"),
                F.col("_c").cast("bigint").alias("pair_count"),
            )
        )
        merged = F.concat(F.col("_l"), F.col("_r"))
        fold = F.aggregate(
            F.expr("slice(syms, 2, greatest(size(syms) - 1, 0))"),
            F.array(F.element_at(F.col("syms"), 1)),
            lambda acc, x: F.when(
                (F.element_at(acc, -1) == F.col("_l")) & (x == F.col("_r")),
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        syms = syms.crossJoin(F.broadcast(best.select("_l", "_r"))).select(
            "word", "freq", fold.alias("syms")
        )

    out = merge_rows[0]
    for m in merge_rows[1:]:
        out = out.unionByName(m)
    return out


def bpe_token_counts(
    docs: DataFrame,
    n_merges: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Train ``n_merges`` BPE merges on the corpus and ENCODE it →
    (doc_id, n_words, n_tokens_bpe): per-document token counts under the
    learned tokenizer — the encode half of BPE, and the tokenizer-aware
    length metric a packing/budgeting stage actually needs (whitespace
    token counts over- or under-state sequence length once a tokenizer
    merges).

    The trainer's final symbol table IS the encoded vocabulary (the loop
    rewrites after every recorded merge), so encoding is one broadcast
    join of word occurrences against the vocabulary — the corpus is
    scanned once for training and once for encoding, and the per-word
    symbol arrays never exceed vocabulary size.
    """
    from ..checkpointing import make_lineage_cut

    # retrain inline (same loop as bpe_train_merges) keeping the final syms
    cut = make_lineage_cut(checkpoint_dir)
    words = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    syms = words.select("word", "freq", F.split(F.col("word"), "").alias("syms"))

    def adjacent_pairs(col):
        return F.when(
            F.size(col) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(col) - 1),
                lambda i: F.struct(
                    F.element_at(col, i).alias("l"), F.element_at(col, i + 1).alias("r")
                ),
            ),
        ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))

    for _rank in range(1, n_merges + 1):
        syms = cut(syms, eager=False)
        pairs = (
            syms.select(F.explode(adjacent_pairs(F.col("syms"))).alias("_p"), "freq")
            .groupBy(F.col("_p.l").alias("_l"), F.col("_p.r").alias("_r"))
            .agg(F.sum("freq").alias("_c"))
        )
        best = pairs.orderBy(F.desc("_c"), F.col("_l"), F.col("_r")).limit(1)
        # a fully-merged vocabulary (no pairs left) must leave syms intact,
        # not annihilate it through an empty cross join: fall back to a
        # NUL sentinel pair no token can match (the fold becomes a no-op)
        sentinel = syms.sparkSession.range(1).select(
            F.lit("\x00").alias("_l"), F.lit("\x00").alias("_r"), F.lit(1).alias("_pri")
        )
        pick = (
            best.select("_l", "_r", F.lit(0).alias("_pri"))
            .unionByName(sentinel)
            .orderBy("_pri")
            .limit(1)
            .drop("_pri")
        )
        merged = F.concat(F.col("_l"), F.col("_r"))
        fold = F.aggregate(
            F.expr("slice(syms, 2, greatest(size(syms) - 1, 0))"),
            F.array(F.element_at(F.col("syms"), 1)),
            lambda acc, x: F.when(
                (F.element_at(acc, -1) == F.col("_l")) & (x == F.col("_r")),
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        syms = syms.crossJoin(F.broadcast(pick)).select(
            "word", "freq", fold.alias("syms")
        )

    vocab = syms.select("word", F.size("syms").alias("_n_syms"))
    occ = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("word")
    ).filter(F.length("word") > 0)
    counts = (
        occ.join(F.broadcast(vocab), "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("_n_syms").alias("n_tokens_bpe"),
        )
    )
    return (
        docs.select(id_col)
        .join(counts, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_words", F.lit(0).cast("bigint")).alias("n_words"),
            F.coalesce("n_tokens_bpe", F.lit(0).cast("bigint")).alias("n_tokens_bpe"),
        )
    )



def hashed_token_features(
    docs: DataFrame,
    n_buckets: int = 1024,
    rate_scale: int | None = 1 << 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Feature-hashed bag of words → (id, bucket, cnt, rate): each token
    occurrence lands in ``_token_hash40(tok) % n_buckets`` (the md5-derived
    40-bit hash the dedup family shares, so any engine reproduces the
    bucketing). ``rate`` is the fixed-point occurrence RATE
    ``floor(cnt·rate_scale / n_tokens)`` — length-normalized, so documents
    of different sizes are comparable (a linear model over raw counts is
    dominated by document length; measured: the count-space classifier
    sits at chance while the rate-space one reaches 0.93). The
    fastText/VW "hashing trick": fixed dimensionality regardless of
    vocabulary, no dictionary to build or ship.

    The floor is EXACT in either engine: the numerator is ≤ 2^40 and the
    true quotient is ≤ rate_scale, so a double division's rounding error
    (≤ quotient·2^-53) can never cross an integer boundary for any
    document under ~2^33 tokens — and DuckDB's integer ``//`` is exact by
    definition.

    Scale: ZERO shuffle — a document's tokens live in one row, so the
    per-doc bucket counts come from a run-length scan of the SORTED
    hashed-bucket array (the same kernel as tfidf_top_terms: equal
    values are adjacent after array_sort, run starts are the change
    positions, each count is the gap to the next start). The (id,
    bucket) groupBy this replaces shuffled the entire token stream —
    ~10⁸ rows at the sf10 rehearsal scale — for information the row
    already holds, and was the named cause of the classifier family's
    5.1×-for-10× growth ratio (fixed r5). Downstream aggregates
    (per-bucket training sums, per-doc scores) partial-aggregate the
    exploded runs back to ≤n_buckets / ≤n_docs rows before any
    exchange."""
    from .dedup import _token_hash40

    toks = F.split(F.col(text_col), " ")
    # the shared run-length kernel; _s / _st materialize as bound columns
    # between projections (see run_length_structs)
    arr = docs.select(
        F.col(id_col),
        F.size(toks).cast("bigint").alias("_ntok"),
        F.array_sort(
            F.transform(toks, lambda t: _token_hash40(t) % F.lit(n_buckets))
        ).alias("_s"),
    )
    runs = arr.select(
        F.col(id_col), "_ntok", F.col("_s"), sorted_run_starts("_s").alias("_st")
    )
    bucket_counts = run_length_structs("_s", "_st", "bucket", "cnt", "bigint")
    g = runs.select(F.col(id_col), "_ntok", F.explode(bucket_counts).alias("_b")).select(
        F.col(id_col),
        F.col("_b.bucket").alias("bucket"),
        F.col("_b.cnt").alias("cnt"),
        "_ntok",
    )
    if rate_scale is None:
        return g.select(id_col, "bucket", "cnt")
    return g.select(
        F.col(id_col),
        F.col("bucket"),
        F.col("cnt"),
        F.floor((F.col("cnt") * F.lit(rate_scale)) / F.col("_ntok"))
        .cast("bigint")
        .alias("rate"),
    )


def stopword_ratio_label(
    docs: DataFrame,
    threshold_pct: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Weak quality label → (id, y ∈ {+1, -1}): +1 when the stopword ratio
    is ≥ threshold_pct % of tokens. The compare is INTEGER cross-multiplied
    (100·n_stop ≥ pct·n_tok) — no float ratio, so the label is
    bit-identical in any engine. This is the rule-based gate the
    distilled classifier (train_token_centroid) learns to reproduce from
    bag-of-words evidence alone — the CCNet/fastText pattern of
    distilling an expensive or rule-based judgment into a cheap linear
    scorer."""
    toks = F.split(F.col(text_col), " ")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    y = F.when(
        F.lit(100) * n_stop >= F.lit(threshold_pct) * F.size(toks), F.lit(1)
    ).otherwise(F.lit(-1))
    return docs.select(F.col(id_col), y.cast("bigint").alias("y"))


def train_token_centroid(
    train_feats: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    label_col: str = "y",
) -> DataFrame:
    """Train a linear text classifier IN-PLAN, closed form → weight table
    (bucket, w): the Rocchio / nearest-centroid direction over fixed-point
    token rates, w[b] = ⌊Σ₊rate/n₊⌋ − ⌊Σ₋rate/n₋⌋ (mean positive rate
    minus mean negative rate, per bucket). Every quantity is an INTEGER —
    training is bit-deterministic across engines and partitionings and
    the whole composition has an exact one-shot relational oracle.

    Why closed form and not an iterative perceptron: the batch
    perceptron (all misclassified docs update at once) was measured to
    period-2 oscillate at chance accuracy on this shape — the textbook
    pathology of full-batch unit-lr updates — while the online variant
    that does converge is inherently sequential. The centroid direction
    needs no iteration, reaches 0.91/0.93 accuracy (sf0.01/sf0.1) on the
    stopword-gate distillation task, and its margins are scale-stable:
    |w| ≤ rate_scale, so scores stay ≪ 2^63 at any corpus size (an
    unnormalized Σ±rate direction overflows int64 near ~6k documents).
    The higher-accuracy scale path is parameter-mixed ONLINE perceptrons
    (per-partition sequential passes, summed — McDonald et al. 2010);
    that trades the relational oracle for accuracy and is intentionally
    not the default.

    ``labels`` must cover exactly the training population ((id, ±1) — a
    single-class input yields the degenerate all-zero / one-sided
    direction, guarded to avoid a division error).

    Scale (100 TB): one feature scan → per-bucket conditional sums (≤
    n_buckets groups, map-side combinable), one 1-row class-count
    aggregate broadcast into the ≤ n_buckets-row weight projection. No
    iteration, no driver-side math, no collect."""
    f = train_feats.join(labels, id_col)
    cls = labels.agg(
        F.sum(F.when(F.col(label_col) == 1, 1).otherwise(0)).cast("bigint").alias("_np"),
        F.sum(F.when(F.col(label_col) == -1, 1).otherwise(0)).cast("bigint").alias("_nn"),
    )
    sums = f.groupBy("bucket").agg(
        F.sum(F.when(F.col(label_col) == 1, F.col("rate")).otherwise(0))
        .cast("bigint")
        .alias("_sp"),
        F.sum(F.when(F.col(label_col) == -1, F.col("rate")).otherwise(0))
        .cast("bigint")
        .alias("_sn"),
    )
    return sums.crossJoin(F.broadcast(cls)).select(
        "bucket",
        (
            F.floor(F.col("_sp") / F.greatest(F.col("_np"), F.lit(1)))
            - F.floor(F.col("_sn") / F.greatest(F.col("_nn"), F.lit(1)))
        )
        .cast("bigint")
        .alias("w"),
    )


def score_token_linear(
    feats: DataFrame, weights: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Score documents under a trained weight table → (id, score, pred):
    integer margin Σ rate·w and its sign (+1/-1, ties negative). The
    ≤ n_buckets-row weight table broadcasts; scoring is one feature scan
    + a per-doc sum — the shape that lets one trained model gate a
    100 TB corpus in a single pass."""
    return (
        feats.join(F.broadcast(weights), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("rate") * F.coalesce(F.col("w"), F.lit(0)))
            .cast("bigint")
            .alias("score")
        )
        .withColumn(
            "pred",
            F.when(F.col("score") > 0, F.lit(1)).otherwise(F.lit(-1)).cast("bigint"),
        )
    )


def train_token_perceptron_mixed(
    train_feats: DataFrame,
    labels: DataFrame,
    n_rounds: int = 3,
    n_shards: int = 8,
    n_buckets: int = 1024,
    id_col: str = "doc_id",
    label_col: str = "y",
    feat_col: str = "rate",
) -> DataFrame:
    """The ACCURACY scale path for the linear quality classifier:
    iterative parameter mixing (McDonald et al. 2010, "Distributed
    Training Strategies for the Structured Perceptron") → weight table
    (bucket, w). Each round runs a sequential ONLINE perceptron pass
    independently inside every shard (the variant that converges, unlike
    the full-batch rule — see train_token_centroid's docstring for the
    measured period-2 oscillation), then floor-averages the shard
    weights and feeds the mix back as the next round's init. Measured on
    the stopword-gate distillation task: 0.94 vs the closed-form
    centroid's 0.91 at sf0.01.

    Deterministic by construction — and therefore reproducible on any
    cluster layout: shard membership is CONTENT-keyed (md5(id) mod
    n_shards, never partition ids), the in-shard visit order is the
    explicit id sort, and all arithmetic is integer (numpy int64 in the
    Arrow-batched pass, floor division in the mix). Sequential state
    makes this non-SQL-expressible, so unlike the centroid trainer it
    has no relational oracle — its gates are the determinism and
    accuracy pytests.

    Scale (100 TB): one applyInPandas pass per round over
    (shard)-grouped features — n_shards-way parallel, each shard's
    feature slice must fit a worker (size n_shards ≈ corpus/worker_mem;
    more shards = more parallelism, slightly slower convergence). The
    ≤ n_buckets-row mix crosses the driver between rounds as a model
    artifact (same contract as streaming.score_stream). Weights
    interoperate with score_token_linear / score_stream unchanged."""
    import pandas as pd  # noqa: F401  (worker-side dependency, imported eagerly to fail fast)

    f = (
        train_feats.join(labels, id_col)
        .select(
            F.col(id_col).alias("_id"),
            F.col("bucket"),
            F.col(feat_col).alias("_v"),
            F.col(label_col).alias("_y"),
            (
                F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
                .cast("bigint")
                % F.lit(n_shards)
            ).alias("_shard"),
        )
        .localCheckpoint(eager=False)  # consumed once per round
    )
    spark = train_feats.sparkSession
    w: dict[int, int] = {}
    for _ in range(n_rounds):
        w_init = dict(w)

        def make_local_pass(_w0):
            # single-parameter closure: a two-parameter function would be
            # called by applyInPandas as (group_key, pdf)
            def local_pass(pdf):
                import numpy as np
                import pandas as pd

                wl = np.zeros(n_buckets, dtype=np.int64)
                for b, wv in _w0.items():
                    wl[b] = wv
                # Visit order is the sorted _id sequence; within a document
                # the rows feed a sum and an add.at — both order-free — so
                # a stable argsort + boundary slices computes EXACTLY what
                # the previous per-group pandas iteration did, minus the
                # ~100 µs/doc of DataFrame construction per group (the
                # sequential pass is the shard's whole wall time).
                ids = pdf["_id"].to_numpy()
                if ids.size:
                    order = np.argsort(ids, kind="stable")
                    ids = ids[order]
                    buckets = pdf["bucket"].to_numpy(dtype=np.int64)[order]
                    vals = pdf["_v"].to_numpy(dtype=np.int64)[order]
                    ys = pdf["_y"].to_numpy(dtype=np.int64)[order]
                    starts = np.flatnonzero(np.r_[True, ids[1:] != ids[:-1]])
                    ends = np.r_[starts[1:], ids.size]
                    for s, e in zip(starts, ends):
                        yb = int(ys[s])
                        idxs = buckets[s:e]
                        vs = vals[s:e]
                        if yb * int((wl[idxs] * vs).sum()) <= 0:
                            np.add.at(wl, idxs, yb * vs)
                nz = np.nonzero(wl)[0]
                return pd.DataFrame({"bucket": nz.astype("int64"), "w": wl[nz]})

            return local_pass

        local_pass = make_local_pass(w_init)

        mixed = (
            f.groupBy("_shard")
            .applyInPandas(local_pass, "bucket bigint, w bigint")
            .groupBy("bucket")
            .agg(F.sum("w").alias("w"))
        )
        # floor-average (Python // floors like the numpy prototype)
        w = {int(r["bucket"]): int(r["w"]) // n_shards for r in mixed.collect()}
    out = [(b, wv) for b, wv in sorted(w.items()) if wv != 0]
    return spark.createDataFrame(out or [(0, 0)], "bucket bigint, w bigint")


def dsir_importance_weights(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    n_buckets: int = 1024,
    prob_bits: int = 15,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style hashed importance weights (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling") →
    (id, n_tokens, dsir_score): score(d) = Σ_b cnt_b·(L_target[b] −
    L_raw[b]) over feature-hashed unigram buckets — the log-likelihood
    ratio of the document under a hashed bag-of-words model of the
    TARGET distribution (the quality corpus you want more of) vs the RAW
    distribution (the crawl you are selecting from). Selecting the
    top-weighted documents tilts the raw corpus toward the target domain
    without training a classifier.

    Exactness: the log never evaluates as a transcendental — it is
    QUANTIZED TO QUARTER BITS through pure integer arithmetic so the
    whole operator replays as an exact relational oracle (log(double)
    is not ULP-portable across engines; same discipline as
    tfidf_top_terms). Bucket probabilities quantize to prob_bits-bit
    fixed point, Laplace-smoothed:

        P = 1 + ((cnt+1)·(2^prob_bits − 1)) div (total + n_buckets)

    and  floor(4·log2 P) + 1  ==  length(bin(P⁴))  — P ≤ 2^15 keeps P⁴
    inside int64, and bin()/length() are exact string ops in any engine.
    λ_b = L_t[b] − L_r[b] is the per-bucket log ratio in quarter-log2
    units; the integer `div` operator (not `/`, whose double quotient
    loses exactness past 2^53) keeps every step engine-portable.

    Scale (100 TB): the target sample is small by construction; both
    distributions are ≤ n_buckets-row aggregates fed by the zero-shuffle
    run-length kernel (a document's bucket counts come from sorting the
    hashed tokens IN the row — see hashed_token_features), map-side
    combined down to ≤ n_buckets rows before the only exchanges. The λ
    table broadcasts as a map and scoring is an in-row fold — the raw
    corpus is scanned once, its text never shuffles, and the score
    output is one bigint per document.
    """
    # The raw side feeds BOTH the distribution estimate and the scoring
    # pass — materialize the (small) run-length form once, not the text.
    # The checkpoint barrier also stops the `size(_bc) > 0` filter that
    # Generate infers for an ATTRIBUTE generator from predicate-pushing
    # below this projection — pushed, it inlines the full _s/_st
    # expressions (HOF lambdas get no CSE), re-hashing and re-sorting
    # every document once per element_at: measured as a 250 s straggler
    # at sf0.01. The target side (inside dsir_lambda_table) explodes the
    # run-length EXPRESSION directly (the hashed_token_features shape)
    # for the same reason — Spark does not infer filters from expensive
    # generators.
    bc = run_length_structs("_s", "_st", "bucket", "cnt", "bigint")
    raw = _dsir_runs(raw_docs, n_buckets, text_col, id_col).select(
        F.col(id_col), "_ntok", bc.alias("_bc")
    ).localCheckpoint(eager=False)
    raw_counts = (
        raw.select(F.explode("_bc").alias("_b"))
        .groupBy(F.col("_b.bucket").alias("bucket"))
        .agg(F.sum("_b.cnt").cast("bigint").alias("cnt"))
    )
    lam = dsir_lambda_table(
        raw_docs, target_docs, n_buckets, prob_bits, text_col, id_col,
        _raw_counts=raw_counts,
    )
    # λ rides as a bucket-ORDERED ARRAY, not a map: array element_at is an
    # O(1) offset, while a map literal's element_at is a linear scan of all
    # n_buckets entries per lookup. The array_sort on (bucket, lam) structs
    # makes position i+1 hold bucket i (the spine guarantees every bucket
    # exactly once).
    lam_arr = lam.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("bucket", "lam"))), lambda s: s["lam"]
        ).alias("_la")
    )
    return raw.crossJoin(F.broadcast(lam_arr)).select(
        F.col(id_col),
        F.col("_ntok").alias("n_tokens"),
        F.aggregate(
            "_bc",
            F.lit(0).cast("bigint"),
            lambda acc, e: acc
            + e["cnt"] * F.element_at(F.col("_la"), (e["bucket"] + 1).cast("int")),
        ).alias("dsir_score"),
    )


def _dsir_runs(docs: DataFrame, n_buckets: int, text_col: str, id_col: str) -> DataFrame:
    """(id, _ntok, _s, _st): sorted hashed-bucket array + run starts as
    BOUND columns — the shared front half of the DSIR feature scan."""
    from .dedup import _token_hash40

    toks = F.split(F.col(text_col), " ")
    arr = docs.select(
        F.col(id_col),
        F.size(toks).cast("bigint").alias("_ntok"),
        F.array_sort(
            F.transform(toks, lambda t: _token_hash40(t) % F.lit(n_buckets))
        ).alias("_s"),
    )
    return arr.select(F.col(id_col), "_ntok", "_s", sorted_run_starts("_s").alias("_st"))


def dsir_lambda_table(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    n_buckets: int = 1024,
    prob_bits: int = 15,
    text_col: str = "text",
    id_col: str = "doc_id",
    _raw_counts: DataFrame | None = None,
) -> DataFrame:
    """The DSIR model artifact → (bucket, lam): per-bucket quarter-bit
    log-likelihood ratio λ_b = L_target[b] − L_raw[b] over the full
    bucket spine. Train once here (two corpus scans → ≤ n_buckets-row
    aggregates), then score batches via ``dsir_importance_weights`` or
    unbounded streams via ``streaming.pipeline.dsir_score_stream`` —
    both consume this table and reproduce each other bit-exactly.
    ``_raw_counts`` lets the batch scorer reuse its already-materialized
    raw-side counts instead of re-scanning."""
    bc = run_length_structs("_s", "_st", "bucket", "cnt", "bigint")

    def counts_of(docs: DataFrame) -> DataFrame:
        return (
            _dsir_runs(docs, n_buckets, text_col, id_col)
            .select(F.explode(bc).alias("_b"))
            .groupBy(F.col("_b.bucket").alias("bucket"))
            .agg(F.sum("_b.cnt").cast("bigint").alias("cnt"))
        )

    tgt_counts = counts_of(target_docs)
    raw_counts = _raw_counts if _raw_counts is not None else counts_of(raw_docs)
    tgt_total = tgt_counts.agg(F.sum("cnt").cast("bigint").alias("_tt"))
    raw_total = raw_counts.agg(F.sum("cnt").cast("bigint").alias("_rt"))

    spark = raw_docs.sparkSession
    spine = spark.range(n_buckets).select(F.col("id").cast("bigint").alias("bucket"))
    pmax = (1 << prob_bits) - 1

    def quart_log(cnt_col: str, total_col: str) -> Column:
        # exact integer fixed-point probability, then floor(4·log2 P)+1
        p = F.expr(
            f"CAST(1 AS BIGINT) + ((coalesce({cnt_col}, 0) + 1) * {pmax})"
            f" div ({total_col} + {n_buckets})"
        )
        p4 = p * p * p * p
        return F.length(F.bin(p4)).cast("bigint")

    return (
        spine.join(tgt_counts.withColumnRenamed("cnt", "_tc"), "bucket", "left")
        .join(raw_counts.withColumnRenamed("cnt", "_rc"), "bucket", "left")
        .crossJoin(F.broadcast(tgt_total))
        .crossJoin(F.broadcast(raw_total))
        .select(
            "bucket",
            (quart_log("_tc", "_tt") - quart_log("_rc", "_rt")).alias("lam"),
        )
    )


def mixture_token_budgets(
    counts: DataFrame,
    weights: DataFrame,
    source_col: str = "source",
) -> DataFrame:
    """Largest token budget achievable at EXACTLY the target mixture →
    (source, n_tokens, weight, budget_tokens): given per-source available
    tokens n_s and target mixture weights w_s, the binding source is the
    one that runs out first — m = argmin n_s/w_s — and every source
    contributes b_s = ⌊w_s·n_m/w_m⌋. Training-mix planning ("40% web,
    30% code, 30% curated — how large can the run be without upsampling
    anything?") as a pure relational computation.

    Exactness: the rational argmin never divides — a/b < c/d compares as
    a·d < c·b (cross-multiplication), ties broken by source name, and the
    final budget is one integer `div`. Bounds: products are n·w, so with
    Σw ≤ 10⁵ the arithmetic is exact in int64 up to ~10¹³-token corpora
    (≈ 100 TB of text); past that, widen to DECIMAL(38,0). Weights must
    be POSITIVE integers — a zero weight is a division by zero (ANSI
    error in both engines), and "exclude this source" is spelled by
    leaving it out of ``weights`` (the inner join drops it).

    Scale: ``counts`` is already the per-source aggregate (one map-side
    combinable scan of the corpus, #sources rows out); everything here is
    metadata-sized — the #sources² cross-compare is thousands of rows even
    for a catalog of source domains."""
    j = counts.join(weights, source_col).select(
        F.col(source_col), F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("weight").cast("bigint").alias("weight"),
    )
    # j is metadata-sized (#sources rows) but usually derives from a full
    # corpus scan (counts = per-source token aggregate); it feeds BOTH
    # sides of the cross-compare — cut lineage so the corpus is scanned
    # once, not once per consumer.
    j = _make_lineage_cut(_default_ckpt_dir())(j, eager=False)
    a, b = j.alias("a"), j.alias("b")
    dominated = (F.col("b.n_tokens") * F.col("a.weight")) < (
        F.col("a.n_tokens") * F.col("b.weight")
    )
    binding = (
        a.join(F.broadcast(b), dominated, "left_anti")
        .orderBy(source_col)
        .limit(1)
        .select(
            F.col("n_tokens").alias("_nm"), F.col("weight").alias("_wm")
        )
    )
    return j.crossJoin(F.broadcast(binding)).select(
        source_col,
        "n_tokens",
        "weight",
        F.expr("weight * _nm div _wm").cast("bigint").alias("budget_tokens"),
    )


def mixture_waterfill_allocations(
    counts: DataFrame,
    weights: DataFrame,
    budget: int | None,
    source_col: str = "source",
) -> DataFrame:
    """Waterfilling a FIXED token budget across sources →
    (source, n_tokens, weight, alloc_tokens): allocate budget B in
    proportion to the mixture weights, capping each source at its
    available tokens and redistributing the excess over the uncapped
    remainder — Σ alloc = B (up to per-source floors), alloc_s =
    min(n_s, ⌊w_s·λ⌋) at the unique water level λ. The "use this much
    data, follow these proportions where possible" planner.

    Exact: sources rank by n_s/w_s via cross-multiplied comparison (no
    division); the level λ = (B − Σ_capped n)/Σ_uncapped w is carried as
    an integer numerator/denominator pair, and the unique breakpoint is
    the rank k whose boundary rows satisfy n_{k-1}·den ≤ num·w_{k-1} and
    n_k·den > num·w_k. If B ≥ Σn every source is fully taken. Same int64
    bounds as mixture_token_budgets. ``budget=None`` plans for half the
    available tokens (Σn div 2), computed in-plan — no driver pull.

    Scale: all on the #sources-row aggregate; the rank windows run on a
    single partition of metadata-sized input by construction."""
    j = counts.join(weights, source_col).select(
        F.col(source_col), F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("weight").cast("bigint").alias("weight"),
    )
    # Same multi-consumer cut as mixture_token_budgets: j feeds the rank
    # cross-compare (both sides), the totals, and the in-plan budget —
    # without a cut each consumer re-derives the corpus scan behind counts.
    j = _make_lineage_cut(_default_ckpt_dir())(j, eager=False)
    a, b = j.alias("a"), j.alias("b")
    strictly_less = (F.col("b.n_tokens") * F.col("a.weight")) > (
        F.col("a.n_tokens") * F.col("b.weight")
    )
    tie_before = (
        (F.col("b.n_tokens") * F.col("a.weight")) == (F.col("a.n_tokens") * F.col("b.weight"))
    ) & (F.col(f"b.{source_col}") < F.col(f"a.{source_col}"))
    ranked = (
        a.crossJoin(F.broadcast(b.select(
            F.col("n_tokens").alias("_bn"), F.col("weight").alias("_bw"),
            F.col(source_col).alias("_bs"),
        )))
        .groupBy(f"a.{source_col}", "a.n_tokens", "a.weight")
        .agg(
            F.sum(
                F.when(
                    ((F.col("_bn") * F.col("a.weight")) < (F.col("a.n_tokens") * F.col("_bw")))
                    | (
                        ((F.col("_bn") * F.col("a.weight"))
                         == (F.col("a.n_tokens") * F.col("_bw")))
                        & (F.col("_bs") < F.col(f"a.{source_col}"))
                    ),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("rnk")
        )
    )
    tot = ranked.agg(
        F.sum("n_tokens").cast("bigint").alias("_totn"),
        F.sum("weight").cast("bigint").alias("_totw"),
    )
    w_ord = Window.orderBy("rnk")
    lvl = (
        ranked.crossJoin(F.broadcast(tot))
        .withColumn("_cumn", F.coalesce(
            F.sum("n_tokens").over(w_ord.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("bigint"))
        .withColumn("_cumw_prev", F.coalesce(
            F.sum("weight").over(w_ord.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("bigint"))
        .withColumn(
            "_b",
            F.expr("_totn div 2") if budget is None else F.lit(budget).cast("bigint"),
        )
        .withColumn("_num", F.col("_b") - F.col("_cumn"))
        .withColumn("_den", F.col("_totw") - F.col("_cumw_prev"))
        .withColumn("_prev_n", F.lag("n_tokens").over(w_ord))
        .withColumn("_prev_w", F.lag("weight").over(w_ord))
        .filter(
            # prev (last capped) fits under the level; this row does not
            (F.col("_prev_n").isNull()
             | (F.col("_prev_n") * F.col("_den") <= F.col("_num") * F.col("_prev_w")))
            & (F.col("n_tokens") * F.col("_den") > F.col("_num") * F.col("weight"))
        )
        .orderBy("rnk")
        .limit(1)
        .select("_num", "_den")
    )
    # no feasible breakpoint ⇔ B ≥ Σn: every source fully taken (num=den=0 → guard)
    alloc = F.when(
        F.col("_num").isNull() | (F.col("_den") <= 0),
        F.col("n_tokens"),
    ).otherwise(F.least(F.col("n_tokens"), F.expr("weight * _num div _den")))
    return (
        j.join(F.broadcast(lvl), F.lit(True), "left")
        .select(
            source_col, "n_tokens", "weight", alloc.cast("bigint").alias("alloc_tokens"),
        )
    )
