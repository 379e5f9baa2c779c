"""Assembled streaming pipelines: source → parse → normalize → sink, plus
the event-time analytics the reference delegates to ClickHouse queries.

The parse/normalize stages are the SAME functions the batch path uses
(ingest.formats, normalize) — pure expression transforms compose unchanged
under ``readStream``, and run inside one codegen'd stage per micro-batch.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..ingest import parse_bulk_ndjson, parse_json_array, parse_logstash, parse_single
from ..normalize import normalize_events
from .sink import foreach_batch_parquet
from .sources import stream_spool_dir

_INTERVAL_UNIT_SEC = {
    "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
}


def _interval_seconds(interval: str) -> int:
    """'10 minutes' → 600. Only the simple '<n> <unit>' form Structured
    Streaming watermarks use; anything else raises rather than silently
    mis-banding the join key."""
    n, _, unit = interval.strip().partition(" ")
    try:
        return int(n) * _INTERVAL_UNIT_SEC[unit.strip().lower()]
    except (KeyError, ValueError) as e:
        raise ValueError(f"unsupported interval for banding: {interval!r}") from e

PARSERS = {
    "bulk": parse_bulk_ndjson,
    "logstash": parse_logstash,
    "events": parse_json_array,
    "single": parse_single,
}


def parse_stream(values: DataFrame, fmt: str) -> DataFrame:
    """Wire bodies (``value: string``) → normalized 10-column log rows."""
    return normalize_events(PARSERS[fmt](values), raw_col="raw_json")


def spooled_log_stream(spark: SparkSession, spool_dir: str, fmt: str = "bulk") -> DataFrame:
    """Tail ``spool_dir/<fmt>`` (as laid out by SpoolReceiver) → log rows."""
    import os

    return parse_stream(stream_spool_dir(spark, os.path.join(spool_dir, fmt)), fmt)


def log_rate_per_window(
    rows: DataFrame,
    window: str = "1 minute",
    watermark: str = "10 minutes",
    by: str = "container",
) -> DataFrame:
    """Event-time tumbling-window event rate per group, late data bounded by
    the watermark — the streaming form of the reference's operational rate
    queries (README.md:516-527). State is dropped past the watermark, so
    memory is O(groups × windows-in-watermark) regardless of stream length.

    Watermarks require TIMESTAMP (not NTZ); with the session tz pinned UTC
    the cast is wall-clock identity both ways."""
    return (
        rows.withColumn("_evt", F.col("timestamp").cast("timestamp"))
        .withWatermark("_evt", watermark)
        .groupBy(F.window("_evt", window).alias("w"), F.col(by))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col(by),
            F.col("n_events"),
        )
    )


def streaming_dedup(rows: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Drop exact duplicate events within the watermark horizon.

    Keyed on md5(raw_json) — 32-byte state per event instead of the full
    row; ``dropDuplicatesWithinWatermark`` ages state out, so this runs
    forever at constant memory (the unbounded-stream analog of
    extensions.dedup.exact_dedup_survivors)."""
    keyed = rows.withColumn("_fp", F.md5(F.col("raw_json"))).withColumn(
        "_evt", F.col("timestamp").cast("timestamp")
    )
    return (
        keyed.withWatermark("_evt", watermark)
        .dropDuplicatesWithinWatermark(["_fp"])
        .drop("_fp", "_evt")
    )


def incremental_dedup_stream(
    rows: DataFrame,
    store_digests: DataFrame,
    text_col: str = "message",
    watermark: str = "10 minutes",
    broadcast_store: bool | None = None,
) -> DataFrame:
    """Streaming face of extensions.dedup.incremental_dedup: drop in-flight
    rows whose text digest already exists in the persisted fingerprint
    store (stream-static LEFT ANTI join), then drop in-stream repeats
    within the watermark horizon (dropDuplicatesWithinWatermark keyed on
    the 32-byte digest).

    The static side is SIZE-GATED, not hard-broadcast (r10): the digest
    store grows with the TOTAL INGESTED CORPUS — at 100 TB it is billions
    of 32-byte digests, and a pinned broadcast of it is the same
    100×-scale OOM class as the corpus-scaling dim joins
    (queries._dim_hint). ``broadcast_store=None`` auto-sizes via
    dedup._eval_join_hint (one memoized count of the store): under the
    cap each micro-batch filters map-side with zero stream state; past it
    the anti-join degrades to a spillable sort-merge per micro-batch —
    slower, bounded. Explicit True/False skips the count.

    Together with the batch operator this closes the loop: the batch job
    seeds and compacts the digest store; the stream keeps the corpus
    duplicate-free between batch runs at constant memory. ``store_digests``
    needs one ``digest`` column; re-read it per micro-batch via
    foreachBatch when the store is being appended concurrently (each
    re-read frame is re-sized — the count is memoized per frame object)."""
    from ..extensions.dedup import BROADCAST_EVAL_MAX_ROWS, _eval_join_hint

    keyed = rows.withColumn("digest", F.md5(F.col(text_col))).withColumn(
        "_evt", F.col("timestamp").cast("timestamp")
    )
    store, hint = _eval_join_hint(
        store_digests.select("digest"),
        broadcast_store,
        BROADCAST_EVAL_MAX_ROWS,
        what="incremental_dedup_stream digest store",
    )
    fresh = keyed.join(hint(store), "digest", "left_anti")
    return (
        fresh.withWatermark("_evt", watermark)
        .dropDuplicatesWithinWatermark(["digest"])
        .drop("digest", "_evt")
    )


def flag_neardups_stream(
    rows: DataFrame,
    store_sigs: DataFrame,
    text_col: str = "message",
    min_agree: int = 6,
    watermark: str = "10 minutes",
    broadcast_store: bool = True,
) -> DataFrame:
    """Streaming face of extensions.dedup.incremental_neardup: flag
    in-flight rows whose text NEAR-duplicates the historical corpus →
    (digest, <text_col>, store_doc, n_agree, est_jaccard).

    Completely stateless per row on the stream side: signatures come from
    the row-wise minhash (a narrow projection — no watermark aggregation
    state), the signature STORE side is static and broadcasts with its
    band buckets and signatures attached, so a micro-batch flags
    candidates in one map-side pass. The only streaming state is the
    watermarked dedup of (digest, store_doc) pairs that collide in more
    than one band. Consumers route flagged rows like the dead-letter
    path; survivors = rows whose digest never appears here.

    ``broadcast_store=False`` switches the bucket join to a shuffle for a
    signature store too large for executor memory (the store grows with
    the corpus at K×8 bytes/doc before the B-band explosion) — the same
    call-site flag ``incremental_neardup`` exposes as broadcast_batch.

    Band keys and the agreement count come from the SAME expressions the
    batch path uses (dedup.band_keys_expr / signature_agreement), so the
    stream-vs-store join keys cannot silently drift from the store
    builder's.
    """
    from ..extensions import dedup

    keyed = rows.withColumn("_digest", F.md5(F.col(text_col))).withColumn(
        "_evt", F.col("timestamp").cast("timestamp")
    )
    sigs = dedup.rowwise_minhash(
        keyed, id_col="_digest", text_col=text_col, keep=(text_col, "_evt")
    )
    k = dedup.MINHASH_K
    stream_b = sigs.select(
        F.col("_digest").alias("digest"),
        F.col(text_col),
        F.col("_evt"),
        *[F.col(f"mh{i}").alias(f"_b{i}") for i in range(k)],
        F.posexplode(dedup.band_keys_expr()).alias("band", "bucket"),
    )
    store_side = dedup.lsh_band_buckets(store_sigs).join(
        store_sigs.select(
            F.col("doc_id"), *[F.col(f"mh{i}").alias(f"_s{i}") for i in range(k)]
        ),
        "doc_id",
    ).withColumnRenamed("doc_id", "store_doc")
    hint = F.broadcast if broadcast_store else (lambda d: d)
    n_agree = dedup.signature_agreement(k)
    return (
        stream_b.join(hint(store_side), ["band", "bucket"])
        .select(
            "digest",
            F.col(text_col),
            F.col("_evt"),
            "store_doc",
            n_agree.alias("n_agree"),
            (n_agree * F.lit(1.0) / k).alias("est_jaccard"),
        )
        .filter(F.col("n_agree") >= min_agree)
        .withWatermark("_evt", watermark)
        .dropDuplicatesWithinWatermark(["digest", "store_doc"])
        .drop("_evt")
    )


def attribute_purchases_stream(
    rows: DataFrame,
    click_marker: str = "click",
    purchase_marker: str = "purchase",
    key: str = "host_name",
    horizon: str = "10 minutes",
) -> DataFrame:
    """Stream-STREAM interval join: attribute each in-flight purchase event
    to the click events from the same key within the trailing horizon →
    (key, purchase_message, purchase_ts, click_message, click_ts).

    The streaming face of the batch as-of/window attribution queries
    (asof_click_attribution, purchase_window_clicks): both sides are
    unbounded, so Spark buffers each side in state and the WATERMARKS plus
    the time-bound join condition are what let it expire state — clicks
    older than the horizon behind the purchase-side watermark are dropped,
    keeping state O(events-in-horizon) forever. Without the time bound the
    join would be unrunnable (unbounded state); this is the canonical
    Structured Streaming stream-stream join shape.

    BANDED equi-key (r5 — the streaming twin of
    ``operators.range_join_banded``): the symmetric state join probes
    EVERY buffered row of its equality key and only then filters the
    time condition, so with a coarse key (5 hosts in the fixture) a
    dense stream goes quadratic per key — measured as the one sf1
    TIMEOUT (>240 s) of the r5 growth check, ~10¹⁰ pair evaluations in
    one availableNow batch. Clicks therefore also key on their
    horizon-width time band (floor(ts/h)) and each purchase probes
    exactly its own and the previous band — an interval of length h
    spans at most 2 bands, so the rewrite is row-identical (pinned by
    the e2e test and the batch oracle) while state probes shrink from
    O(clicks-per-key) to O(clicks-per-key-per-band).
    """
    hsec = _interval_seconds(horizon)
    evt = F.col("timestamp").cast("timestamp")
    clicks = (
        rows.filter(F.col("message").startswith(click_marker))
        .select(
            F.col(key).alias("k"),
            F.col("message").alias("click_message"),
            evt.alias("click_ts"),
            F.floor(F.unix_timestamp(evt) / F.lit(hsec)).alias("_band"),
        )
        .withWatermark("click_ts", horizon)
    )
    pband = F.floor(F.unix_timestamp(evt) / F.lit(hsec))
    purchases = (
        rows.filter(F.col("message").startswith(purchase_marker))
        .select(
            F.col(key).alias(key),
            F.col("message").alias("purchase_message"),
            evt.alias("purchase_ts"),
            F.explode(F.array(pband, pband - 1)).alias("_pband"),
        )
        .withWatermark("purchase_ts", horizon)
    )
    cond = (
        (purchases[key] == clicks["k"])
        & (purchases["_pband"] == clicks["_band"])
        & (clicks["click_ts"] <= purchases["purchase_ts"])
        & (clicks["click_ts"] >= purchases["purchase_ts"] - F.expr(f"INTERVAL {horizon}"))
    )
    return purchases.join(clicks, cond, "inner").select(
        key, "purchase_message", "purchase_ts", "click_message", "click_ts"
    )


def run_spool_to_parquet(
    spark: SparkSession,
    spool_dir: str,
    out_path: str,
    checkpoint: str,
    fmt: str = "bulk",
    available_now: bool = True,
    processing_time: str | None = None,
    dead_letter_path: str | None = None,
) -> StreamingQuery:
    """End-to-end: spooled HTTP bodies → parse → normalize → monthly-
    partitioned parquet, exactly-once per checkpoint.

    ``available_now=True`` drains the backlog and stops (batch-like runs,
    tests); otherwise a ``processing_time`` trigger micro-batches forever —
    the trigger interval is the reference's "one HTTP request = one INSERT"
    batching knob (main.go:332) made explicit.

    ``dead_letter_path`` (bulk format only): unparseable lines are appended
    there as (line, epoch_id) parquet instead of silently dropped — the
    observability upgrade over the reference's skip (A14, main.go:276-279).
    """
    import os

    if dead_letter_path is None:
        rows = spooled_log_stream(spark, spool_dir, fmt)
        writer = (
            rows.writeStream.foreachBatch(foreach_batch_parquet(out_path))
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
        )
    else:
        from ..ingest.formats import classify_lines

        values = stream_spool_dir(spark, os.path.join(spool_dir, fmt))
        parquet_write = foreach_batch_parquet(out_path)

        def write(batch, epoch_id: int) -> None:
            batch.persist()
            try:
                junk = classify_lines(batch).filter(F.col("line_class") == "junk")
                (
                    junk.withColumn("epoch_id", F.lit(epoch_id))
                    .write.mode("append")
                    .parquet(dead_letter_path)
                )
                parquet_write(normalize_events(PARSERS[fmt](batch), raw_col="raw_json"), epoch_id)
            finally:
                batch.unpersist()

        writer = (
            values.writeStream.foreachBatch(write)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
        )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def enrich_stream(rows: DataFrame, dim: DataFrame, on: str = "host_name") -> DataFrame:
    """Stream-static enrichment join (B3, add_host_metadata analog in
    flight): the static dimension is broadcast, so each micro-batch enriches
    map-side with no stream-side shuffle and no state. Dim updates take
    effect on the next micro-batch when the dim is re-read per batch (use
    foreachBatch for that variant)."""
    return rows.join(F.broadcast(dim), on, "left")



def curate_stream(
    rows: DataFrame,
    text_col: str = "message",
    min_words: int = 3,
    max_words: int = 100000,
    bad_words: tuple[str, ...] | None = None,
    chunk_words: int = 20,
) -> DataFrame:
    """Streaming face of the curation filter battery: PII-redact the text,
    then attach the C4 rule flags computed on the REDACTED text (redact
    before scoring, so a redaction token never skews word-length stats) →
    all input columns + ``<text_col>_redacted`` + ``n_<kind>`` redaction
    counts + the flag columns, with ``keep`` as a COLUMN so consumers
    route rejects like the dead-letter path instead of silently losing
    them.

    Built from the SAME expressions as the batch operators — the PII
    pattern chain (text.PII_PATTERNS, applied in dict order on the
    progressively redacted text) and ``text.c4_flag_exprs`` — as one
    withColumn projection chain: no join, no id generation, no
    aggregation state, so it runs unchanged on an unbounded stream at
    any rate and composes with any sink mode.
    """
    from ..extensions.text import C4_BAD_WORDS, PII_PATTERNS, c4_flag_exprs

    bw = bad_words if bad_words is not None else C4_BAD_WORDS
    red_col = f"{text_col}_redacted"
    cur = rows.withColumn(red_col, F.col(text_col))
    for kind, pat in PII_PATTERNS.items():
        cur = cur.withColumn(
            f"n_{kind}", F.regexp_count(F.col(red_col), F.lit(pat)).cast("bigint")
        ).withColumn(red_col, F.regexp_replace(F.col(red_col), pat, f"<{kind.upper()}>"))
    exprs = c4_flag_exprs(
        text_col=red_col,
        min_words=min_words,
        max_words=max_words,
        bad_words=bw,
        chunk_words=chunk_words,
    )
    for name, e in exprs.items():
        cur = cur.withColumn(name, e)
    return cur


def score_stream(
    rows: DataFrame,
    weights: DataFrame,
    text_col: str = "message",
    n_buckets: int = 1024,
    rate_scale: int = 1 << 20,
) -> DataFrame:
    """Streaming face of the trained quality classifier: score every
    in-flight row under a ``text.train_token_centroid`` weight table →
    input columns + ``quality_score`` (integer margin) + ``quality_pred``
    (±1). Train once in batch, gate the stream forever.

    The weight table is a MODEL ARTIFACT (≤ n_buckets rows): it is
    collected ONCE at stream assembly and baked into the plan as a map
    literal — the streaming analog of broadcasting model weights, and
    the only driver-side collect in the streaming surface (it reads a
    trained model, never stream data). Scoring is then a pure per-row
    expression — tokenize, bucket, per-bucket fixed-point rate, fold
    against the map — NO aggregation state, no stream-static join, so it
    runs unchanged on an unbounded stream and composes with any sink
    mode. The per-row formula reproduces ``text.score_token_linear``
    BIT-EXACTLY (same bucket hash, same floored rate, same integer
    margin), pinned by test.

    ``n_buckets`` / ``rate_scale`` must match the featurization the
    model was trained with (text.hashed_token_features defaults)."""
    from ..extensions.dedup import _token_hash40
    from ..extensions.text import run_length_structs, sorted_run_starts

    pairs = weights.collect()
    if pairs:
        wmap = F.map_from_arrays(
            F.lit([int(r["bucket"]) for r in pairs]).cast("array<bigint>"),
            F.lit([int(r["w"]) for r in pairs]).cast("array<bigint>"),
        )
    else:  # untrained/empty model: every score is 0
        wmap = F.map_from_arrays(
            F.lit([]).cast("array<bigint>"), F.lit([]).cast("array<bigint>")
        )
    toks = F.split(F.col(text_col), " ")
    # per-bucket counts via text's shared SORTED run-length kernel (the
    # exact shape hashed_token_features uses): O(n log n) per row — the
    # array_distinct × filter-rescan formulation this replaced was
    # O(distinct·n), i.e. quadratic in message length, on the streaming
    # hot path forever. _srt/_st/_runs materialize as bound columns
    # between projections (see run_length_structs on why).
    srt = F.array_sort(F.transform(toks, lambda t: _token_hash40(t) % F.lit(n_buckets)))
    cur = (
        rows.withColumn("_srt", srt)
        .withColumn("_st", sorted_run_starts("_srt"))
        .withColumn("_runs", run_length_structs("_srt", "_st", "bucket", "cnt", "bigint"))
    )
    ntok = F.size("_srt").cast("bigint")
    score = F.when(
        F.col(text_col).isNotNull(),
        F.aggregate(
            F.col("_runs"),
            F.lit(0).cast("bigint"),
            lambda acc, r: acc
            + F.floor((r["cnt"] * F.lit(rate_scale)) / ntok).cast("bigint")
            * F.coalesce(F.element_at(wmap, r["bucket"]), F.lit(0).cast("bigint")),
        ),
    )
    return (
        cur.withColumn("quality_score", score)
        .withColumn(
            "quality_pred",
            F.when(F.col("quality_score") > 0, F.lit(1)).otherwise(F.lit(-1)).cast("bigint"),
        )
        .drop("_srt", "_st", "_runs")
    )


def dsir_score_stream(
    rows: DataFrame,
    lam: DataFrame,
    text_col: str = "message",
    n_buckets: int = 1024,
) -> DataFrame:
    """Streaming face of DSIR data selection: score every in-flight row
    under a ``text.dsir_lambda_table`` model → input columns +
    ``dsir_score`` (integer quarter-bit log-likelihood-ratio sum) +
    ``n_tokens``. Train the λ table once in batch over the raw/target
    corpora, then gate the ingest stream on domain relevance forever —
    the streaming twin of ``text.dsir_importance_weights``, bit-exact by
    the same integer arithmetic (pinned by test).

    The λ table is a MODEL ARTIFACT (exactly n_buckets rows): collected
    once at stream assembly and baked into the plan as a bucket-ordered
    ARRAY literal (O(1) element_at — a map literal's lookup scans all
    entries per probe). Scoring is a pure per-row expression over the
    shared sorted run-length kernel: no aggregation state, no
    stream-static join, composes with any sink mode.

    ``n_buckets`` must equal the table's trained bucket count — it is
    also the token-hash modulo, so a mismatch mis-buckets every token.
    The collected rows are therefore VALIDATED against it at assembly:
    dsir_lambda_table always emits the dense {0..n_buckets−1} spine, so
    anything else (a table trained at a different width, duplicates, a
    truncated pull) raises here instead of silently scoring wrong
    (r5 advice — a smaller table used to zero-score high buckets)."""
    from ..extensions.dedup import _token_hash40
    from ..extensions.text import run_length_structs, sorted_run_starts

    lam_rows = lam.collect()  # bounded model pull, never stream data
    got = sorted(int(r["bucket"]) for r in lam_rows)
    if got != list(range(n_buckets)):
        raise ValueError(
            f"dsir lambda table bucket set mismatch: expected the dense spine "
            f"0..{n_buckets - 1} ({n_buckets} rows, dsir_lambda_table's "
            f"contract), got {len(lam_rows)} rows spanning "
            f"[{got[0] if got else '-'}, {got[-1] if got else '-'}] — "
            f"pass the n_buckets the table was trained with"
        )
    arr = [0] * n_buckets
    for r in lam_rows:
        arr[int(r["bucket"])] = int(r["lam"])
    la = F.lit(arr).cast("array<bigint>")
    toks = F.split(F.col(text_col), " ")
    srt = F.array_sort(F.transform(toks, lambda t: _token_hash40(t) % F.lit(n_buckets)))
    cur = (
        rows.withColumn("_srt", srt)
        .withColumn("_st", sorted_run_starts("_srt"))
        .withColumn("_runs", run_length_structs("_srt", "_st", "bucket", "cnt", "bigint"))
        .withColumn("_la", la)
    )
    score = F.when(
        F.col(text_col).isNotNull(),
        F.aggregate(
            F.col("_runs"),
            F.lit(0).cast("bigint"),
            lambda acc, r: acc
            + r["cnt"] * F.element_at(F.col("_la"), (r["bucket"] + 1).cast("int")),
        ),
    )
    return (
        cur.withColumn("dsir_score", score)
        .withColumn("n_tokens", F.size("_srt").cast("bigint"))
        .drop("_srt", "_st", "_runs", "_la")
    )


def cdf_gate_stream(
    rows: DataFrame,
    boundaries: DataFrame,
    value_col: str,
    scale: int = 1_000_000,
    min_pct_ppm: int | None = None,
) -> DataFrame:
    """Streaming percentile gate: score every in-flight row's ``value_col``
    against a batch-trained ``operators.exact_quantile_boundaries`` CDF →
    input columns + ``pct_ppm`` (the value's position in the historical
    distribution, quantized to the model's k quantiles, in
    parts-per-``scale``), plus a ``keep`` flag when ``min_pct_ppm`` is
    given. The production shape of "route/drop events below the p10
    quality of the corpus": the corpus CDF is a BOUNDED artifact (k rows)
    trained once in batch, the stream never aggregates — scoring is a
    pure per-row fold over the baked ascending boundary array, so it
    composes with any sink mode and holds no state.

    pct_ppm = |{boundaries ≤ value}| × scale div k — within 1/k of the
    batch ``percentile_rank`` on the training corpus (pinned by test),
    monotone in the value by construction. NULL values score NULL (and
    keep=NULL). The collected model is VALIDATED like the DSIR λ table:
    the q set must be exactly {1..k} dense (exact_quantile_boundaries'
    contract) or assembly raises rather than mis-scoring."""
    b_rows = boundaries.collect()  # bounded model pull: k rows
    got = sorted((int(r["q"]), r["boundary"]) for r in b_rows)
    k = len(got)
    if k == 0 or [q for q, _ in got] != list(range(1, k + 1)):
        raise ValueError(
            f"quantile boundary set mismatch: expected the dense spine q=1..k, "
            f"got {k} rows spanning "
            f"[{got[0][0] if got else '-'}, {got[-1][0] if got else '-'}] — "
            f"pass exact_quantile_boundaries' output unmodified"
        )
    arr = F.lit([b for _, b in got])
    cnt = F.size(F.filter(arr, lambda b: b <= F.col(value_col)))
    # collision-safe temp name: the input is an arbitrary user stream
    # and a caller column literally named _cnt would be silently
    # overwritten and dropped (r7 advice)
    cnt_col = "_cnt"
    while cnt_col in rows.columns:
        cnt_col += "_"
    pct = F.when(
        F.col(value_col).isNotNull(),
        F.expr(f"(`{cnt_col}` * CAST({int(scale)} AS BIGINT)) div {k}"),
    )
    out = (
        rows.withColumn(cnt_col, cnt.cast("bigint"))
        .withColumn("pct_ppm", pct)
        .drop(cnt_col)
    )
    if min_pct_ppm is not None:
        out = out.withColumn("keep", F.col("pct_ppm") >= F.lit(int(min_pct_ppm)))
    return out


def bm25_score_stream(
    rows: DataFrame,
    model: DataFrame,
    text_col: str = "message",
) -> DataFrame:
    """Streaming face of BM25 relevance gating: score every in-flight
    row under a ``retrieval.bm25_model`` artifact → input columns +
    ``bm25_score`` (BIGINT) + ``n_tokens``. Train the model once in
    batch over the corpus for a standing query, then route/alert the
    ingest stream on relevance forever — the search twin of
    ``dsir_score_stream``'s domain gate, bit-exact vs the batch scorer
    ``retrieval.bm25_corpus_scores`` by the same integer arithmetic
    (pinned by test). Unmatched rows score 0; NULL text scores NULL.

    The model is a bounded artifact (<= #query terms rows): collected
    once at stream assembly and baked into the plan as a struct-array
    literal. Scoring is a pure per-row fold over the row's
    query-vocabulary tokens — no aggregation state, no stream-static
    join, composes with any sink mode. The fold runs inside ONE SQL
    expression so the integer `div` stays available (the Column API has
    no exact integer division) and tf is computed once per term via the
    inner transform (HOF lambdas get no CSE)."""
    m = sorted(model.collect(), key=lambda r: r["term"])  # bounded model pull
    if not m:
        raise ValueError("bm25 model is empty — no query term occurs in the corpus")
    n_docs, total = int(m[0]["_n_docs"]), int(m[0]["_total"])
    entries = F.array(
        *[
            F.struct(
                F.lit(r["term"]).alias("term"),
                F.lit(int(r["w"])).cast("bigint").alias("w"),
            )
            for r in m
        ]
    )
    terms_lit = F.array(*[F.lit(r["term"]) for r in m])
    toks = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda t: t != F.lit(""))
    cur = (
        rows.withColumn("_dl", F.size(toks).cast("bigint"))
        .withColumn("_qt", F.filter(toks, lambda t: F.array_contains(terms_lit, t)))
        .withColumn("_entries", entries)
    )
    score = F.when(
        F.col(text_col).isNotNull(),
        F.expr(
            f"""aggregate(
              transform(_entries, e -> named_struct(
                'w', e.w,
                'tf', CAST(size(filter(_qt, x -> x = e.term)) AS BIGINT))),
              CAST(0 AS BIGINT),
              (acc, s) -> acc + CASE WHEN s.tf > 0
                THEN s.w * ((22 * s.tf * CAST({total} AS BIGINT) * 1048576)
                            div (10 * s.tf * CAST({total} AS BIGINT)
                                 + 3 * CAST({total} AS BIGINT)
                                 + 9 * _dl * CAST({n_docs} AS BIGINT)))
                ELSE CAST(0 AS BIGINT) END)"""
        ),
    )
    return (
        cur.withColumn("bm25_score", score)
        .withColumn(
            "n_tokens", F.when(F.col(text_col).isNotNull(), F.col("_dl"))
        )
        .drop("_dl", "_qt", "_entries")
    )
