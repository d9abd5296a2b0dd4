"""Structured Streaming extensions (beyond reference parity — the
reference has no streaming surface, SURVEY §2.11; progressive ER is its
closest concept).

Three streaming shapes a continuously-ingesting ER / training-data
pipeline needs:

  * incremental blocking: stream of profiles -> stream of
    (key, profile_id) postings, appendable to a blocks store
  * streaming exact dedup: drop already-seen content hashes with
    dropDuplicates + watermark (state TTL)
  * windowed event rollups: event-time tumbling windows + watermark

All are plain readStream->transform->writeStream graphs; the
transformations reuse the same column expressions as the batch
operators, so batch/stream parity is by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparker_spark.blocking.strategies import TOKEN_SPLIT_RE


def incremental_blocking_keys(
    profile_stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming token keygen: each micro-batch of profiles becomes
    (profile_id, key) postings — the incremental feed of a token-block
    store. Stateless, so it scales with input rate only."""
    return (
        profile_stream.select(
            F.col(id_col).alias("profile_id"),
            F.explode(
                F.split(F.lower(F.col(text_col)), TOKEN_SPLIT_RE)
            ).alias("key"),
        )
        .where(F.length("key") > 0)
        .dropDuplicates(["profile_id", "key"])
    )


def streaming_exact_dedup(
    doc_stream: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: normalize -> hash -> dropDuplicates with
    a watermark bounding the dedup state. Documents whose normalized
    hash was seen within the watermark horizon are dropped."""
    # explicit whitespace class, not \s: Java \s includes vertical tab
    # (\x0B) while the DuckDB/RE2 oracle's \s does not, so a VT in a
    # document would normalize differently on the two engines. The
    # class below IS Java's default \s, spelled so both sides agree.
    normalized = doc_stream.withColumn(
        "text_hash",
        F.md5(
            F.trim(
                F.regexp_replace(
                    F.lower(F.col(text_col)), "[ \\t\\n\\x0B\\f\\r]+", " "
                )
            )
        ),
    )
    return normalized.withWatermark(ts_col, watermark).dropDuplicates(
        ["text_hash"]
    )


def windowed_event_counts(
    event_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling-window rollup with late-data handling —
    the streaming twin of entry.q_events_hourly."""
    return (
        event_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def _shingle_hash_arrays(text_col: str, shingle_size: int):
    """Column exprs: (distinct word-shingle 60-bit hash array, its
    31-bit reductions) for ONE document held in a single row — the same
    shingle strings and hashes as llm.shingles/llm.hashing, but built
    with array higher-order functions instead of explode+groupBy so a
    streaming pipeline can compute them statelessly per row."""
    from sparker_spark.llm.hashing import MERSENNE_31, SPARK_HASH60

    n = int(shingle_size)
    toks = f"split(lower({text_col}), '[ \\\\t\\\\r\\\\n\\\\f\\\\x0B]+')"
    shings = (
        f"array_distinct(CASE WHEN size({toks}) >= {n} THEN "
        f"transform(sequence(1, size({toks}) - {n - 1}),"
        f" i -> concat_ws(' ', slice({toks}, i, {n}))) "
        f"ELSE array() END)"
    )
    h60 = f"transform({shings}, s -> {SPARK_HASH60.format(x='s')})"
    h31 = f"transform({h60}, h -> h % {MERSENNE_31})"
    return h60, h31


def _minhash_band_exprs(num_hashes: int, bands: int) -> tuple[str, str]:
    """SQL fragments ``(sig_from_h31s, bands_from_sig)`` computing the
    MinHash signature from a column named ``h31s`` and the LSH band
    array from a column named ``sig``.

    Every intermediate is BOUND AS A LAMBDA VARIABLE (the
    ``element_at(transform(array(X), x -> ...), 1)`` idiom) instead of
    referenced by column name: the optimizer's project-collapsing
    inlines column aliases, so a bands expression that names ``sig``
    8 times re-evaluates the whole signature — and through it the
    md5 shingle array — per band, per row (measured ~256 evaluations
    of the hash array per document; the sf0.1 index build took 123 s
    against ~4 s with the bound form, identical values)."""
    from sparker_spark.llm.hashing import MERSENNE_31, minhash_coefficients

    rows = num_hashes // bands
    coeffs = "array(" + ", ".join(
        f"named_struct('a', {a}L, 'b', {b}L)"
        for a, b in minhash_coefficients(num_hashes)
    ) + ")"
    sig = (
        f"element_at(transform(array(h31s), hs -> "
        f"transform({coeffs}, c -> "
        f"array_min(transform(hs, h -> (c.a * h + c.b) % {MERSENNE_31})))), 1)"
    )
    band_arr = (
        f"element_at(transform(array(sig), s -> "
        f"transform(sequence(0, {bands - 1}), bi -> "
        f"concat_ws('_', CAST(bi AS STRING), "
        f"array_join(slice(s, bi * {rows} + 1, {rows}), '_')))), 1)"
    )
    return sig, band_arr


def build_near_dup_index(
    corpus: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_size: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Static side of :func:`streaming_near_dup`: the historical corpus
    as an LSH index.

    Returns ``(postings, detail)``:
      * postings(bucket, corpus_id, corpus_bands) — one row per LSH
        band bucket membership (the join key for candidates), carrying
        the doc's full ordered band array for the stateless
        first-shared-band dedup;
      * detail(corpus_id, corpus_hashes, corpus_n) — per-doc distinct
        shingle-hash array for exact Jaccard verification.

    Both are plain DataFrames — persist them as parquet and re-read to
    serve a long-running stream; rebuilding is one batch pass over the
    corpus.
    """
    h60, _ = _shingle_hash_arrays(text_col, shingle_size)
    from sparker_spark.llm.hashing import MERSENNE_31

    sig, band_arr = _minhash_band_exprs(num_hashes, bands)
    base = (
        corpus.select(
            F.col(id_col).alias("corpus_id"),
            F.expr(h60).alias("corpus_hashes"),
        )
        .where(F.size("corpus_hashes") > 0)
        .withColumn(
            "h31s",
            F.expr(f"transform(corpus_hashes, h -> h % {MERSENNE_31})"),
        )
        .withColumn("sig", F.expr(sig))
        .withColumn("corpus_bands", F.expr(band_arr))
        # materialize ONCE before the two-consumer fan-out: postings
        # and detail are typically both written out, and left lazy
        # each write re-runs the md5-shingle + 128-permutation
        # signature pipeline — worse, the filter and the size()
        # projections re-reference the corpus_hashes alias, which
        # project-collapse inlines into extra evaluations of the md5
        # HOF per row (the index build measured 14.5 s at sf0.1; ~3 s
        # materialized). The pin is a lazy localCheckpoint that the
        # two returned frames own; the first write fills it.
        .localCheckpoint(eager=False)
    )
    postings = base.select(
        F.explode("corpus_bands").alias("bucket"), "corpus_id", "corpus_bands"
    )
    detail = base.select(
        "corpus_id", "corpus_hashes", F.size("corpus_hashes").alias("corpus_n")
    )
    return postings, detail


def streaming_near_dup(
    doc_stream: DataFrame,
    postings: DataFrame,
    detail: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_size: int = 3,
    threshold: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental near-dup: a stream of NEW documents checked against
    a static historical corpus (the production shape for continuously
    arriving training data — "is this new doc a near-dup of anything
    we already have?").

    Entirely STATELESS streaming: MinHash signatures and band buckets
    are per-row array expressions (one document per row, no groupBy
    state), candidates come from a stream-static equi-join on the band
    bucket, and the usual post-join ``distinct`` (a pair matches in
    several bands) is replaced by the first-shared-band rule — a
    candidate survives only from the SMALLEST band index it collides
    in, checked per-row against the corpus doc's band array. Exact
    Jaccard then verifies via array_intersect with the corpus shingle
    hashes. No watermark, no state store; semantics match the batch
    ``Dedup.minhash_lsh_pairs`` (same seeds, shingles, band layout,
    threshold rule) restricted to new-vs-corpus pairs.

    Output: (doc_id, corpus_id, jaccard), append mode.
    """
    h60, _ = _shingle_hash_arrays(text_col, shingle_size)
    from sparker_spark.llm.hashing import MERSENNE_31

    sig, band_arr = _minhash_band_exprs(num_hashes, bands)
    new_docs = (
        doc_stream.select(
            F.col(id_col).alias("doc_id"),
            F.expr(h60).alias("new_hashes"),
        )
        .where(F.size("new_hashes") > 0)
        .withColumn(
            "h31s", F.expr(f"transform(new_hashes, h -> h % {MERSENNE_31})")
        )
        .withColumn("sig", F.expr(sig))
        .withColumn("new_bands", F.expr(band_arr))
        .select(
            "doc_id",
            "new_hashes",
            "new_bands",
            F.posexplode("new_bands").alias("bi", "bucket"),
        )
    )
    cand = (
        new_docs.join(postings, "bucket")
        # stateless dedup: bands only collide at the same index (the
        # "bi_" prefix differs otherwise), so "an earlier band already
        # matched" == any pairwise-equal element in the first bi slots
        .where(
            ~F.expr(
                "exists(zip_with(slice(new_bands, 1, bi),"
                " slice(corpus_bands, 1, bi), (x, y) -> x = y), z -> z)"
            )
        )
        .select("doc_id", "new_hashes", "corpus_id")
    )
    from sparker_spark.rounding import rnd  # same rounding as the batch op

    inter = F.size(F.expr("array_intersect(new_hashes, corpus_hashes)"))
    return (
        cand.join(detail, "corpus_id")
        .withColumn("inter", inter)
        .withColumn(
            "jaccard",
            rnd(
                F.col("inter")
                / (
                    F.size("new_hashes") + F.col("corpus_n") - F.col("inter")
                ),
                6,
            ),
        )
        .where(F.col("jaccard") >= F.lit(float(threshold)))
        .select("doc_id", "corpus_id", "jaccard")
    )


def streaming_decontaminate(
    doc_stream: DataFrame,
    eval_docs: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_eval_ngrams: int = 5_000_000,
) -> DataFrame:
    """Stateless stream-static benchmark decontamination: every newly
    ingested document is checked against a static eval/benchmark set's
    word-n-gram hashes before it may enter the training corpus (the
    streaming twin of llm.curation.Decontamination.overlap_ngrams —
    same shingles, same portable 60-bit hashes, value-identical
    output columns).

    The eval set's distinct shingle hashes are computed ONCE at
    graph-build time (one batch pass) and bound into the plan as an
    array literal: benchmark suites are small by construction —
    bounded by ``max_eval_ngrams`` (a guard, not a tuning knob; a set
    that big belongs in the batch join). Each streamed document then
    computes its distinct shingle-hash array per row and intersects —
    no state store, no join, no shuffle; cost scales with input rate
    only, and the plan is identical on any cluster size. For eval
    sets beyond the literal bound, run the batch operator inside
    ``foreachBatch`` instead.

    Output: (doc_id, n_ngrams, n_overlap_ngrams, contaminated),
    append mode.
    """
    from sparker_spark.llm.shingles import shingle_hashes

    eval_hashes = sorted(
        r["h"]
        for r in shingle_hashes(
            eval_docs.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
            ),
            n,
        )
        .select("h")
        .distinct()
        .collect()
    )
    if len(eval_hashes) > max_eval_ngrams:
        raise ValueError(
            f"eval set has {len(eval_hashes)} distinct n-grams — beyond the "
            f"array-literal bound ({max_eval_ngrams}); use the batch "
            "Decontamination.overlap_ngrams via foreachBatch"
        )
    h60, _ = _shingle_hash_arrays(text_col, n)
    # literal built as SQL text, NOT F.lit(list): py4j converts a
    # python list literal element-by-element — measured 11.3 s for a
    # 25k-hash eval set vs 0.02 s for the parsed array(...) text
    ev = F.expr(
        "array(" + ",".join(f"{int(h)}L" for h in eval_hashes) + ")"
        if eval_hashes
        else "array()"
    ).cast("array<bigint>")
    hashes = F.expr(h60)
    overlap = F.size(F.array_intersect(hashes, ev))
    return doc_stream.select(
        F.col(id_col).alias("doc_id"),
        F.size(hashes).cast("long").alias("n_ngrams"),
        overlap.cast("long").alias("n_overlap_ngrams"),
        (overlap > 0).alias("contaminated"),
    )


def streaming_sessionize(
    event_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    user_col: str = "user_id",
) -> DataFrame:
    """Custom stateful streaming operator: per-user sessionization with
    an inactivity gap, via ``applyInPandasWithState`` (the streaming
    twin of entry.q_events_sessionize).

    State per user = the open session (start, last event, count, value
    sum) as int64 microseconds; a session closes and is emitted either
    when a later event arrives more than ``gap`` after the last one, or
    when the event-time watermark passes last+gap (timeout path — this
    is what a windowed agg cannot express: the session length is
    data-dependent, not a fixed tumbling window).

    Output: (user_id, session_start, session_end, n_events,
    total_value), append mode.
    """
    import pandas as pd  # noqa: PLC0415 — worker-side import

    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = _duration_us(gap)

    out_schema = (
        f"{user_col} long, session_start timestamp, session_end timestamp,"
        " n_events long, total_value double"
    )
    state_schema = "start long, last long, n long, total double"

    def _emit(user, closed):
        # one DataFrame per group CALL, not per session: a long-history
        # user closes hundreds of sessions per batch, and building a
        # 1-row DataFrame (+ scalar to_datetime) per session made the
        # Python side ~3x the whole query (guide §4.2 — hand whole
        # batches to vectorized pandas, don't loop row-at-a-time)
        return pd.DataFrame(
            {
                user_col: [user] * len(closed),
                "session_start": pd.to_datetime(
                    [s[0] for s in closed], unit="us"
                ),
                "session_end": pd.to_datetime(
                    [s[1] for s in closed], unit="us"
                ),
                "n_events": [s[2] for s in closed],
                "total_value": [s[3] for s in closed],
            }
        )

    def sessionize(key, pdfs, state):
        (user,) = key
        if state.hasTimedOut:
            if state.exists:
                start, last, n, total = state.get
                yield _emit(user, [(start, last, n, total)])
            state.remove()
            return
        frames = [pdf for pdf in pdfs]
        rows = pd.concat(frames) if len(frames) > 1 else frames[0]
        rows = rows.sort_values("ts")
        ts_us = rows["ts"].astype("int64") // 1000
        vals = rows["value"].astype("float64")
        if state.exists:
            start, last, n, total = state.get
        else:
            start = None
        closed = []
        for t, v in zip(ts_us, vals):
            t = int(t)
            if start is None:
                start, last, n, total = t, t, 1, float(v)
            elif t - last > gap_us:
                closed.append((start, last, n, total))
                start, last, n, total = t, t, 1, float(v)
            else:
                last, n, total = t, n + 1, total + float(v)
        state.update((start, last, n, total))
        # event-time timeout at last + gap: fires once the watermark
        # passes it, closing the session without further events
        state.setTimeoutTimestamp((last + gap_us) // 1000)
        if closed:
            yield _emit(user, closed)

    return (
        event_stream.withWatermark("ts", watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            sessionize,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def _duration_us(spec: str) -> int:
    """'30 minutes' -> microseconds (same unit strings Spark accepts)."""
    n, unit = spec.split()
    mult = {
        "second": 1_000_000,
        "seconds": 1_000_000,
        "minute": 60_000_000,
        "minutes": 60_000_000,
        "hour": 3_600_000_000,
        "hours": 3_600_000_000,
        "day": 86_400_000_000,
        "days": 86_400_000_000,
    }[unit]
    return int(n) * mult


def streaming_countmin(
    value_stream: DataFrame,
    col: str,
    width: int = 1024,
    depth: int = 4,
    seed: int = 1234,
) -> DataFrame:
    """Continuously-maintained count-min sketch over a stream.

    The sketch's cell-wise-sum merge (sketches.CountMinSketch.merge) is
    exactly a streaming count aggregation keyed by (j, bucket): each
    micro-batch's cells add into the running counters, and the state is
    BOUNDED at d·w rows regardless of stream cardinality — no watermark
    needed, no per-key state growth. This is the streaming answer to
    "which blocking keys / tokens are heavy right now" that the batch
    sketch answers per-snapshot; estimates read from the sink with
    CountMinSketch.estimate against the latest counter table.

    Run with outputMode("complete") (the counter relation is tiny) or
    "update" (emit only touched cells per batch).
    """
    from sparker_spark.sketches import _bucket_col

    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                _bucket_col(col, j, width, depth, seed, portable=False),
            )
            for j in range(depth)
        ]
    )
    return (
        value_stream.select(F.explode(cells).alias("cell"))
        .groupBy(F.col("cell.j").alias("j"), F.col("cell.bucket").alias("bucket"))
        .agg(F.count("*").alias("n"))
    )


def streaming_hll(
    value_stream: DataFrame,
    col: str,
    group_cols: tuple[str, ...] = (),
    p: int = 10,
) -> DataFrame:
    """Continuously-maintained HyperLogLog registers over a stream.

    The register merge (sketches.HyperLogLog.merge) is cell-wise MAX —
    exactly a streaming max aggregation keyed by (groups..., bucket):
    each micro-batch raises its touched registers and the state is
    BOUNDED at 2**p rows per group regardless of stream cardinality —
    no watermark, no per-key state growth. The streaming counterpart
    of the batch distinct sketch: read the register table from the
    sink and apply HyperLogLog.estimate for a live distinct count.

    Run with outputMode("complete") (the register relation is tiny)
    or "update" (emit only raised registers per batch).
    """
    from sparker_spark.sketches import HyperLogLog, _portable_h60

    m = 1 << p
    h = _portable_h60(col, "spark")
    return (
        value_stream.select(
            *group_cols,
            F.expr(f"({h} % {m})").cast("long").alias("bucket"),
            F.expr(HyperLogLog._rho_sql(f"({h} div {m})")).cast("int").alias("rho"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("r"))
    )


def streaming_interval_join(
    left_stream: DataFrame,
    right_stream: DataFrame,
    key: str,
    interval: str = "1 hour",
    watermark: str = "2 hours",
    left_ts: str = "ts",
    right_ts: str = "ts",
) -> DataFrame:
    """Stream-stream inner interval join: left rows pair with right
    rows of the same key whose timestamp lies in
    ``[left_ts - interval, left_ts]`` — "attach the recent right-side
    context to each left event" as both sides flow.

    Both sides carry watermarks, and the join condition range-bounds
    the right timestamp, so Spark can size the join state: each side
    buffers only rows younger than watermark + interval (the
    documented state-cleanup contract for stream-stream joins). This
    is the streaming twin of rangejoin.py's banded batch join; the
    batch-parity test drives both over the same rows.
    """
    lw = left_stream.withWatermark(left_ts, watermark)
    rw = right_stream.withWatermark(right_ts, watermark)
    lcols = [F.col(f"l.{c}").alias(c) for c in left_stream.columns]
    rcols = [
        F.col(f"r.{c}").alias(c if c not in left_stream.columns else f"r_{c}")
        for c in right_stream.columns
        if c != key
    ]
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {interval}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}"))
    )
    return lw.alias("l").join(rw.alias("r"), cond, "inner").select(
        *lcols, *rcols
    )


def streaming_span_clean(
    doc_stream: DataFrame,
    corpus: DataFrame,
    shingle_size: int = 8,
    min_occurrences: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_index_size: int = 500_000,
) -> DataFrame:
    """Stateless stream-static duplicated-span cleaning: every newly
    ingested document has the word spans it shares with a STATIC
    training corpus cut out before entering the corpus (the streaming
    twin of llm.spans.spans_against_index + remove_spans — same
    windows, same portable 60-bit hashes, value-identical output
    columns).

    The corpus span index (llm.spans.span_index) is computed ONCE at
    graph-build time and bound into the plan as a BUCKETED literal
    (llm.spans.clean_against_hashes: probe cost ~O(sqrt(|index|))),
    guarded by ``max_index_size`` — the bound reflects plan-literal
    PARSE cost, which is linear in index size; beyond it, run the
    batch join path inside ``foreachBatch``. Each streamed row then
    computes its own window hashes, membership bits, and covered
    positions — no state store, no join, no shuffle; cost scales with
    ingest rate only.

    Output: (doc_id, clean_text, n_kept, n_removed), append mode.
    """
    from sparker_spark.llm.spans import clean_against_hashes, span_index

    idx = span_index(
        corpus.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("text"),
        ),
        shingle_size=shingle_size,
        min_occurrences=min_occurrences,
    )
    # enforce the guard BEFORE materializing anything on the driver:
    # an oversized index (the exact case the guard exists for) must
    # not be collected as a multi-GB blob first. limit(n+1).count()
    # stops scanning at the bound instead of counting the full index.
    over = idx.limit(int(max_index_size) + 1).count()
    if over > max_index_size:
        raise ValueError(
            f"corpus span index exceeds the array-literal bound "
            f"({max_index_size} windows); use the batch "
            "spans_against_index via foreachBatch"
        )
    # collect the index as ONE pre-joined string, not 100k+ Rows —
    # py4j row conversion dominates the collect otherwise (measured
    # 6.3 s -> ~1 s for a 181k-hash index)
    blob = idx.agg(
        F.concat_ws(" ", F.sort_array(F.collect_list("h")))
    ).first()[0]
    hashes = [int(x) for x in blob.split(" ")] if blob else []
    return clean_against_hashes(
        doc_stream,
        hashes,
        shingle_size=shingle_size,
        text_col=text_col,
        id_col=id_col,
    )
