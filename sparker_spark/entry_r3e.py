"""Round-3 graded-query additions (fifth batch): event-analytics and
corpus-quality operators.

  * ``funnel_conversion`` — strict-order multi-step funnel over the
    events stream (funnel.py): per-step user counts where each step
    must occur strictly after the user's previous step time.
  * ``retention_cohorts`` — day-cohort retention matrix (funnel.py):
    users cohorted by first-event date, distinct-active counts per
    (cohort_day, day_offset).
  * ``hll_users`` — engine-portable HyperLogLog distinct-user sketch
    per event_type (sketches.py HyperLogLog): md5-derived bucket/rho,
    integer-exact harmonic sum, bit-identical estimates across
    engines; reported next to the exact distinct count.
  * ``quality_quantile`` — per-language exact-quantile quality floor
    (llm/curation.py QualityFilter): keep documents at or above the
    language's ceil(0.25·n)-th smallest blended quality score.
  * ``tfidf_top_terms`` — per-document top-3 tf·idf terms
    (llm/text.py): two hash aggregates + driver-scalar count + per-doc
    window top-k, ranked on the rounded score for engine-stable ties.
  * ``sample_stratified`` — per-source exact-k deterministic sample
    (llm/sampling.py stratified_bottom_k): k smallest hash coordinates
    per group, a pure function of the keys — stable across engines,
    partitionings, and ingestion order.
  * ``jaccard_prefix_join`` — prefix-filtered exact set-similarity
    join (llm/setjoin.py): PPJoin-style lossless candidate pruning on
    globally frequency-ordered tokens, verified pairs identical to the
    brute-force oracle.
  * ``bloom_purchasers`` — Bloom-filter semi-join pruning
    (sketches.py BloomFilter): portable bit-position relation with
    union-distinct merge; probes have no false negatives.
  * ``events_decay`` — per-user exponentially time-decayed value
    (funnel.py Decay): per-term rounding + exact DECIMAL summation
    makes the irrational-term sum order- and engine-invariant.
  * ``events_anomaly`` — hourly rate z-scores from exact integer
    window sums (funnel.py Anomaly).
  * ``event_transitions`` / ``funnel_latency`` — first-order Markov
    matrix and exact step-latency quantiles (funnel.py).
  * ``token_pmi`` / ``events_sliding`` — document-level PMI
    collocations (llm/text.py Collocations) and epoch-aligned
    sliding-window counts (rollup.py SlidingWindows).
  * ``events_asof_nearest`` — the as-of join's nearest direction
    (asof.py), oracle = brute-force ranked candidates.
  * ``tpch_q6ish`` / ``tpch_q4ish`` — scan-filter-aggregate and
    EXISTS-as-residual-semi-join relational shapes.
  * ``stream_sessions`` — the stateful STREAMING sessionizer run
    with availableNow under the full value-hash gate (watermark
    pinned past the data so the emitted set is batch-derivable).
  * ``events_session_window`` / ``events_rollup_cube`` — built-in
    session_window parity and ROLLUP grouping sets.
  * ``pagerank_dedup`` — bit-reproducible fixed-iteration PageRank
    over the near-dup graph (graph.py PageRank).
  * ``sample_weighted`` — Efraimidis–Spirakis weighted sampling
    without replacement (llm/sampling.py weighted_bottom_k).
  * ``events_json_variant`` — Spark-4 VariantType open-schema JSON
    aggregation (parse_json + typed try_variant_get).
  * ``join_size_estimate`` — count-min inner-product join-size
    estimation (sketches.cm_inner_product).

The reference has no counterpart for any of these (its surface stops
at ER), so the DuckDB oracle SQL below is the ground-truth definition.
"""

from __future__ import annotations

import itertools as _itertools

from sparker_spark.llm.text import LANG_STOPWORDS
from sparker_spark.session import shuffle_partitions

_SINK_SEQ = _itertools.count()


def _await_stream(q, stage: str | None = None, timeout: int = 300) -> None:
    """Drain an availableNow streaming query. awaitTermination(timeout)
    returns False on timeout — ignoring that would read the memory
    sink while the query is still running and turn a slow run into a
    nondeterministic value-hash mismatch; raise a clear error instead.
    ``stage``, when given, is a CALLER-OWNED staging dir removed after
    the drain; memoized stages (entry_r5._stage_copy/_stage_frame with
    ``key=``) pass None — they persist for the process so bench reps
    never re-pay (or re-time) fixture setup, and atexit cleans them."""
    import shutil

    try:
        if not q.awaitTermination(timeout):
            q.stop()
            raise TimeoutError(
                f"streaming query did not finish within {timeout}s"
            )
    finally:
        if stage is not None:
            shutil.rmtree(stage, ignore_errors=True)

FUNNEL_STEPS = ["view", "click", "signup", "purchase"]
STREAM_GAP = "30 minutes"
STREAM_GAP_US = 30 * 60 * 1_000_000
HLL_P = 10
QQ_FRAC = 0.25
TFIDF_K = 3


# ------------------------------------------------------------- funnel
def q_funnel_conversion(spark, sf_dir):
    from sparker_spark.entry import _load_events
    from sparker_spark.funnel import Funnel

    return Funnel.conversion(_load_events(spark, sf_dir), FUNNEL_STEPS)


def _o_funnel() -> str:
    ctes = [
        f"s1 AS (SELECT user_id, min(ts) AS t FROM events"
        f" WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id)"
    ]
    for i, step in enumerate(FUNNEL_STEPS[1:], start=2):
        ctes.append(
            f"s{i} AS (SELECT e.user_id, min(e.ts) AS t FROM events e"
            f" JOIN s{i - 1} p ON e.user_id = p.user_id AND e.ts > p.t"
            f" WHERE e.event_type = '{step}' GROUP BY e.user_id)"
        )
    rows = "\nUNION ALL ".join(
        f"SELECT CAST({i + 1} AS INTEGER) AS step, '{s}' AS step_name,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM s{i + 1}) AS n_users"
        for i, s in enumerate(FUNNEL_STEPS)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + rows


# ---------------------------------------------------------- retention
def q_retention_cohorts(spark, sf_dir):
    from sparker_spark.entry import _load_events
    from sparker_spark.funnel import Retention

    return Retention.cohorts(_load_events(spark, sf_dir))


O_RETENTION = """
WITH first AS (
  SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
  FROM events GROUP BY user_id),
active AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(datediff('day', cohort_day, day) AS INTEGER) AS day_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM active JOIN first USING (user_id)
GROUP BY 1, 2"""


# -------------------------------------------------------- HLL sketch
def q_hll_users(spark, sf_dir):
    from pyspark.sql import functions as F

    from sparker_spark.entry import _load_events
    from sparker_spark.rounding import rnd
    from sparker_spark.sketches import HyperLogLog

    ev = _load_events(spark, sf_dir)
    regs = HyperLogLog.registers(ev, "user_id", ("event_type",), p=HLL_P)
    est = HyperLogLog.estimate(regs, ("event_type",), p=HLL_P)
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("n_exact")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "n_registers",
        rnd("hll_estimate", 4).alias("hll_estimate"),
        "n_exact",
        rnd(
            F.abs(F.col("hll_estimate") - F.col("n_exact")) / F.col("n_exact"), 6
        ).alias("rel_err"),
    )


def _o_hll_users() -> str:
    from sparker_spark.sketches import HyperLogLog

    hll = HyperLogLog.duck_sql("events", "user_id", ("event_type",), p=HLL_P)
    return f"""
WITH hll AS ({hll}),
ex AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
       FROM events GROUP BY event_type)
SELECT h.event_type, h.n_registers,
       round(h.hll_estimate, 4) AS hll_estimate,
       ex.n_exact,
       round(abs(h.hll_estimate - ex.n_exact) / ex.n_exact, 6) AS rel_err
FROM hll h JOIN ex USING (event_type)"""


# ------------------------------------------------- quality quantile
def q_quality_quantile(spark, sf_dir):
    from sparker_spark.entry import load
    from sparker_spark.llm.curation import QualityFilter

    return QualityFilter.quantile_cutoff(
        load(spark, sf_dir, "documents"), frac=QQ_FRAC, group_col="lang"
    )


def _o_quality_quantile() -> str:
    stop_list = ",".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
    return f"""
WITH t AS (
  SELECT doc_id, lang, text,
         regexp_split_to_array(lower(text), '[ \\t\\r\\n\\f\\x0B]+') AS toks
  FROM documents),
m AS (
  SELECT doc_id, lang,
         CAST(len(toks) AS DOUBLE) AS n,
         CAST(len(list_filter(toks, x -> list_contains([{stop_list}], x))) AS DOUBLE) AS n_stop,
         CAST(len(list_filter(toks, x -> regexp_full_match(x, '[a-z]+'))) AS DOUBLE) AS n_alpha,
         CAST(length(regexp_replace(text, '[a-zA-Z0-9 \\t\\r\\n\\f\\x0B]', '', 'g')) AS DOUBLE) AS n_punct,
         CAST(length(text) AS DOUBLE) AS n_chars
  FROM t),
scores AS (
  SELECT doc_id, lang,
         round(0.3 * (n_alpha / n)
             + 0.3 * least(n_chars / 500.0, 1.0)
             + 0.2 * (n_stop / n)
             + 0.2 * (1.0 - least(n_punct / n_chars * 5.0, 1.0)), 6) AS quality_score
  FROM m),
ranked AS (
  SELECT *, row_number() OVER
            (PARTITION BY lang ORDER BY quality_score, doc_id) AS rk,
         count(*) OVER (PARTITION BY lang) AS n
  FROM scores),
cutoffs AS (
  SELECT lang, quality_score AS cutoff FROM ranked
  WHERE rk = CAST(ceil({QQ_FRAC} * n) AS BIGINT))
SELECT s.doc_id, s.lang, s.quality_score, c.cutoff,
       s.quality_score >= c.cutoff AS kept
FROM scores s JOIN cutoffs c USING (lang)"""


# ------------------------------------------- CM heavy hitters
CMH_W = 1024
CMH_D = 4
CMH_K = 10


def q_cm_heavy_hitters(spark, sf_dir):
    """The count-min sketch's primary workflow under the gate: build
    the portable sketch over event user_ids, probe each candidate key
    against it, rank by the (one-sided) estimate — heavy hitters with
    the exact count alongside. Ties break on user_id so the top-k is
    deterministic."""
    from pyspark.sql import functions as F

    from sparker_spark.entry import _load_events
    from sparker_spark.sketches import CountMinSketch

    ev = _load_events(spark, sf_dir)
    sketch = CountMinSketch.build(
        ev, "user_id", CMH_W, CMH_D, portable=True
    )
    users = ev.select("user_id").distinct()
    est = CountMinSketch.estimate(
        sketch, users, "user_id", CMH_W, CMH_D, portable=True
    )
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact_n"))
    return (
        est.join(exact, "user_id")
        .select(
            "user_id",
            F.col("estimate").cast("long").alias("estimate"),
            F.col("exact_n").cast("long").alias("exact_n"),
            (F.col("estimate") >= F.col("exact_n")).alias("one_sided_holds"),
        )
        .orderBy(F.desc("estimate"), F.asc("user_id"))
        .limit(CMH_K)
    )


def _o_cm_heavy_hitters() -> str:
    from sparker_spark.llm.hashing import minhash_coefficients
    from sparker_spark.sketches import _portable_h31, portable_bucket_sql

    coeffs = minhash_coefficients(CMH_D, 1234)
    h31 = _portable_h31("user_id", "duck")
    cells = " UNION ALL ".join(
        f"SELECT {j} AS j, {portable_bucket_sql(coeffs[j], CMH_W, h31)} AS bucket"
        f" FROM events"
        for j in range(CMH_D)
    )
    probes = " UNION ALL ".join(
        f"SELECT user_id, {j} AS j,"
        f" {portable_bucket_sql(coeffs[j], CMH_W, h31)} AS bucket FROM users"
        for j in range(CMH_D)
    )
    return f"""
WITH sk AS (SELECT j, bucket, count(*) AS n FROM ({cells}) GROUP BY j, bucket),
users AS (SELECT DISTINCT user_id FROM events),
probes AS ({probes}),
est AS (
  SELECT p.user_id, CAST(min(COALESCE(sk.n, 0)) AS BIGINT) AS estimate
  FROM probes p LEFT JOIN sk ON p.j = sk.j AND p.bucket = sk.bucket
  GROUP BY p.user_id),
ex AS (SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
       FROM events GROUP BY user_id)
SELECT est.user_id, estimate, exact_n, estimate >= exact_n AS one_sided_holds
FROM est JOIN ex USING (user_id)
ORDER BY estimate DESC, user_id ASC
LIMIT {CMH_K}"""


# --------------------------------------- near-dup source matrix
def q_dedup_source_matrix(spark, sf_dir):
    """Corpus-governance report: which sources near-duplicate each
    other — MinHash-LSH pairs joined back to the source column,
    counted per unordered source pair. The answer to 'which crawls
    should we stop ingesting' at fleet scale."""
    from pyspark.sql import functions as F

    from sparker_spark.entry import (
        JACCARD_T,
        MINHASH_BANDS,
        MINHASH_K,
        SHINGLE,
        load,
    )
    from sparker_spark.llm.dedup import Dedup

    docs = load(spark, sf_dir, "documents")
    pairs = Dedup.minhash_lsh_pairs(
        docs, MINHASH_K, MINHASH_BANDS, SHINGLE, JACCARD_T
    ).select("p1", "p2")
    src = docs.select("doc_id", "source")
    tagged = (
        pairs.join(
            src.select(F.col("doc_id").alias("p1"), F.col("source").alias("s1")),
            "p1",
        )
        .join(
            src.select(F.col("doc_id").alias("p2"), F.col("source").alias("s2")),
            "p2",
        )
        .select(
            F.least("s1", "s2").alias("source_a"),
            F.greatest("s1", "s2").alias("source_b"),
        )
    )
    return tagged.groupBy("source_a", "source_b").agg(
        F.count("*").cast("long").alias("n_pairs")
    )


def _o_dedup_source_matrix() -> str:
    from sparker_spark.entry import _o_dedup_minhash

    return f"""
WITH mh AS ({_o_dedup_minhash()}),
src AS (SELECT doc_id, source FROM documents)
SELECT least(a.source, b.source) AS source_a,
       greatest(a.source, b.source) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM mh JOIN src a ON mh.p1 = a.doc_id JOIN src b ON mh.p2 = b.doc_id
GROUP BY 1, 2"""


# --------------------------------- streaming HLL under the gate
def q_stream_hll(spark, sf_dir):
    """Third Structured Streaming query under the value-hash gate:
    the continuously-maintained HLL register table (cell-wise-max
    streaming aggregation, state bounded at 2^p rows) after consuming
    the events file equals the batch registers, which the DuckDB
    oracle replays through the portable md5/bin() formulas."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from sparker_spark.streaming.incremental import streaming_hll

    path = f"{sf_dir}/events.parquet"
    from sparker_spark.entry_r5 import _stage_copy

    stage = _stage_copy(path, "stream_hll_")
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(stage)
    regs = streaming_hll(stream, "user_id", p=HLL_P)
    sink = f"stream_hll_sink_{next(_SINK_SEQ)}"
    # complete mode re-emits the full register table every batch — the
    # trailing no-data batch recomputes the identical relation
    from sparker_spark.entry_r5 import NO_FINAL_BATCH
    from sparker_spark.session import scoped_conf

    with scoped_conf(spark, NO_FINAL_BATCH):
        q = (
            regs.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q)
    return spark.table(sink).select(
        "bucket", F.col("r").cast("int").alias("r")
    )


def _o_stream_hll() -> str:
    from sparker_spark.sketches import HyperLogLog, _portable_h60

    m = 1 << HLL_P
    h = _portable_h60("user_id", "duck")
    rho = HyperLogLog._rho_sql(f"({h} // {m})")
    return f"""
SELECT ({h} % {m}) AS bucket, CAST(max({rho}) AS INTEGER) AS r
FROM events GROUP BY 1"""


# ------------------------------------------ within-session funnel
def q_session_funnel(spark, sf_dir):
    """Funnel conversion WITHIN sessions: all steps must occur in
    strict order inside one 30-minute-gap session (the product-
    analytics variant of the global funnel — a next-day purchase does
    not convert). Composition: the lag-rule session id becomes part of
    the funnel grouping key, then Funnel.step_times runs unchanged
    with (user, session) as its unit. Output: (step, step_name,
    n_sessions)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from sparker_spark.entry import _load_events
    from sparker_spark.funnel import Funnel

    ev = _load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    with_sid = ev.withColumn(
        "_new",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
            > F.lit(STREAM_GAP_US)
        ).cast("int"),
    ).withColumn(
        "usid",
        F.concat_ws(
            "#",
            F.col("user_id"),
            F.sum(F.coalesce("_new", F.lit(0))).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        ),
    )
    st = Funnel.step_times(with_sid, FUNNEL_STEPS, user_col="usid")
    counts = st.agg(
        *[
            F.count(f"t{i + 1}").alias(f"n{i + 1}")
            for i in range(len(FUNNEL_STEPS))
        ]
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("step"),
                F.lit(s).alias("step_name"),
                F.col(f"n{i + 1}").alias("n_sessions"),
            )
            for i, s in enumerate(FUNNEL_STEPS)
        ]
    )
    return counts.select(F.explode(pairs).alias("r")).select(
        "r.step", "r.step_name", "r.n_sessions"
    )


def _o_session_funnel() -> str:
    ctes = [
        f"""w AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) > {STREAM_GAP_US}
              THEN 1 ELSE 0 END AS new_session
  FROM events)""",
        """sess AS (
  SELECT user_id, event_id, ts, event_type,
         concat_ws('#', user_id,
                   sum(new_session) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING)) AS usid
  FROM w)""",
        f"s1 AS (SELECT usid, min(ts) AS t FROM sess"
        f" WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY usid)",
    ]
    for i, step in enumerate(FUNNEL_STEPS[1:], start=2):
        ctes.append(
            f"s{i} AS (SELECT e.usid, min(e.ts) AS t FROM sess e"
            f" JOIN s{i - 1} p ON e.usid = p.usid AND e.ts > p.t"
            f" WHERE e.event_type = '{step}' GROUP BY e.usid)"
        )
    rows = "\nUNION ALL ".join(
        f"SELECT CAST({i + 1} AS INTEGER) AS step, '{s}' AS step_name,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM s{i + 1}) AS n_sessions"
        for i, s in enumerate(FUNNEL_STEPS)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + rows


# ------------------------------------ distributed global ranking
def q_user_value_rank(spark, sf_dir):
    """The distributed two-phase ranker (ranking.global_rank — range
    partition + per-partition offsets, no single-partition window)
    under the gate directly: dense global rank of users by total
    event value."""
    from pyspark.sql import functions as F

    from sparker_spark.entry import _load_events
    from sparker_spark.ranking import global_rank
    from sparker_spark.rounding import rnd

    ev = _load_events(spark, sf_dir)
    totals = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("_t")
    )
    ranked = global_rank(
        totals.select(
            "user_id", F.col("_t").cast("double").alias("total_value")
        ),
        ["total_value", "user_id"],
        out="rank_asc",
    )
    return ranked.select(
        "user_id",
        rnd("total_value", 4).alias("total_value"),
        (F.col("rank_asc") + 1).cast("long").alias("rank_asc"),
    )


O_USER_VALUE_RANK = """
WITH t AS (
  SELECT user_id,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
  FROM events GROUP BY user_id)
SELECT user_id, round(total_value, 4) AS total_value,
       CAST(row_number() OVER (ORDER BY total_value, user_id) AS BIGINT)
         AS rank_asc
FROM t"""


# --------------------------- streaming count-min under the gate
SCM_W = 512
SCM_D = 4


def q_stream_countmin(spark, sf_dir):
    """Second Structured Streaming query under the value-hash gate:
    the continuously-maintained count-min counter table (cell-wise-sum
    streaming aggregation, complete mode, state bounded at d x w rows)
    after consuming the events file equals the batch sketch — which
    the DuckDB oracle replays through the portable hash family."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from sparker_spark.llm.hashing import minhash_coefficients
    from sparker_spark.sketches import _portable_h31, portable_bucket_sql

    path = f"{sf_dir}/events.parquet"
    from sparker_spark.entry_r5 import _stage_copy

    stage = _stage_copy(path, "stream_cm_")
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(stage)
    coeffs = minhash_coefficients(SCM_D, 1234)
    h31 = _portable_h31("user_id", "spark")
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    F.expr(portable_bucket_sql(coeffs[j], SCM_W, h31))
                    .cast("long")
                    .alias("bucket"),
                )
                for j in range(SCM_D)
            ]
        )
    ).alias("cell")
    counters = (
        stream.select(cells)
        .groupBy(F.col("cell.j").alias("j"), F.col("cell.bucket").alias("bucket"))
        .agg(F.count("*").alias("n"))
    )
    sink = f"stream_cm_sink_{next(_SINK_SEQ)}"
    # complete mode re-emits the full counter table every batch — the
    # trailing no-data batch recomputes the identical relation
    from sparker_spark.entry_r5 import NO_FINAL_BATCH
    from sparker_spark.session import scoped_conf

    with scoped_conf(spark, NO_FINAL_BATCH):
        q = (
            counters.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q)
    return spark.table(sink).select(
        F.col("j").cast("int").alias("j"),
        "bucket",
        F.col("n").cast("long").alias("n"),
    )


def _o_stream_countmin() -> str:
    from sparker_spark.llm.hashing import minhash_coefficients
    from sparker_spark.sketches import _portable_h31, portable_bucket_sql

    coeffs = minhash_coefficients(SCM_D, 1234)
    h31 = _portable_h31("user_id", "duck")
    rows = " UNION ALL ".join(
        f"SELECT {j} AS j, {portable_bucket_sql(coeffs[j], SCM_W, h31)} AS bucket"
        f" FROM events"
        for j in range(SCM_D)
    )
    return (
        f"SELECT CAST(j AS INTEGER) AS j, bucket,"
        f" CAST(count(*) AS BIGINT) AS n FROM ({rows}) GROUP BY j, bucket"
    )


# -------------------------------------------- frequent itemsets
FPG_MIN_SUPPORT = 0.4
FPG_MAX_SIZE = 3


def q_frequent_itemsets(spark, sf_dir):
    """Frequent itemsets up to size 3 at 40% support over document
    token sets, canonicalized (items sorted, joined) so the output is
    engine-comparable.

    r12: DataFrame Apriori replaces MLlib FP-Growth. FP-Growth's RDD
    path (genFreqItems + genFreqItemsets + driver-held FP-trees) cost
    ~5 driver-orchestrated jobs outside codegen; the SAME output —
    pinned by the unchanged value-hash oracle — falls out of three
    hash aggregates. Downward closure makes it lossless: every item of
    a frequent pair/triple is itself frequent, so enumerating
    combinations of each doc's FREQUENT tokens only (a per-doc array
    bounded by the frequent-singleton count, which 40% support keeps
    tiny at any corpus size: Σ doc_len / (0.4·n) tokens at most)
    exactly reproduces the filtered FP-Growth output, at any scale,
    with no driver tree state."""
    import math

    from pyspark.sql import functions as F

    from sparker_spark.entry import load

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_distinct(
            F.filter(
                F.split(F.lower(F.col("text")), "[ \\t\\r\\n\\f\\x0B]+"),
                lambda t: F.length(t) > 0,
            )
        ).alias("items"),
    )
    # FPGrowth's own threshold rule: minCount = ceil(minSupport * n),
    # kept as a driver scalar exactly like the purge histogram
    n_docs = docs.count()
    minc = int(math.ceil(FPG_MIN_SUPPORT * n_docs))
    toks = docs.select("doc_id", F.explode("items").alias("tok"))
    s1 = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("freq"))
        .where(F.col("freq") >= minc)
        .localCheckpoint(eager=True)  # feeds the output AND the
        # frequent-token broadcast filter below
    )
    # per-doc sorted array of its FREQUENT tokens; the broadcast is
    # bounded by the support threshold (see docstring), not the corpus
    # re-spread after the checkpoint: AQE coalesces the tiny per-doc
    # aggregate to ~1 partition, which would serialize the O(m³)
    # combination explode below onto one core (same fixup as the
    # feature-generator mask loop)
    par = shuffle_partitions(spark)
    arr = (
        toks.join(F.broadcast(s1.select("tok")), "tok")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("tok")).alias("arr"))
        .select("arr")
        .localCheckpoint(eager=True)  # pair and triple legs
        .repartition(par)
    )
    pairs = F.expr(
        "flatten(transform(arr, (x, i) -> "
        "transform(slice(arr, i + 2, size(arr)), "
        "y -> concat(x, ' ', y))))"
    )
    triples = F.expr(
        "flatten(flatten(transform(arr, (x, i) -> "
        "transform(slice(arr, i + 2, size(arr)), (y, j) -> "
        "transform(slice(arr, i + j + 3, size(arr)), "
        "z -> concat_ws(' ', x, y, z))))))"
    )

    def count_sets(col, size):
        return (
            arr.select(F.explode(col).alias("itemset"))
            .groupBy("itemset")
            .agg(F.count("*").alias("freq"))
            .where(F.col("freq") >= minc)
            .select(
                "itemset",
                F.lit(size).cast("int").alias("size"),
                F.col("freq").cast("long").alias("freq"),
            )
        )

    out1 = s1.select(
        F.col("tok").alias("itemset"),
        F.lit(1).cast("int").alias("size"),
        F.col("freq").cast("long").alias("freq"),
    )
    return out1.unionByName(count_sets(pairs, 2)).unionByName(
        count_sets(triples, 3)
    )


def _o_frequent_itemsets() -> str:
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(text), '[ \\t\\r\\n\\f\\x0B]+'),
                                  x -> len(x) > 0)) AS tok
        FROM documents)),
nd AS (SELECT count(*) AS n FROM documents),
s1 AS (
  SELECT tok AS itemset, 1 AS size, count(*) AS freq
  FROM toks GROUP BY tok),
s2 AS (
  SELECT concat_ws(' ', a.tok, b.tok) AS itemset, 2 AS size,
         count(*) AS freq
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY 1),
s3 AS (
  SELECT concat_ws(' ', a.tok, b.tok, c.tok) AS itemset, 3 AS size,
         count(*) AS freq
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND a.tok < b.tok
  JOIN toks c ON a.doc_id = c.doc_id AND b.tok < c.tok
  GROUP BY 1),
allsets AS (
  SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
SELECT itemset, CAST(size AS INTEGER) AS size, CAST(freq AS BIGINT) AS freq
FROM allsets CROSS JOIN nd
WHERE freq >= ceil({FPG_MIN_SUPPORT!r} * n)"""


# -------------------------------------------------- path mining
PATH_LEN = 3
PATH_K = 20


def q_event_paths(spark, sf_dir):
    from sparker_spark.entry import _load_events
    from sparker_spark.funnel import Paths

    return Paths.top_event_paths(_load_events(spark, sf_dir), PATH_LEN, PATH_K)


O_EVENT_PATHS = f"""
WITH seq AS (
  SELECT event_type AS a,
         lead(event_type, 1) OVER w AS b,
         lead(event_type, 2) OVER w AS c
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
paths AS (
  SELECT concat_ws(' > ', a, b, c) AS path,
         CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE c IS NOT NULL GROUP BY 1),
ranked AS (
  SELECT path, n,
         CAST(row_number() OVER (ORDER BY n DESC, path) AS INTEGER) AS rank
  FROM paths)
SELECT path, n, rank FROM ranked WHERE rank <= {PATH_K}"""


# --------------------------------------------- data-quality scan
def q_dq_events(spark, sf_dir):
    from sparker_spark.entry import _load_events
    from sparker_spark.stats import DataQuality

    return DataQuality.report(
        _load_events(spark, sf_dir),
        not_null=["user_id", "event_type"],
        unique=["event_id"],
        ranges={"value": (0.0, 100.0)},
    )


O_DQ_EVENTS = """
WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM events)
SELECT 'null:user_id' AS check,
       (SELECT CAST(count(*) AS BIGINT) FROM events WHERE user_id IS NULL)
         AS violations, n_rows FROM n
UNION ALL
SELECT 'null:event_type',
       (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_type IS NULL),
       n_rows FROM n
UNION ALL
SELECT 'range:value',
       (SELECT CAST(count(*) AS BIGINT) FROM events
        WHERE value IS NOT NULL AND (value < 0.0 OR value > 100.0)),
       n_rows FROM n
UNION ALL
SELECT 'unique:event_id',
       (SELECT CAST(COALESCE(sum(c - 1), 0) AS BIGINT)
        FROM (SELECT count(*) AS c FROM events GROUP BY event_id
              HAVING count(*) > 1)),
       n_rows FROM n"""


# -------------------------------------- CM join-size estimation
CMJ_W = 1024
CMJ_D = 4


def q_join_size_estimate(spark, sf_dir):
    """Planning-time join-size diagnostics from sketches alone: the
    CM inner product estimates |clicks join purchases on user_id|
    without re-scanning either side; the exact size rides along."""
    from pyspark.sql import functions as F

    from sparker_spark.entry import _load_events
    from sparker_spark.sketches import CountMinSketch, cm_inner_product

    ev = _load_events(spark, sf_dir)
    clicks = ev.where("event_type = 'click'").select("user_id")
    buys = ev.where("event_type = 'purchase'").select("user_id")
    sa = CountMinSketch.build(clicks, "user_id", CMJ_W, CMJ_D, portable=True)
    sb = CountMinSketch.build(buys, "user_id", CMJ_W, CMJ_D, portable=True)
    est = cm_inner_product(sa, sb)
    exact = clicks.join(buys, "user_id").count()
    return est.select(
        "estimate",
        F.lit(int(exact)).cast("long").alias("exact"),
        (F.col("estimate") >= F.lit(int(exact))).alias("one_sided_holds"),
    )


def _o_join_size_estimate() -> str:
    from sparker_spark.llm.hashing import minhash_coefficients
    from sparker_spark.sketches import _portable_h31, portable_bucket_sql

    coeffs = minhash_coefficients(CMJ_D, 1234)
    h31 = _portable_h31("user_id", "duck")

    def sketch(src_where: str) -> str:
        rows = " UNION ALL ".join(
            f"SELECT {j} AS j, {portable_bucket_sql(coeffs[j], CMJ_W, h31)} AS bucket"
            f" FROM events WHERE {src_where}"
            for j in range(CMJ_D)
        )
        return f"SELECT j, bucket, count(*) AS n FROM ({rows}) GROUP BY j, bucket"

    return f"""
WITH sa AS ({sketch("event_type = 'click'")}),
sb AS ({sketch("event_type = 'purchase'")}),
ip AS (
  SELECT sa.j, sum(sa.n * sb.n) AS ip
  FROM sa JOIN sb ON sa.j = sb.j AND sa.bucket = sb.bucket
  GROUP BY sa.j),
est AS (SELECT CAST(min(ip) AS BIGINT) AS estimate FROM ip),
ex AS (
  SELECT CAST(count(*) AS BIGINT) AS exact
  FROM (SELECT user_id FROM events WHERE event_type = 'click') c
  JOIN (SELECT user_id FROM events WHERE event_type = 'purchase') p
    USING (user_id))
SELECT estimate, exact, estimate >= exact AS one_sided_holds
FROM est CROSS JOIN ex"""


# ----------------------------------------- VariantType JSON path
def q_events_json_variant(spark, sf_dir):
    """Semi-structured aggregation through Spark 4's VariantType:
    parse_json once, typed try_variant_get extraction — the
    open-schema path (vs events_json_stats' get_json_object string
    probing). avg is assembled from the exact integer sum."""
    from pyspark.sql import functions as F

    from sparker_spark.entry import _load_events
    from sparker_spark.rounding import rnd

    ev = _load_events(spark, sf_dir)
    k = F.try_variant_get(F.parse_json("props"), "$.k", "long")
    per = ev.select("event_type", k.alias("k")).where(F.col("k").isNotNull())
    return per.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.min("k").cast("long").alias("min_k"),
        F.max("k").cast("long").alias("max_k"),
        rnd(F.sum("k").cast("double") / F.count("*"), 6).alias("avg_k"),
    )


O_EVENTS_JSON_VARIANT = """
WITH ex AS (
  SELECT event_type, CAST(props ->> 'k' AS BIGINT) AS k FROM events)
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       min(k) AS min_k, max(k) AS max_k,
       round(CAST(sum(k) AS DOUBLE) / count(*), 6) AS avg_k
FROM ex WHERE k IS NOT NULL
GROUP BY event_type"""


# ------------------------------------------- weighted sampling
WSAMPLE_K = 50
WSAMPLE_SEED = 3


def q_sample_weighted(spark, sf_dir):
    from sparker_spark.entry import load
    from sparker_spark.llm.sampling import Sampling

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return Sampling.weighted_bottom_k(
        docs, "doc_id", "n_chars", WSAMPLE_K, seed=WSAMPLE_SEED
    )


def _o_sample_weighted() -> str:
    from sparker_spark.llm.sampling import _coord_sql

    coord = _coord_sql("doc_id", WSAMPLE_SEED, "duck")
    return f"""
SELECT doc_id, n_chars,
       round(pow({coord}, 1.0 / CAST(n_chars AS DOUBLE)), 12)
         AS sample_rank_key
FROM documents
WHERE n_chars > 0
ORDER BY sample_rank_key DESC, doc_id ASC
LIMIT {WSAMPLE_K}"""


# --------------------------------------- PageRank over dedup graph
PR_DAMPING = 0.85
PR_ITER = 5


def q_pagerank_dedup(spark, sf_dir):
    """Fixed-iteration PageRank over the n-gram-Jaccard near-dup
    graph: node centrality identifies the 'canonical-est' documents
    inside duplicate clusters."""
    from sparker_spark.entry import JACCARD_T, SHINGLE, load
    from sparker_spark.graph import PageRank
    from sparker_spark.llm.dedup import Dedup

    edges = Dedup.ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), SHINGLE, JACCARD_T
    ).select("p1", "p2")
    return PageRank.run(edges, PR_DAMPING, PR_ITER).withColumnRenamed(
        "node", "doc_id"
    )


def _o_pagerank_dedup() -> str:
    from sparker_spark.entry import O_DEDUP_NGRAM_JACCARD
    from sparker_spark.graph import PageRank

    edges_cte = f"SELECT p1, p2 FROM ({O_DEDUP_NGRAM_JACCARD})"
    sql = PageRank.duck_sql(edges_cte, PR_DAMPING, PR_ITER)
    return sql.replace(
        "SELECT node, round(pr,", "SELECT node AS doc_id, round(pr,"
    )


# ------------------------------- built-in session_window parity
def q_events_session_window(spark, sf_dir):
    """Sessionization via Spark's BUILT-IN session_window (the
    streaming-compatible gap window), next to the hand-rolled lag-rule
    sessionizer (events_sessionize). Semantics note: session_window
    starts a NEW session when the gap is >= the threshold (the lag
    rule uses strictly >); the oracle replicates the built-in's rule.
    """
    from pyspark.sql import functions as F

    from sparker_spark.entry import _load_events
    from sparker_spark.rounding import rnd

    ev = _load_events(spark, sf_dir)
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            rnd(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 4
            ).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


O_EVENTS_SESSION_WINDOW = f"""
WITH w AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) >= {STREAM_GAP_US}
              THEN 1 ELSE 0 END AS new_session
  FROM events),
s AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM w)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS total_value
FROM s GROUP BY user_id, sid"""


# ---------------------------------------- ROLLUP / grouping sets
def q_events_rollup_cube(spark, sf_dir):
    from pyspark.sql import functions as F

    from sparker_spark.entry import _load_events
    from sparker_spark.rounding import rnd

    ev = _load_events(spark, sf_dir).withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    return (
        ev.rollup("event_type", "day")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count("*").cast("long").alias("n"),
            rnd(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 4
            ).alias("total_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("day", F.lit("ALL")).alias("day"),
            "gid",
            "n",
            "total_value",
        )
    )


O_EVENTS_ROLLUP = """
SELECT COALESCE(event_type, 'ALL') AS event_type,
       COALESCE(day, 'ALL') AS day,
       CAST(GROUPING(event_type) * 2 + GROUPING(day) AS INTEGER) AS gid,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS total_value
FROM (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, value FROM events)
GROUP BY ROLLUP (event_type, day)"""


# ---------------------------------- streaming under the oracle gate


def q_stream_sessions(spark, sf_dir):
    """A REAL Structured Streaming query under the value-hash gate:
    applyInPandasWithState sessionization run with availableNow over
    the events file, emitted rows compared against a batch SQL oracle.

    Determinism contract: the watermark is set beyond the data's time
    range so the event-time timeout never fires, making the emitted
    set exactly "every session except each user's open last one" —
    independent of micro-batch boundaries. total_value is a
    sequential float64 sum over gap-bounded sessions of 2-dp values,
    so rounding to 4 decimals equals the oracle's exact-DECIMAL sum.
    """
    from pyspark.sql import functions as F

    from sparker_spark.rounding import rnd
    from sparker_spark.streaming.incremental import streaming_sessionize

    path = f"{sf_dir}/events.parquet"
    # the file streaming source requires a DIRECTORY; stage the single
    # testdata file into a temp dir (tiny at test SF; on a cluster the
    # stream would point at the ingest directory to begin with)
    import shutil
    import tempfile

    from sparker_spark.entry_r5 import _stage_copy

    stage = _stage_copy(path, "stream_sessions_")
    batch_schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(batch_schema).parquet(stage)
    # the parquet ts is TIMESTAMP_NTZ; watermarks require session-TZ
    # TimestampType (session TZ is pinned UTC, instant-preserving)
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    out = streaming_sessionize(stream, gap=STREAM_GAP, watermark="3650 days")
    # unique sink per invocation: a finished availableNow query leaves
    # its memory table behind, and re-registering the same name in one
    # session is an error
    sink = f"stream_sessions_sink_{next(_SINK_SEQ)}"
    # the sessionizer's event-time timeout can NEVER fire here (the
    # watermark is pinned beyond the data's time range), so the
    # trailing no-data micro-batch emits nothing — skip it instead of
    # paying its state-store load+commit round (entry_r5.NO_FINAL_BATCH)
    from sparker_spark.entry_r5 import NO_FINAL_BATCH
    from sparker_spark.session import scoped_conf

    with scoped_conf(spark, NO_FINAL_BATCH):
        q = (
            out.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q)
    return spark.table(sink).select(
        "user_id",
        "session_start",
        "session_end",
        F.col("n_events").cast("long").alias("n_events"),
        rnd("total_value", 4).alias("total_value"),
    )


O_STREAM_SESSIONS = f"""
WITH w AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) > {STREAM_GAP_US}
              THEN 1 ELSE 0 END AS new_session
  FROM events),
s AS (
  SELECT user_id, ts, value,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
  FROM w),
sess AS (
  SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end,
         CAST(count(*) AS BIGINT) AS n_events,
         round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4)
           AS total_value,
         max(sid) OVER (PARTITION BY user_id) AS last_sid
  FROM s GROUP BY user_id, sid)
SELECT user_id, session_start, session_end, n_events, total_value
FROM sess WHERE sid < last_sid"""


# --------------------------------------------- relational spine +
def q_tpch_q6ish(spark, sf_dir):
    """Q6 shape: scan-only filter + aggregate, the pure predicate-
    pushdown probe (filters reach the parquet scan; exact-DECIMAL
    revenue sum)."""
    from pyspark.sql import functions as F

    from sparker_spark.entry import load
    from sparker_spark.rounding import rnd

    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        rnd(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * F.col("l_discount").cast("decimal(4,2)")
            ).cast("double"),
            4,
        ).alias("revenue"),
        F.count("*").cast("long").alias("n_rows"),
    )


O_TPCH_Q6ISH = """
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                     * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE), 4) AS revenue,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.02 AND l_discount <= 0.06
  AND l_quantity < 24"""


def q_tpch_q4ish(spark, sf_dir):
    """Q4 shape: EXISTS decorrelated to a left-semi join with a
    non-equi residual (late-shipped lineitem for the order)."""
    from pyspark.sql import functions as F

    from sparker_spark.entry import load

    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("order_count")
    )


O_TPCH_Q4ISH = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority"""


# ------------------------------------------- nearest as-of join
def q_events_asof_nearest(spark, sf_dir):
    from pyspark.sql import functions as F

    from sparker_spark.asof import AsofJoin
    from sparker_spark.entry import _load_events

    ev = _load_events(spark, sf_dir)
    clicks = ev.where("event_type = 'click'").select(
        "user_id", "event_id", "ts", "value"
    )
    views = ev.where("event_type = 'view'").select(
        "user_id", "event_id", "ts", "value"
    )
    out = AsofJoin.asof_join(
        clicks,
        views,
        on="user_id",
        right_prefix="view_",
        right_tiebreak="event_id",
        direction="nearest",
    )
    return out.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        "view_event_id",
        "view_ts",
        "view_value",
        (F.unix_micros("ts") - F.unix_micros("view_ts")).alias("gap_us"),
    )


O_EVENTS_ASOF_NEAREST = """
WITH clicks AS (
  SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'click'),
views AS (
  SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'view'),
cand AS (
  SELECT c.user_id, c.event_id, c.ts, c.value,
         v.event_id AS view_event_id, v.ts AS view_ts, v.value AS view_value,
         abs(epoch_us(c.ts) - epoch_us(v.ts)) AS dist,
         CASE WHEN v.ts <= c.ts THEN 0 ELSE 1 END AS is_fwd
  FROM clicks c LEFT JOIN views v USING (user_id)),
ranked AS (
  SELECT *, row_number() OVER
            (PARTITION BY user_id, event_id
             ORDER BY dist, is_fwd, view_event_id DESC) AS rn
  FROM cand)
SELECT user_id, event_id, ts, value, view_event_id, view_ts, view_value,
       epoch_us(ts) - epoch_us(view_ts) AS gap_us
FROM ranked WHERE rn = 1"""


# ----------------------------------------------- PMI collocations
PMI_MIN_PAIRS = 5
PMI_K = 20


def q_token_pmi(spark, sf_dir):
    from sparker_spark.entry import load
    from sparker_spark.llm.text import Collocations

    return Collocations.pmi_top(
        load(spark, sf_dir, "documents"), PMI_MIN_PAIRS, PMI_K
    )


O_TOKEN_PMI = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(text), '[ \\t\\r\\n\\f\\x0B]+'),
                                  x -> len(x) > 0)) AS tok
        FROM documents)),
pc AS (
  SELECT a.tok AS t1, b.tok AS t2, count(*) AS n_ab
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY 1, 2 HAVING count(*) >= {PMI_MIN_PAIRS}),
marg AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
SELECT t1, t2, CAST(n_ab AS BIGINT) AS n_ab,
       CAST(m1.n AS BIGINT) AS n_a, CAST(m2.n AS BIGINT) AS n_b,
       round(ln(n_docs * n_ab / (m1.n * m2.n)), 6) AS pmi
FROM pc JOIN marg m1 ON t1 = m1.tok JOIN marg m2 ON t2 = m2.tok CROSS JOIN nd
ORDER BY pmi DESC, t1, t2 LIMIT {PMI_K}"""


# --------------------------------------------- sliding windows
SLIDE_WINDOW = "1 hour"
SLIDE_STEP = "15 minutes"


def q_events_sliding(spark, sf_dir):
    from sparker_spark.entry import _load_events
    from sparker_spark.rollup import SlidingWindows

    return SlidingWindows.counts(
        _load_events(spark, sf_dir), SLIDE_WINDOW, SLIDE_STEP
    )


O_EVENTS_SLIDING = """
WITH expanded AS (
  SELECT event_type,
         time_bucket(INTERVAL '15 minutes', ts)
           - j * INTERVAL '15 minutes' AS w_start
  FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j))
SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, CAST(count(*) AS BIGINT) AS n
FROM expanded
GROUP BY 1, 2"""


# ------------------------------------------ transitions + latency
LAT_QS = [0.5, 0.9]


def q_event_transitions(spark, sf_dir):
    from sparker_spark.entry import _load_events
    from sparker_spark.funnel import Transitions

    return Transitions.event_transitions(_load_events(spark, sf_dir))


O_EVENT_TRANSITIONS = """
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events),
counts AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)
SELECT from_type, to_type, n,
       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type), 6) AS p
FROM counts"""


def q_funnel_latency(spark, sf_dir):
    from sparker_spark.entry import _load_events
    from sparker_spark.funnel import Funnel

    return Funnel.step_latency(_load_events(spark, sf_dir), FUNNEL_STEPS, LAT_QS)


def _o_funnel_latency() -> str:
    ctes = [
        f"s1 AS (SELECT user_id, min(ts) AS t FROM events"
        f" WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id)"
    ]
    for i, step in enumerate(FUNNEL_STEPS[1:], start=2):
        ctes.append(
            f"s{i} AS (SELECT e.user_id, min(e.ts) AS t FROM events e"
            f" JOIN s{i - 1} p ON e.user_id = p.user_id AND e.ts > p.t"
            f" WHERE e.event_type = '{step}' GROUP BY e.user_id)"
        )
    legs = "\nUNION ALL ".join(
        f"SELECT {i} AS step, '{FUNNEL_STEPS[i - 1]}' AS from_step,"
        f" '{FUNNEL_STEPS[i]}' AS to_step,"
        f" (epoch_us(s{i + 1}.t) - epoch_us(s{i}.t)) / 1000000.0 AS dt"
        f" FROM s{i} JOIN s{i + 1} USING (user_id)"
        for i in range(1, len(FUNNEL_STEPS))
    )
    q_cols = ", ".join(
        f"round(quantile_cont(dt, {q!r}), 6)"
        f" AS q_{str(q).replace('0.', '').replace('.', '_')}"
        for q in LAT_QS
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f",\ndeltas AS ({legs})\n"
        + "SELECT CAST(step AS INTEGER) AS step, from_step, to_step,"
        + " CAST(count(*) AS BIGINT) AS n, "
        + q_cols
        + "\nFROM deltas GROUP BY step, from_step, to_step"
    )


# --------------------------------------------- rate anomaly scores
ANOM_TRAILING = 24
ANOM_MIN_HIST = 8


def q_events_anomaly(spark, sf_dir):
    from sparker_spark.entry import _load_events
    from sparker_spark.funnel import Anomaly

    return Anomaly.hourly_zscores(
        _load_events(spark, sf_dir), ANOM_TRAILING, ANOM_MIN_HIST
    )


O_EVENTS_ANOMALY = f"""
WITH hourly AS (
  SELECT event_type,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
win AS (
  SELECT event_type, hour, n,
         sum(n) OVER w AS s1,
         sum(n * n) OVER w AS s2,
         count(n) OVER w AS cnt
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN {ANOM_TRAILING} PRECEDING AND 1 PRECEDING))
SELECT event_type, hour, n,
       round(CASE WHEN cnt >= {ANOM_MIN_HIST}
                  THEN CAST(s1 AS DOUBLE) / cnt END, 6) AS mean_trailing,
       round(CASE WHEN cnt >= {ANOM_MIN_HIST}
                  AND (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / cnt)
                      / (cnt - 1) > 0
                  THEN (n - CAST(s1 AS DOUBLE) / cnt)
                       / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / cnt)
                              / (cnt - 1)) END, 6) AS z,
       COALESCE(abs(CASE WHEN cnt >= {ANOM_MIN_HIST}
                AND (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / cnt)
                    / (cnt - 1) > 0
                THEN (n - CAST(s1 AS DOUBLE) / cnt)
                     / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / cnt)
                            / (cnt - 1)) END) > 3.0, FALSE) AS is_anomaly
FROM win"""


# --------------------------------------------- time-decayed value
DECAY_TAU_S = 7 * 86400.0


def q_events_decay(spark, sf_dir):
    from sparker_spark.entry import _load_events
    from sparker_spark.funnel import Decay

    return Decay.decayed_value(_load_events(spark, sf_dir), DECAY_TAU_S)


O_EVENTS_DECAY = f"""
WITH ref AS (SELECT epoch_us(max(ts)) / 1000000.0 AS t_ref FROM events)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(round(value * exp(-(t_ref - epoch_us(ts) / 1000000.0)
                                             / {DECAY_TAU_S!r}), 8)
                           AS DECIMAL(30,8))) AS DOUBLE), 6) AS decayed_value
FROM events CROSS JOIN ref
GROUP BY user_id"""


# ------------------------------------------------- Bloom filter
BLOOM_M = 4096
BLOOM_K = 4


def q_bloom_purchasers(spark, sf_dir):
    """Semi-join pruning with a portable Bloom filter: membership of
    every user against the filter built over purchase-event users,
    with the exact answer alongside (no false negatives; false
    positives at the documented rate)."""
    from pyspark.sql import functions as F

    from sparker_spark.entry import _load_events
    from sparker_spark.sketches import BloomFilter

    ev = _load_events(spark, sf_dir)
    buyers = ev.where("event_type = 'purchase'").select("user_id")
    bloom = BloomFilter.build(buyers, "user_id", m=BLOOM_M, k=BLOOM_K)
    users = ev.select("user_id").distinct()
    probed = BloomFilter.contains(bloom, users, "user_id", m=BLOOM_M, k=BLOOM_K)
    actual = buyers.distinct().withColumn("is_purchaser", F.lit(True))
    return probed.join(actual, "user_id", "left").select(
        "user_id",
        "maybe_present",
        F.coalesce("is_purchaser", F.lit(False)).alias("is_purchaser"),
    )


def _o_bloom_purchasers() -> str:
    from sparker_spark.sketches import BloomFilter, _portable_h31
    from sparker_spark.llm.hashing import minhash_coefficients
    from sparker_spark.sketches import portable_bucket_sql

    bits_sql = BloomFilter.duck_bits_sql(
        "(SELECT user_id FROM events WHERE event_type = 'purchase')",
        "user_id",
        m=BLOOM_M,
        k=BLOOM_K,
    )
    coeffs = minhash_coefficients(BLOOM_K, 1234)
    h31 = _portable_h31("user_id", "duck")
    probe_bits = " UNION ALL ".join(
        f"SELECT user_id, {portable_bucket_sql(coeffs[j], BLOOM_M, h31)} AS bit"
        f" FROM users"
        for j in range(BLOOM_K)
    )
    return f"""
WITH bloom AS ({bits_sql}),
users AS (SELECT DISTINCT user_id FROM events),
probes AS ({probe_bits}),
hits AS (
  SELECT p.user_id,
         sum(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) = {BLOOM_K}
           AS maybe_present
  FROM probes p LEFT JOIN bloom b ON p.bit = b.bit
  GROUP BY p.user_id),
actual AS (SELECT DISTINCT user_id, TRUE AS is_purchaser FROM events
           WHERE event_type = 'purchase')
SELECT h.user_id, h.maybe_present,
       COALESCE(a.is_purchaser, FALSE) AS is_purchaser
FROM hits h LEFT JOIN actual a USING (user_id)"""


# ------------------------------------------- stratified sampling
STRAT_K = 10
STRAT_SEED = 11


def q_sample_stratified(spark, sf_dir):
    from sparker_spark.entry import load
    from sparker_spark.llm.sampling import Sampling

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return Sampling.stratified_bottom_k(
        docs, "doc_id", "source", STRAT_K, seed=STRAT_SEED
    )


def _o_sample_stratified() -> str:
    from sparker_spark.llm.sampling import _coord_sql

    coord = _coord_sql("doc_id", STRAT_SEED, "duck")
    return f"""
WITH ranked AS (
  SELECT doc_id, source,
         CAST(row_number() OVER
              (PARTITION BY source ORDER BY {coord}, doc_id)
          AS INTEGER) AS sample_rank
  FROM documents)
SELECT doc_id, source, sample_rank FROM ranked WHERE sample_rank <= {STRAT_K}"""


# -------------------------------------- prefix-filtered set join
SETJOIN_T = 0.5


def q_jaccard_prefix_join(spark, sf_dir):
    from sparker_spark.entry import load
    from sparker_spark.llm.setjoin import SetSimilarityJoin

    return SetSimilarityJoin.jaccard_prefix_join(
        load(spark, sf_dir, "documents"), SETJOIN_T
    )


O_JACCARD_PREFIX = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(text), '[ \\t\\r\\n\\f\\x0B]+'),
                                  x -> len(x) > 0)) AS tok
        FROM documents)),
sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS p1, b.doc_id AS p2, count(*) AS inter
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT p1, p2, CAST(inter AS BIGINT) AS inter,
       CAST(s1.n AS BIGINT) AS n1, CAST(s2.n AS BIGINT) AS n2,
       round(inter / (s1.n + s2.n - inter), 6) AS jaccard
FROM inter
JOIN sizes s1 ON p1 = s1.doc_id
JOIN sizes s2 ON p2 = s2.doc_id
WHERE inter / (s1.n + s2.n - inter) >= {SETJOIN_T}"""


# ------------------------------------------------------ tf-idf top-k
def q_tfidf_top_terms(spark, sf_dir):
    from sparker_spark.entry import load
    from sparker_spark.llm.text import TextAnalysis

    return TextAnalysis.tfidf_top_terms(
        load(spark, sf_dir, "documents"), k=TFIDF_K
    )


O_TFIDF = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[ \\t\\r\\n\\f\\x0B]+'),
                            t -> len(t) > 0)) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf, df,
         round(tf * ln(n_docs / df), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n),
ranked AS (
  SELECT *, row_number() OVER
            (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
  FROM scored)
SELECT doc_id, CAST(rank AS INTEGER) AS rank, term,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, tfidf
FROM ranked WHERE rank <= {TFIDF_K}"""


def r3e_queries() -> dict:
    return {
        "funnel_conversion": q_funnel_conversion,
        "retention_cohorts": q_retention_cohorts,
        "hll_users": q_hll_users,
        "quality_quantile": q_quality_quantile,
        "tfidf_top_terms": q_tfidf_top_terms,
        "sample_stratified": q_sample_stratified,
        "jaccard_prefix_join": q_jaccard_prefix_join,
        "bloom_purchasers": q_bloom_purchasers,
        "events_decay": q_events_decay,
        "events_anomaly": q_events_anomaly,
        "event_transitions": q_event_transitions,
        "funnel_latency": q_funnel_latency,
        "token_pmi": q_token_pmi,
        "events_sliding": q_events_sliding,
        "events_asof_nearest": q_events_asof_nearest,
        "tpch_q6ish": q_tpch_q6ish,
        "tpch_q4ish": q_tpch_q4ish,
        "stream_sessions": q_stream_sessions,
        "events_session_window": q_events_session_window,
        "events_rollup_cube": q_events_rollup_cube,
        "pagerank_dedup": q_pagerank_dedup,
        "sample_weighted": q_sample_weighted,
        "events_json_variant": q_events_json_variant,
        "join_size_estimate": q_join_size_estimate,
        "event_paths": q_event_paths,
        "dq_events": q_dq_events,
        "frequent_itemsets": q_frequent_itemsets,
        "stream_countmin": q_stream_countmin,
        "user_value_rank": q_user_value_rank,
        "session_funnel": q_session_funnel,
        "stream_hll": q_stream_hll,
        "dedup_source_matrix": q_dedup_source_matrix,
        "cm_heavy_hitters": q_cm_heavy_hitters,
    }


def r3e_oracles() -> dict:
    return {
        "funnel_conversion": _o_funnel(),
        "retention_cohorts": O_RETENTION,
        "hll_users": _o_hll_users(),
        "quality_quantile": _o_quality_quantile(),
        "tfidf_top_terms": O_TFIDF,
        "sample_stratified": _o_sample_stratified(),
        "jaccard_prefix_join": O_JACCARD_PREFIX,
        "bloom_purchasers": _o_bloom_purchasers(),
        "events_decay": O_EVENTS_DECAY,
        "events_anomaly": O_EVENTS_ANOMALY,
        "event_transitions": O_EVENT_TRANSITIONS,
        "funnel_latency": _o_funnel_latency(),
        "token_pmi": O_TOKEN_PMI,
        "events_sliding": O_EVENTS_SLIDING,
        "events_asof_nearest": O_EVENTS_ASOF_NEAREST,
        "tpch_q6ish": O_TPCH_Q6ISH,
        "tpch_q4ish": O_TPCH_Q4ISH,
        "stream_sessions": O_STREAM_SESSIONS,
        "events_session_window": O_EVENTS_SESSION_WINDOW,
        "events_rollup_cube": O_EVENTS_ROLLUP,
        "pagerank_dedup": _o_pagerank_dedup(),
        "sample_weighted": _o_sample_weighted(),
        "events_json_variant": O_EVENTS_JSON_VARIANT,
        "join_size_estimate": _o_join_size_estimate(),
        "event_paths": O_EVENT_PATHS,
        "dq_events": O_DQ_EVENTS,
        "frequent_itemsets": _o_frequent_itemsets(),
        "stream_countmin": _o_stream_countmin(),
        "user_value_rank": O_USER_VALUE_RANK,
        "session_funnel": _o_session_funnel(),
        "stream_hll": _o_stream_hll(),
        "dedup_source_matrix": _o_dedup_source_matrix(),
        "cm_heavy_hitters": _o_cm_heavy_hitters(),
    }
