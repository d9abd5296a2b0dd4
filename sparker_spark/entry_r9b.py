"""Round-9 second-wave registry queries: sub-document duplicated-span
dedup (Lee et al. 2021, Spark-first positioned-shingle construction),
DSIR hashed-n-gram importance resampling with deterministic Gumbel
top-k (Xie et al. 2023), CCNet-style per-language perplexity
partitioning (Wenzek et al. 2020), and tokenizer fertility evaluation.

Each query pairs a Spark plan with an independently-written DuckDB
oracle; column aliases match exactly (the driver's compare sorts
columns by name before hashing values). No reference counterpart —
sparker has no sub-document / data-selection / tokenizer surface;
these extend the engine per the training-data-pipeline brief.
"""

from __future__ import annotations

from pyspark.sql import functions as F

# ------------------------------------------------ duplicated spans
# k = 8 words: the minimum removable duplicated span (the Lee-et-al.
# threshold re-expressed in words; any >= k-word verbatim repeat is
# detected, shorter ones are invisible by construction)
SPAN_K = 8
SPAN_MIN_OCC = 2

# shared CTE: positioned k-word shingles -> frequent hashes ->
# covered windows (keep_first: each hash's lexicographically-first
# occurrence exempted — the Lee-et-al. remove-all-but-one policy) ->
# gaps-and-islands merge into maximal spans


def _spans_cte(keep_first: bool = False, src: str = "documents") -> str:
    if keep_first:
        cov = f"""cov AS (
  SELECT doc_id, pos, pos + {SPAN_K - 1} AS e FROM (
    SELECT doc_id, pos,
           count(*) OVER (PARTITION BY h) AS occ,
           row_number() OVER (PARTITION BY h
                              ORDER BY doc_id, pos) AS rn
    FROM sh)
  WHERE occ >= {SPAN_MIN_OCC} AND rn > 1)"""
    else:
        cov = f"""dup AS (SELECT h FROM sh GROUP BY h
        HAVING count(*) >= {SPAN_MIN_OCC}),
cov AS (SELECT doc_id, pos, pos + {SPAN_K - 1} AS e
        FROM sh JOIN dup USING (h))"""
    return f"""
stoks AS (SELECT doc_id, regexp_split_to_array(lower(text), '[ \\t\\r\\n\\f\\x0B]+') AS t
          FROM {src}),
sh AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         ('0x' || substr(md5(list_aggregate(t[i:i+{SPAN_K - 1}],
                                            'string_agg', ' ')),
                         1, 15))::BIGINT AS h
  FROM stoks, LATERAL unnest(
    CASE WHEN len(t) >= {SPAN_K}
         THEN range(1, len(t) - {SPAN_K - 2}) ELSE [] END) u(i)),
{cov},
isl AS (SELECT doc_id, pos, e,
  CASE WHEN pos > coalesce(max(e) OVER (
         PARTITION BY doc_id ORDER BY pos
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
       THEN 1 ELSE 0 END AS ni
  FROM cov),
isl2 AS (SELECT doc_id, pos, e,
  sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl),
spans AS (
  SELECT doc_id, min(pos) AS span_start, max(e) AS span_end,
         CAST(max(e) - min(pos) + 1 AS BIGINT) AS span_words
  FROM isl2 GROUP BY doc_id, island)
"""


O_SPANS_CTE = _spans_cte()

O_SPAN_ISLANDS = f"""
WITH {O_SPANS_CTE}
SELECT doc_id, span_start, span_end, span_words FROM spans"""

# removal tail shared by the remove-all and keep-first variants
def _removal_tail(src: str = "documents") -> str:
    return f"""
rem AS (SELECT DISTINCT doc_id,
               CAST(unnest(range(span_start, span_end + 1)) AS BIGINT) AS pos
        FROM spans),
w AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i] AS word
      FROM (SELECT doc_id, regexp_split_to_array(text, '[ \\t\\r\\n\\f\\x0B]+') AS t
            FROM {src}) orig,
      LATERAL unnest(range(1, len(t) + 1)) u(i)),
kept AS (SELECT w.doc_id, w.pos, w.word FROM w
         ANTI JOIN rem ON w.doc_id = rem.doc_id AND w.pos = rem.pos),
agg AS (SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS clean_text,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, CAST(len(regexp_split_to_array(text, '[ \\t\\r\\n\\f\\x0B]+'))
                            AS BIGINT) AS n_words
        FROM {src})"""


O_REMOVAL_TAIL = _removal_tail()

O_SPAN_REMOVAL = f"""
WITH {O_SPANS_CTE},
{O_REMOVAL_TAIL}
SELECT tot.doc_id, coalesce(agg.clean_text, '') AS clean_text,
       coalesce(agg.n_kept, 0) AS n_kept,
       tot.n_words - coalesce(agg.n_kept, 0) AS n_removed
FROM tot LEFT JOIN agg ON tot.doc_id = agg.doc_id"""

O_SPAN_KEEP_FIRST = f"""
WITH {_spans_cte(keep_first=True)}
SELECT doc_id, span_start, span_end, span_words FROM spans"""

# curate(dup_span_words=...) with every other stage off == keep-first
# span removal + drop-emptied-docs; text survives whitespace-normalized
O_CURATION_SPAN_REMOVAL = f"""
WITH {_spans_cte(keep_first=True)},
{O_REMOVAL_TAIL}
SELECT tot.doc_id, coalesce(agg.clean_text, '') AS text
FROM tot JOIN agg ON tot.doc_id = agg.doc_id
WHERE agg.n_kept > 0"""


def q_dedup_span_islands(spark, sf_dir):
    """Maximal duplicated word spans (>= SPAN_K words, corpus
    occurrence >= 2 counting within-doc repeats): positioned shingles
    -> frequency filter -> per-doc gaps-and-islands merge. Every
    span's (start, end, width) is value-checked."""
    from sparker_spark.entry import load
    from sparker_spark.llm.spans import duplicated_spans

    return duplicated_spans(
        load(spark, sf_dir, "documents"),
        shingle_size=SPAN_K,
        min_occurrences=SPAN_MIN_OCC,
    )


def q_dedup_span_removal(spark, sf_dir):
    """The Lee-et-al. edit under the gate: duplicated spans cut out of
    every document at word granularity (original casing kept,
    whitespace normalized); every byte of every surviving text plus
    the kept/removed word counts are value-checked."""
    from sparker_spark.entry import load
    from sparker_spark.llm.spans import duplicated_spans, remove_spans

    docs = load(spark, sf_dir, "documents")
    spans = duplicated_spans(
        docs, shingle_size=SPAN_K, min_occurrences=SPAN_MIN_OCC
    )
    return remove_spans(docs, spans)


def q_dedup_span_keep_first(spark, sf_dir):
    """Keep-first duplicated spans: each duplicated window's
    lexicographically-first occurrence is exempt (min(struct) hash
    aggregate — no per-key sort), so removal keeps one canonical copy
    of every duplicated passage."""
    from sparker_spark.entry import load
    from sparker_spark.llm.spans import duplicated_spans

    return duplicated_spans(
        load(spark, sf_dir, "documents"),
        shingle_size=SPAN_K,
        min_occurrences=SPAN_MIN_OCC,
        keep_first=True,
    )


def q_curation_span_removal(spark, sf_dir):
    """curate(dup_span_words=...) under the VALUE-HASH gate: the
    sub-document dedup stage inside the one-call curation API (all
    other stages off) — keep-first span cut, emptied docs dropped,
    every surviving byte checked."""
    from sparker_spark.curate import curate
    from sparker_spark.entry import load

    return curate(
        load(spark, sf_dir, "documents"),
        redact=False,
        min_quality=None,
        max_top_ngram_frac=None,
        max_dup_ngram_frac=None,
        exact_dedup=False,
        jaccard_threshold=None,
        dup_span_words=SPAN_K,
        dup_span_min_occ=SPAN_MIN_OCC,
    )


# ------------------------------------- span-clean vs static index
# corpus/incoming split: the crawl-ingest scenario — new documents
# cleaned against the EXISTING training corpus's span index (every
# corpus window indexed: min_occurrences=1)
SPANX_WEIGHTS = {"corpus": 0.8, "incoming": 0.2}
# the STREAM gate flips the split: the literal-bound per-row path is
# the route for BOUNDED indexes (a benchmark/holdout-scale corpus, or
# a boilerplate index) — a 20% corpus keeps the bound honest while
# the batch join path above carries the 80% corpus untroubled
SPANX_STREAM_WEIGHTS = {"corpus": 0.2, "incoming": 0.8}
SPANX_SEED = 17


def _spanx_split(spark, sf_dir, weights=None):
    from sparker_spark.entry import load
    from sparker_spark.llm.sampling import Sampling

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    sp = Sampling.split(
        docs, "doc_id", weights or SPANX_WEIGHTS, seed=SPANX_SEED
    )
    corpus = sp.where("split = 'corpus'").drop("split")
    incoming = sp.where("split = 'incoming'").drop("split")
    return corpus, incoming


def q_span_clean_vs_index(spark, sf_dir):
    """Batch crawl-ingest cleaning: incoming docs (20% hash split)
    have every word span already present in the corpus (80% split;
    min_occurrences=1 index) cut out — spans_against_index +
    remove_spans, the keyed-join scale path."""
    from sparker_spark.llm.spans import (
        remove_spans,
        span_index,
        spans_against_index,
    )

    corpus, incoming = _spanx_split(spark, sf_dir)
    idx = span_index(corpus, shingle_size=SPAN_K, min_occurrences=1)
    spans = spans_against_index(incoming, idx, shingle_size=SPAN_K)
    return remove_spans(incoming, spans)


def q_stream_span_clean(spark, sf_dir):
    """The SAME cleaning as q_span_clean_vs_index through Structured
    Streaming (streaming/incremental.streaming_span_clean): corpus
    index bound as an array literal, per-row covered-position
    expressions, no state store — the batch oracle is reused verbatim,
    so the gate pins stream/batch value-identity."""
    from sparker_spark.entry import _parallelize_scan
    from sparker_spark.entry_r3e import _SINK_SEQ
    from sparker_spark.entry_r5 import _drain, _stage_frame
    from sparker_spark.streaming.incremental import streaming_span_clean

    corpus, incoming = _spanx_split(
        spark, sf_dir, weights=SPANX_STREAM_WEIGHTS
    )
    corpus = _parallelize_scan(corpus)
    stage = _stage_frame(incoming, "stream_spanx_", files=16, key=sf_dir)
    schema = spark.read.parquet(stage).schema
    stream = spark.readStream.schema(schema).parquet(stage)
    out = streaming_span_clean(
        stream, corpus, shingle_size=SPAN_K, min_occurrences=1
    )
    sink = f"stream_spanx_sink_{next(_SINK_SEQ)}"
    # stateless per-row plan — the no-data batch is a pure planning
    # round (NO_FINAL_BATCH)
    from sparker_spark.entry_r5 import NO_FINAL_BATCH
    from sparker_spark.session import scoped_conf

    with scoped_conf(spark, NO_FINAL_BATCH):
        return _drain(spark, out, sink, "append")


def _o_span_clean_vs_index(weights=None) -> str:
    from sparker_spark.llm.sampling import Sampling

    split_case = Sampling.split_case_sql(
        "doc_id", weights or SPANX_WEIGHTS, seed=SPANX_SEED, dialect="duck"
    )
    return f"""
WITH sp AS (SELECT doc_id, text, {split_case} AS split FROM documents),
corp AS (SELECT doc_id, text FROM sp WHERE split = 'corpus'),
inc AS (SELECT doc_id, text FROM sp WHERE split = 'incoming'),
cidx AS (
  SELECT DISTINCT
    ('0x' || substr(md5(list_aggregate(t[i:i+{SPAN_K - 1}],
                                       'string_agg', ' ')),
                    1, 15))::BIGINT AS h
  FROM (SELECT regexp_split_to_array(lower(text), '[ \\t\\r\\n\\f\\x0B]+') AS t FROM corp),
  LATERAL unnest(CASE WHEN len(t) >= {SPAN_K}
                 THEN range(1, len(t) - {SPAN_K - 2}) ELSE [] END) u(i)),
stoks AS (SELECT doc_id, regexp_split_to_array(lower(text), '[ \\t\\r\\n\\f\\x0B]+') AS t
          FROM inc),
sh AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         ('0x' || substr(md5(list_aggregate(t[i:i+{SPAN_K - 1}],
                                            'string_agg', ' ')),
                         1, 15))::BIGINT AS h
  FROM stoks, LATERAL unnest(
    CASE WHEN len(t) >= {SPAN_K}
         THEN range(1, len(t) - {SPAN_K - 2}) ELSE [] END) u(i)),
cov AS (SELECT doc_id, pos, pos + {SPAN_K - 1} AS e
        FROM sh JOIN cidx USING (h)),
isl AS (SELECT doc_id, pos, e,
  CASE WHEN pos > coalesce(max(e) OVER (
         PARTITION BY doc_id ORDER BY pos
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
       THEN 1 ELSE 0 END AS ni
  FROM cov),
isl2 AS (SELECT doc_id, pos, e,
  sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl),
spans AS (
  SELECT doc_id, min(pos) AS span_start, max(e) AS span_end,
         CAST(max(e) - min(pos) + 1 AS BIGINT) AS span_words
  FROM isl2 GROUP BY doc_id, island),
{_removal_tail(src='inc').lstrip()}
SELECT tot.doc_id, coalesce(agg.clean_text, '') AS clean_text,
       coalesce(agg.n_kept, 0) AS n_kept,
       tot.n_words - coalesce(agg.n_kept, 0) AS n_removed
FROM tot LEFT JOIN agg ON tot.doc_id = agg.doc_id"""


# quality floor chosen to be NON-degenerate on the graded corpora
# (p10 of quality_score is ~0.577 at both SFs -> ~10% of docs drop)
FUNNEL_MIN_Q = 0.58


def q_curation_funnel(spark, sf_dir):
    """funnel_report under the gate: per-stage (docs, tokens)
    survivor accounting for raw -> quality floor -> exact dedup ->
    keep-first span dedup — the lineage report a production pipeline
    publishes next to its output. The oracle recomposes each stage
    from the independently-gated stage SQL."""
    from sparker_spark.curate import funnel_report
    from sparker_spark.entry import load

    return funnel_report(
        load(spark, sf_dir, "documents"),
        min_quality=FUNNEL_MIN_Q,
        exact_dedup=True,
        dup_span_words=SPAN_K,
        dup_span_min_occ=SPAN_MIN_OCC,
    )


def _o_curation_funnel() -> str:
    from sparker_spark.entry import _o_text_quality

    tok = (
        "len(list_filter(regexp_split_to_array(text, '[ \\t\\r\\n\\f\\x0B]+'),"
        " x -> len(x) > 0))"
    )

    def row(idx: int, name: str, src: str) -> str:
        return (
            f"SELECT {idx} AS stage_idx, '{name}' AS stage,"
            f" CAST(count(*) AS BIGINT) AS docs,"
            f" CAST(coalesce(sum({tok}), 0) AS BIGINT) AS tokens"
            f" FROM {src}"
        )

    return f"""
WITH fq AS (SELECT doc_id FROM ({_o_text_quality()})
            WHERE quality_score >= {FUNNEL_MIN_Q}),
s1 AS (SELECT d.doc_id, d.text FROM documents d JOIN fq USING (doc_id)),
canon AS (SELECT doc_id FROM (
    SELECT doc_id, doc_id = min(doc_id) OVER (
      PARTITION BY md5(trim(regexp_replace(lower(text), '[ \\t\\r\\n\\f\\x0B]+', ' ', 'g')))
    ) AS c FROM s1) WHERE c),
s2 AS (SELECT s1.doc_id, s1.text FROM s1 JOIN canon USING (doc_id)),
{_spans_cte(keep_first=True, src='s2')},
{_removal_tail(src='s2')},
s3 AS (SELECT tot.doc_id, coalesce(agg.clean_text, '') AS text
       FROM tot JOIN agg ON tot.doc_id = agg.doc_id
       WHERE agg.n_kept > 0)
{row(0, 'raw', 'documents')}
UNION ALL {row(1, 'quality', 's1')}
UNION ALL {row(2, 'exact_dedup', 's2')}
UNION ALL {row(3, 'span_dedup', 's3')}"""


# ------------------------------------------------------------ DSIR
DSIR_B = 512
DSIR_TARGET = "lang = 'en'"
DSIR_K = 100
DSIR_SEED = 7

O_DSIR_CTE = f"""
dtoks AS (SELECT doc_id,
          list_filter(regexp_split_to_array(lower(text), '[ \\t\\r\\n\\f\\x0B]+'),
                      t -> len(t) > 0) AS t
          FROM documents),
grams AS (
  SELECT doc_id, unnest(list_concat(
    list_transform(t, x -> 'u|' || x),
    CASE WHEN len(t) >= 2 THEN
      list_transform(range(1, len(t)), i -> 'b|' || t[i] || ' ' || t[i+1])
    ELSE [] END)) AS g
  FROM dtoks),
counts AS (SELECT doc_id,
           (('0x' || substr(md5(g), 1, 15))::BIGINT) % {DSIR_B} AS bucket,
           count(*) AS c
           FROM grams GROUP BY 1, 2),
raw AS (SELECT bucket, sum(c) AS cr FROM counts GROUP BY 1),
tgt AS (SELECT bucket, sum(c) AS ct FROM counts
        JOIN documents USING (doc_id) WHERE {DSIR_TARGET} GROUP BY 1),
lr AS (SELECT bucket,
       CAST(round(
         ln((coalesce(ct, 0) + 1.0) /
            ((SELECT coalesce(sum(ct), 0) FROM tgt) + {DSIR_B}.0))
       - ln((cr + 1.0) /
            ((SELECT sum(cr) FROM raw) + {DSIR_B}.0)), 6)
       AS DECIMAL(18,6)) AS lr
       FROM raw LEFT JOIN tgt USING (bucket)),
scored AS (SELECT doc_id, sum(c) AS n_grams, sum(c * lr) AS lw
           FROM counts JOIN lr USING (bucket) GROUP BY 1),
lwts AS (SELECT d.doc_id,
         CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
         CAST(coalesce(lw, 0) AS DOUBLE) AS logweight
         FROM documents d LEFT JOIN scored ON d.doc_id = scored.doc_id)
"""

O_DSIR_LOGWEIGHTS = f"""
WITH {O_DSIR_CTE}
SELECT doc_id, n_grams, logweight FROM lwts"""

O_DSIR_SAMPLE = f"""
WITH {O_DSIR_CTE}
SELECT doc_id,
       logweight + round(-ln(-ln(
         ((('0x' || substr(md5('{DSIR_SEED}|' || CAST(doc_id AS VARCHAR)),
             1, 15))::BIGINT + 0.5) / 1152921504606846976.0))), 6)
       AS sel_key
FROM lwts ORDER BY sel_key DESC, doc_id LIMIT {DSIR_K}"""


def q_dsir_logweights(spark, sf_dir):
    """DSIR log importance weight of every document against the
    lang='en' target: hashed unigram+bigram features (512 buckets),
    Laplace-smoothed target/raw log-ratios (6-dp DECIMAL, so the
    per-doc sums are exact), zero-gram docs scored 0."""
    from sparker_spark.entry import load
    from sparker_spark.llm.selection import ImportanceSelection

    return ImportanceSelection.logweights(
        load(spark, sf_dir, "documents"), DSIR_TARGET, buckets=DSIR_B
    )


def q_dsir_sample(spark, sf_dir):
    """Gumbel top-k importance resample (k=100) — the deterministic
    weighted-without-replacement selection over the DSIR weights; the
    selected set AND its keys are value-checked."""
    from sparker_spark.entry import load
    from sparker_spark.llm.selection import ImportanceSelection

    lw = ImportanceSelection.logweights(
        load(spark, sf_dir, "documents"), DSIR_TARGET, buckets=DSIR_B
    )
    return ImportanceSelection.gumbel_topk(lw, k=DSIR_K, seed=DSIR_SEED)


# ------------------------------------------------- ppl partition
def q_ppl_partition(spark, sf_dir):
    """CCNet head/middle/tail terciles per language under the corpus
    LM — r12: the ORDER-5 JELINEK-MERCER scorer with KenLM-style
    COUNT PRUNING as the DEFAULT (prune_min_count=2, prune_from=3 —
    the `--prune 0 0 1` shape CCNet itself trains KenLM with; Wenzek
    et al. 2020, Heafield 2011; measured 2.5-2.6x faster with ~95%
    less order-5 state than the unpruned sibling, which stays gated
    as the exact-LM anchor via text_lm5_logprob). r11 ran unpruned
    order 5, r10 order 3, r9 order 2. Cutoffs are exact interpolated
    quantiles (Spark percentile == DuckDB quantile_cont), 6-dp
    rounded before the boundary compare."""
    from sparker_spark.entry import load
    from sparker_spark.llm.selection import PerplexityPartition

    return PerplexityPartition.assign(
        load(spark, sf_dir, "documents"), order=5
    )


def _o_ppl_partition() -> str:
    from sparker_spark.entry_r11 import _o_text_lm5_pruned_logprob

    return f"""
WITH lp AS ({_o_text_lm5_pruned_logprob().strip()}),
pscored AS (SELECT lp.doc_id, d.lang, lp.avg_logprob
            FROM lp JOIN documents d ON lp.doc_id = d.doc_id),
cuts AS (SELECT lang,
         round(quantile_cont(avg_logprob, 1.0/3), 6) AS c33,
         round(quantile_cont(avg_logprob, 2.0/3), 6) AS c67
         FROM pscored GROUP BY lang)
SELECT doc_id, lang, avg_logprob,
       CASE WHEN avg_logprob >= c67 THEN 'head'
            WHEN avg_logprob >= c33 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM pscored JOIN cuts USING (lang)"""


# ------------------------------------------------- tokenizer eval
def q_tokeval_fertility(spark, sf_dir):
    """Per-language tokenizer fertility under the fixed merge table:
    distinct words encoded ONCE (the Heaps-small model relation),
    weighted by per-language word counts — fertility, chars/token,
    single-token coverage all value-checked."""
    from sparker_spark.entry import load
    from sparker_spark.entry_r8 import _fixed_merges
    from sparker_spark.llm.bpe import BPEEval

    return BPEEval.fertility(
        load(spark, sf_dir, "documents"), _fixed_merges(spark)
    )


def _o_tokeval_fertility() -> str:
    # per-word replace-chain encode (valid because BPE_FIXED_MERGES is
    # cascade-free — see entry_r8._o_bpe_encode_fixed) over the
    # distinct-word relation, weighted by (lang, word) counts
    from sparker_spark.entry_r8 import _bpe_tokens_str_expr

    chain = _bpe_tokens_str_expr()
    return f"""
WITH w AS (SELECT lang,
           unnest(list_filter(
             regexp_split_to_array(text, '[ \\t\\r\\n\\f\\x0B]+'),
             x -> len(x) > 0)) AS word
           FROM documents),
wc AS (SELECT lang, word, count(*) AS n FROM w GROUP BY 1, 2),
enc AS (SELECT x AS word,
        CAST(len(string_split({chain}, ' ')) AS BIGINT) AS w_tokens,
        CAST(len(x) AS BIGINT) AS w_chars
        FROM (SELECT DISTINCT word AS x FROM wc)),
pw AS (SELECT wc.lang, wc.n, enc.w_tokens, enc.w_chars
       FROM wc JOIN enc ON wc.word = enc.word)
SELECT lang,
       CAST(sum(n) AS BIGINT) AS n_words,
       CAST(sum(n * w_tokens) AS BIGINT) AS n_tokens,
       round(sum(n * w_tokens) / CAST(sum(n) AS DOUBLE), 6) AS fertility,
       round(sum(n * w_chars) / CAST(sum(n * w_tokens) AS DOUBLE), 6)
         AS chars_per_token,
       round(sum(CASE WHEN w_tokens = 1 THEN n ELSE 0 END)
             / CAST(sum(n) AS DOUBLE), 6) AS pct_single_token
FROM pw GROUP BY lang"""


def r9b_queries() -> dict:
    return {
        "dedup_span_islands": q_dedup_span_islands,
        "dedup_span_removal": q_dedup_span_removal,
        "dedup_span_keep_first": q_dedup_span_keep_first,
        "curation_span_removal": q_curation_span_removal,
        "curation_funnel": q_curation_funnel,
        "span_clean_vs_index": q_span_clean_vs_index,
        "stream_span_clean": q_stream_span_clean,
        "dsir_source_report": q_dsir_source_report,
        "vocab_coverage": q_vocab_coverage,
        "ppl_sample_corpus": q_ppl_sample_corpus,
        "dedup_span_profile": q_dedup_span_profile,
        "dsir_mix_weights": q_dsir_mix_weights,
        "dsir_logweights": q_dsir_logweights,
        "dsir_sample": q_dsir_sample,
        "ppl_partition": q_ppl_partition,
        "tokeval_fertility": q_tokeval_fertility,
    }


def r9b_oracles() -> dict:
    return {
        "dedup_span_islands": O_SPAN_ISLANDS,
        "dedup_span_removal": O_SPAN_REMOVAL,
        "dedup_span_keep_first": O_SPAN_KEEP_FIRST,
        "curation_span_removal": O_CURATION_SPAN_REMOVAL,
        "curation_funnel": _o_curation_funnel(),
        "span_clean_vs_index": _o_span_clean_vs_index(),
        "stream_span_clean": _o_span_clean_vs_index(
            weights=SPANX_STREAM_WEIGHTS
        ),
        "dsir_source_report": O_DSIR_SOURCE_REPORT,
        "vocab_coverage": _o_vocab_coverage(),
        "ppl_sample_corpus": _o_ppl_sample_corpus(),
        "dedup_span_profile": O_SPAN_PROFILE,
        "dsir_mix_weights": _o_dsir_mix_weights(),
        "dsir_logweights": O_DSIR_LOGWEIGHTS,
        "dsir_sample": O_DSIR_SAMPLE,
        "ppl_partition": _o_ppl_partition(),
        "tokeval_fertility": _o_tokeval_fertility(),
    }


# ---------------------------------------------- DSIR source report
def q_dsir_source_report(spark, sf_dir):
    """Per-source DSIR target-affinity: the bridge from data
    selection to corpus mixing — exact-decimal mean logweight per
    source, one keyed aggregate over the gated logweights."""
    from sparker_spark.entry import load
    from sparker_spark.llm.selection import source_report

    return source_report(
        load(spark, sf_dir, "documents"), DSIR_TARGET, buckets=DSIR_B
    )


O_DSIR_SOURCE_REPORT = f"""
WITH {O_DSIR_CTE}
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(l.n_grams) AS BIGINT) AS n_grams,
       round(CAST(sum(CAST(l.logweight AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 6) AS mean_logweight
FROM lwts l JOIN documents d ON l.doc_id = d.doc_id
GROUP BY d.source"""


# ------------------------------------------------- vocab coverage
# coverage thresholds for the tokenizer-design report — sized to the
# graded corpora's deliberately tiny vocabulary (31 whitespace types
# at sf0.01: the token-blocking stress corpus) so every threshold
# splits the mass; a production call passes its own Ns
COV_NS = (5, 10, 25)


def q_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage curve: what fraction of corpus token
    occurrences the top-N types cover (N = COV_NS, sized to the
    graded corpora's 31-type vocabulary) — the number that sizes a
    tokenizer's vocab budget. Rank is the distributed
    two-phase global rank (no single-partition window)."""
    from sparker_spark import ranking
    from sparker_spark.entry import load
    from sparker_spark.rounding import rnd

    toks = load(spark, sf_dir, "documents").select(
        F.explode(F.split(F.lower(F.col("text")), "[ \\t\\r\\n\\f\\x0B]+")).alias("tok")
    ).where("tok <> ''")
    counts = toks.groupBy("tok").agg(
        F.count("*").cast("long").alias("cnt")
    ).withColumn("_neg", -F.col("cnt"))
    ranked = ranking.global_rank(counts, ["_neg", "tok"], out="rk")
    aggs = [
        F.count("*").cast("long").alias("n_types"),
        F.sum("cnt").cast("long").alias("total_tokens"),
    ]
    for n in COV_NS:
        aggs.append(
            rnd(
                F.sum(F.when(F.col("rk") < n, F.col("cnt")).otherwise(0))
                / F.sum("cnt").cast("double"),
                6,
            ).alias(f"cov_{n}")
        )
    return ranked.agg(*aggs)


def _o_vocab_coverage() -> str:
    cov = ",\n       ".join(
        f"round(sum(CASE WHEN rk <= {n} THEN cnt ELSE 0 END)"
        f" / CAST(sum(cnt) AS DOUBLE), 6) AS cov_{n}"
        for n in COV_NS
    )
    return f"""
WITH tc AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(regexp_split_to_array(lower(text), '[ \\t\\r\\n\\f\\x0B]+')) AS tok
        FROM documents)
  WHERE tok <> '' GROUP BY tok),
rk AS (SELECT cnt,
       row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rk FROM tc)
SELECT CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(cnt) AS BIGINT) AS total_tokens,
       {cov}
FROM rk"""


# --------------------------------------- ppl-stratified sampling
PPL_RATES = {"head": 1.0, "middle": 1.0, "tail": 0.25}
PPL_SEED = 11


def q_ppl_sample_corpus(spark, sf_dir):
    """CCNet sampling recipe under the gate: head+middle kept whole,
    a deterministic 25% hash-coordinate slice of tail — the survivor
    set AND its scores/buckets value-checked. r12: buckets come from
    the PRUNED order-5 scorer (the production default; see
    q_ppl_partition)."""
    from sparker_spark.entry import load
    from sparker_spark.llm.selection import sample_by_ppl_bucket

    return sample_by_ppl_bucket(
        load(spark, sf_dir, "documents"), PPL_RATES, seed=PPL_SEED, order=5
    )


def _o_ppl_sample_corpus() -> str:
    from sparker_spark.llm.sampling import _coord_sql

    coord = _coord_sql("doc_id", PPL_SEED, "duck")
    rate = " ".join(
        f"WHEN ppl_bucket = '{b}' THEN {r}"
        for b, r in PPL_RATES.items()
    )
    return f"""
WITH pp AS ({_o_ppl_partition().strip()})
SELECT doc_id, lang, avg_logprob, ppl_bucket
FROM pp
WHERE {coord} < (CASE {rate} ELSE 0.0 END)"""


# -------------------------------------------- span profile report
def q_dedup_span_profile(spark, sf_dir):
    """Corpus duplication profile: one row summarizing the duplicated
    span mass (span count, affected docs, duplicated words, widest
    span) — the number a curation run reports before deciding its
    span-dedup policy. One aggregate over the gated span relation."""
    from sparker_spark.entry import load
    from sparker_spark.llm.spans import duplicated_spans

    spans = duplicated_spans(
        load(spark, sf_dir, "documents"),
        shingle_size=SPAN_K,
        min_occurrences=SPAN_MIN_OCC,
    )
    return spans.agg(
        F.count("*").cast("long").alias("n_spans"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.sum("span_words").cast("long").alias("dup_words"),
        F.max("span_words").cast("long").alias("max_span_words"),
    )


O_SPAN_PROFILE = f"""
WITH {O_SPANS_CTE}
SELECT CAST(count(*) AS BIGINT) AS n_spans,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(sum(span_words) AS BIGINT) AS dup_words,
       CAST(max(span_words) AS BIGINT) AS max_span_words
FROM spans"""


# ------------------------------------------ DSIR -> mixing bridge
DSIR_MIX_T = 1.0


def q_dsir_mix_weights(spark, sf_dir):
    """The selection->mixing bridge end-to-end: per-source DSIR
    affinity softmaxed (T=1) into normalized recipe weights — the
    exact relation MixPlanner.budget_plan consumes."""
    from sparker_spark.entry import load
    from sparker_spark.llm.selection import (
        mix_weights_from_affinity,
        source_report,
    )

    rep = source_report(
        load(spark, sf_dir, "documents"), DSIR_TARGET, buckets=DSIR_B
    )
    return mix_weights_from_affinity(rep, temperature=DSIR_MIX_T)


def _o_dsir_mix_weights() -> str:
    return f"""
WITH rep AS ({O_DSIR_SOURCE_REPORT.strip()}),
terms AS (SELECT source,
          CAST(round(exp(mean_logweight / {DSIR_MIX_T}), 6)
               AS DECIMAL(18,6)) AS w
          FROM rep)
SELECT source,
       round(CAST(w AS DOUBLE)
             / CAST((SELECT sum(w) FROM terms) AS DOUBLE), 6) AS weight
FROM terms"""
