"""One-call corpus curation API — the clean-corpus counterpart of
:func:`sparker_spark.dedupe.dedupe`.

``curate(documents, ...) -> (doc_id, text)`` composes the full
pretraining cleanup flow behind a single function:

    boilerplate-line removal (optional) -> PII redaction -> quality
    floor -> repetition (Gopher-style) filter -> exact dedup (canonical
    per content hash) -> MinHash-LSH near-dup pairs -> distributed
    connected components -> canonical per near-dup group (min-id, or
    keep-best-by-quality) -> benchmark decontamination vs a held-out
    eval set

Every stage is the same shuffle-bounded DataFrame operator the
oracle-checked queries run (no crossJoin, no driver state; see each
operator's module for its plan rationale) — this module adds
composition and stage toggles only. Any stage can be disabled by
passing ``None`` for its knob.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparker_spark.rounding import rnd


def curate(
    documents: DataFrame,
    eval_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    redact: bool = True,
    min_quality: float | None = 0.3,
    max_top_ngram_frac: float | None = 0.15,
    max_dup_ngram_frac: float | None = 0.3,
    min_lm_logprob: float | None = None,
    lm_floor_quantile: float | None = None,
    lm_order: int = 3,
    lm_prune_min_count: int = 2,
    lm_prune_from: int = 3,
    classifier_labels: DataFrame | None = None,
    classifier_buckets: int = 512,
    min_classifier_logit: float = 0.0,
    exact_dedup: bool = True,
    dup_span_words: int | None = None,
    dup_span_min_occ: int = 2,
    jaccard_threshold: float | None = 0.2,
    minhash_k: int = 32,
    bands: int = 8,
    shingle_size: int = 3,
    decon_ngram: int = 5,
    boilerplate_min_docs: int | None = None,
    near_dup_keep: str = "min_id",
) -> DataFrame:
    """Cleaned corpus ``(id_col, text_col)`` ready for tokenization.

    * ``eval_docs``: held-out benchmark/eval documents; when given,
      surviving docs sharing any ``decon_ngram``-word n-gram with them
      are dropped (decontamination runs LAST so it only shingles the
      survivors).
    * ``min_quality`` / ``max_top_ngram_frac`` / ``max_dup_ngram_frac``:
      quality-floor and repetition-filter thresholds (``None`` skips
      that predicate).
    * ``min_lm_logprob`` / ``lm_floor_quantile`` / ``lm_order``: the
      context-model step of the CCNet-style quality ladder. Documents
      whose mean n-gram logprob under the corpus's OWN Laplace-
      smoothed LM (order ``lm_order``: 3 by default, 2 for the r9
      bigram, 5 for the KenLM-faithful order-5 JM scorer — which
      defaults to KenLM-style count pruning via
      ``lm_prune_min_count=2, lm_prune_from=3``, the CCNet
      ``--prune 0 0 1`` production shape; pass
      ``lm_prune_min_count=1`` for the exact unpruned LM; trained on
      the post-redaction/boilerplate corpus) falls
      below the floor are dropped — word salad separates far more
      sharply under a context model than under surface stats.
      ``min_lm_logprob`` is an absolute floor; ``lm_floor_quantile``
      instead computes the floor as that corpus quantile of the score
      (CCNet's own percentile-cut semantics — absolute floors don't
      transfer across corpora because vocabulary size shifts the
      smoothed-logprob scale). Documents with fewer than ``lm_order``
      tokens have no score and are KEPT (short-doc policy belongs to
      the surface-quality knobs, not the LM).
    * ``dup_span_words``: when set, verbatim word spans of at least
      this length occurring ``dup_span_min_occ``+ times in the corpus
      are CUT OUT of every document except the span's first occurrence
      (Lee-et-al. sub-document dedup, llm/spans.py; keep_first
      exempts each k-word WINDOW's first occurrence, so survival is
      guaranteed per window — a passage whose overlapping windows
      have canonical occurrences in different documents can survive
      only as fragments, the same greedy behavior as Lee et al.'s
      variant). Runs after exact dedup (full duplicates
      keep their canonical copy there) and before near-dup LSH (the
      cut text is what gets shingled); docs left empty are dropped.
      NOTE: surviving text is whitespace-normalized (single spaces) by
      the word-level reconstruction.
    * ``classifier_labels``: (doc_id) relation of weak POSITIVE
      examples (e.g. the wiki-proxy sources) — when given, a
      fastText-architecture NB quality classifier
      (llm/classifier.QualityClassifier) is trained on the corpus
      against these labels and documents scoring below
      ``min_classifier_logit`` are dropped (the GPT-3/CCNet/DataComp
      classifier-filter stage). Runs after the LM floor, before the
      surface-stat filters.
    * ``jaccard_threshold``: near-dup removal threshold; ``None`` skips
      the whole LSH + connected-components stage.
    * ``boilerplate_min_docs``: when set, lines shared by that many
      distinct documents are stripped FIRST (CCNet-style cross-corpus
      cleanup; docs left empty are dropped) so boilerplate neither
      biases the quality stats nor glues unrelated docs into near-dup
      clusters.
    * ``near_dup_keep``: ``"min_id"`` keeps each near-dup cluster's
      smallest id (the default, matching dedup_cc_clusters);
      ``"best_quality"`` keeps the cluster's highest quality-score doc
      (Dedup.keep_best — what a production pipeline usually wants).
    """
    from sparker_spark.graph import ConnectedComponents
    from sparker_spark.llm.curation import (
        Decontamination,
        Redaction,
        RepetitionStats,
    )
    from sparker_spark.llm.dedup import Dedup
    from sparker_spark.llm.text import TextAnalysis

    if near_dup_keep not in ("min_id", "best_quality"):
        raise ValueError(f"invalid near_dup_keep: {near_dup_keep!r}")
    docs = documents.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    if boilerplate_min_docs is not None:
        from sparker_spark.llm.curation import BoilerplateRemoval

        docs = (
            BoilerplateRemoval.remove_shared_lines(
                docs, int(boilerplate_min_docs)
            )
            .where(F.col("n_lines_kept") > 0)
            .select("doc_id", "text")
        )
    if redact:
        # redact first: the redacted text is what gets deduped/shipped
        docs = (
            Redaction.redact_pii(docs)
            .select("doc_id", "redacted_text")
            .withColumnRenamed("redacted_text", "text")
        )
    # Pin the (possibly redacted) base ONCE: every stage below
    # consumes the surviving text several times (filter + semi-join
    # legs), and without a pin each leg would re-derive the full
    # upstream lineage — multiplying base scans by 2 per stage. Every
    # pin here is a lazy localCheckpoint that the result owns: the
    # first action that reads it writes it, and nothing enters the
    # session's cache.
    docs = docs.localCheckpoint(eager=False)

    if min_lm_logprob is not None or lm_floor_quantile is not None:
        from sparker_spark.llm.text import LanguageModelScore

        # materialize the score relation ONCE (r12): it is doc-sized
        # (two columns) but its lineage is the whole LM join pyramid,
        # and both the quantile action and the filter join consume it
        lm = (
            LanguageModelScore.by_order(
                docs, lm_order, lm_prune_min_count, lm_prune_from
            )
            .select("doc_id", "avg_logprob")
            .localCheckpoint(eager=False)
        )
        if lm_floor_quantile is not None:
            # corpus-relative floor (CCNet cuts by percentile, not
            # absolute ppl — an absolute floor cannot transfer across
            # corpora whose vocabulary size shifts the smoothed
            # logprob scale). Spark percentile == DuckDB
            # quantile_cont, 6-dp rounded: the repo's quantile-parity
            # idiom; one bounded driver scalar.
            floor = lm.agg(
                rnd(
                    F.expr(
                        "percentile(avg_logprob, "
                        f"CAST({float(lm_floor_quantile)} AS DOUBLE))"
                    ),
                    6,
                ).alias("f")
            ).first()["f"]
        else:
            floor = float(min_lm_logprob)
        docs = (
            docs.join(lm, "doc_id", "left")
            .where(
                F.col("avg_logprob").isNull()
                | (F.col("avg_logprob") >= floor)
            )
            .select("doc_id", "text")
            .localCheckpoint(eager=False)
        )

    if classifier_labels is not None:
        from sparker_spark.llm.classifier import QualityClassifier

        scores = QualityClassifier.train_score(
            docs, classifier_labels, buckets=int(classifier_buckets)
        ).select("doc_id", "logit")
        docs = (
            docs.join(scores, "doc_id")
            .where(F.col("logit") >= float(min_classifier_logit))
            .select("doc_id", "text")
            .localCheckpoint(eager=False)
        )

    preds = []
    if min_quality is not None:
        preds.append(F.col("quality_score") >= float(min_quality))
    if max_top_ngram_frac is not None:
        preds.append(F.col("top_ngram_frac") <= float(max_top_ngram_frac))
    if max_dup_ngram_frac is not None:
        preds.append(F.col("dup_ngram_frac") <= float(max_dup_ngram_frac))
    if preds:
        quality = TextAnalysis.quality_score(docs).select(
            "doc_id", "quality_score"
        )
        rep = RepetitionStats.ngram_stats(docs, 2).select(
            "doc_id", "top_ngram_frac", "dup_ngram_frac"
        )
        cond = preds[0]
        for p in preds[1:]:
            cond = cond & p
        docs = (
            docs.join(quality, "doc_id").join(rep, "doc_id").where(cond)
        ).select("doc_id", "text")
        # each later stage consumes the surviving relation from 2
        # legs; checkpoint at the stage boundary so the quality/
        # repetition aggregates never re-execute downstream
        docs = docs.localCheckpoint(eager=False)

    if exact_dedup:
        canon = Dedup.exact_groups(docs).where("is_canonical").select("doc_id")
        docs = docs.join(canon, "doc_id", "left_semi").localCheckpoint(eager=False)

    if dup_span_words is not None:
        from sparker_spark.llm.spans import duplicated_spans, remove_spans

        spans = duplicated_spans(
            docs,
            shingle_size=int(dup_span_words),
            min_occurrences=int(dup_span_min_occ),
            keep_first=True,
        )
        docs = (
            remove_spans(docs, spans)
            .where(F.col("n_kept") > 0)
            .select("doc_id", F.col("clean_text").alias("text"))
            .localCheckpoint(eager=False)
        )

    if jaccard_threshold is not None:
        pairs = Dedup.minhash_lsh_pairs(
            docs, minhash_k, bands, shingle_size, float(jaccard_threshold)
        )
        if near_dup_keep == "best_quality":
            scores = TextAnalysis.quality_score(docs).select(
                "doc_id", "quality_score"
            )
            dupes = (
                Dedup.keep_best(scores, pairs)
                .where(~F.col("kept"))
                .select("doc_id")
            )
        else:
            dupes = (
                ConnectedComponents.canonical_groups(pairs)
                .where(~F.col("is_canonical"))
                .select(F.col("node").alias("doc_id"))
            )
        docs = docs.join(dupes, "doc_id", "left_anti")

    if eval_docs is not None:
        ev = eval_docs.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        )
        clean = Decontamination.overlap_ngrams(docs, ev, int(decon_ngram)).where(
            "NOT contaminated"
        )
        docs = docs.join(clean, "doc_id", "left_semi")

    return docs.select(
        F.col("doc_id").alias(id_col), F.col("text").alias(text_col)
    )


def funnel_report(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float | None = 0.3,
    exact_dedup: bool = True,
    dup_span_words: int | None = None,
    dup_span_min_occ: int = 2,
) -> DataFrame:
    """Curation-funnel accounting: one row per stage with the
    surviving document and whitespace-token counts — the lineage
    report every production pipeline publishes next to its output
    ("the quality floor dropped 12 %, exact dedup another 3 %, span
    dedup cut 1.4 % of tokens"). Stages mirror :func:`curate`'s order
    for the knobs given; a ``None``/off knob contributes no row.

    Output: (stage_idx, stage, docs, tokens) — ``tokens`` counts
    non-empty whitespace tokens of each stage's SURVIVING text (after
    the span stage, of the CUT text), so token deltas measure real
    stream shrinkage, not just doc attrition.

    Plan: each stage's survivor relation is pinned once (lazily)
    (consumed by both the next stage and its own 1-row aggregate),
    and the report is a union of 1-row aggregates — bounded output,
    keyed shuffles only."""
    from sparker_spark.llm.dedup import Dedup
    from sparker_spark.llm.text import TextAnalysis

    def _toks():
        return F.size(
            F.filter(
                F.split(F.col("text"), "[ \\t\\r\\n\\f\\x0B]+"),
                lambda t: F.length(t) > 0,
            )
        )

    def _row(idx: int, name: str, df: DataFrame) -> DataFrame:
        return (
            df.select(_toks().alias("tk"))
            .agg(
                F.count("*").cast("long").alias("docs"),
                F.coalesce(F.sum("tk"), F.lit(0)).cast("long").alias(
                    "tokens"
                ),
            )
            .select(
                F.lit(idx).alias("stage_idx"),
                F.lit(name).alias("stage"),
                "docs",
                "tokens",
            )
        )

    cur = documents.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).localCheckpoint(eager=False)
    rows = [_row(0, "raw", cur)]
    if min_quality is not None:
        q = (
            TextAnalysis.quality_score(cur)
            .where(F.col("quality_score") >= float(min_quality))
            .select("doc_id")
        )
        cur = cur.join(q, "doc_id", "left_semi").localCheckpoint(eager=False)
        rows.append(_row(len(rows), "quality", cur))
    if exact_dedup:
        canon = Dedup.exact_groups(cur).where("is_canonical").select("doc_id")
        cur = cur.join(canon, "doc_id", "left_semi").localCheckpoint(eager=False)
        rows.append(_row(len(rows), "exact_dedup", cur))
    if dup_span_words is not None:
        from sparker_spark.llm.spans import duplicated_spans, remove_spans

        spans = duplicated_spans(
            cur,
            shingle_size=int(dup_span_words),
            min_occurrences=int(dup_span_min_occ),
            keep_first=True,
        )
        cur = (
            remove_spans(cur, spans)
            .where(F.col("n_kept") > 0)
            .select("doc_id", F.col("clean_text").alias("text"))
            .localCheckpoint(eager=False)
        )
        rows.append(_row(len(rows), "span_dedup", cur))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out
