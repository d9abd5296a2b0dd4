"""Data selection for pretraining: hashed n-gram importance
resampling (DSIR) and deterministic Gumbel top-k sampling.

DSIR (Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling", public NeurIPS paper): estimate target-domain
and raw-corpus distributions over HASHED n-gram features (unigrams +
bigrams bucketed by a fixed hash — the feature space is a bounded
B-vector regardless of vocabulary size), weight every raw document by
its log importance ratio

    log w(d) = sum over grams g in d of  ln p_target(bucket(g))
                                       - ln p_raw(bucket(g))

and sample the pretraining subset with probability proportional to
w(d) — Gumbel top-k makes that sample deterministic and exactly
replayable: key(d) = log w(d) + Gumbel(u_d) with u_d a pure hash
coordinate of (seed, doc_id), and the k largest keys ARE a weighted
sample without replacement (Efraimidis-Spirakis / Gumbel-max, public
construction).

Scale posture: the feature space is B buckets (a model-sized
relation), so the whole method is two hash aggregates over the
exploded gram stream (keyed shuffles), one broadcast join of the
B-row log-ratio table, and one per-doc sum — no pairwise work, no
iteration, linear in corpus size. The two corpus totals are bounded
driver scalars (same class as the purging thresholds).

Cross-engine determinism: per-bucket log-ratios are rounded to 6
places and carried as DECIMAL(18,6) (the repo rule for sums of
irrational terms), so per-document weights are EXACT decimal sums —
ranking ties cannot flip between engines; the Gumbel term is rounded
the same way, and doc_id breaks residual ties.

No reference counterpart — sparker has no data-selection surface;
this extends the engine per the training-data-pipeline brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparker_spark.llm.hashing import SPARK_HASH60
from sparker_spark.rounding import rnd

DEFAULT_BUCKETS = 512
TWO_60 = float(1 << 60)


def _grams(text_col: str):
    """Unigram + bigram feature strings of the lowercased whitespace
    token stream, tagged ('u|', 'b|') so the two gram orders hash into
    independent bucket positions."""
    # coalesce: split(NULL) is NULL — treat NULL text as ''
    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), "[ \\t\\r\\n\\f\\x0B]+"),
        lambda t: F.length(t) > 0,
    )
    uni = F.transform(toks, lambda t: F.concat(F.lit("u|"), t))
    big = F.when(F.size(toks) >= 2, F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat(F.lit("b|"), a, F.lit(" "), b),
    )).otherwise(F.array())
    return F.concat(uni, big)


class ImportanceSelection:
    @staticmethod
    def hashed_gram_counts(
        documents: DataFrame,
        buckets: int = DEFAULT_BUCKETS,
        text_col: str = "text",
    ) -> DataFrame:
        """(doc_id, bucket, c): per-document hashed unigram+bigram
        feature counts — one narrow explode + one keyed aggregate."""
        b = int(buckets)
        grams = documents.select(
            "doc_id", F.explode(_grams(text_col)).alias("g")
        ).select(
            "doc_id",
            (
                F.expr(SPARK_HASH60.format(x="g")) % F.lit(b)
            ).alias("bucket"),
        )
        return grams.groupBy("doc_id", "bucket").agg(
            F.count("*").cast("long").alias("c")
        )

    @staticmethod
    def bucket_logratio(
        documents: DataFrame,
        target_predicate: str,
        buckets: int = DEFAULT_BUCKETS,
        alpha: float = 1.0,
        text_col: str = "text",
        counts: DataFrame | None = None,
    ) -> DataFrame:
        """(bucket, lr): Laplace-smoothed per-bucket log importance
        ratio ln p_target - ln p_raw, rounded to 6 places (DECIMAL) —
        the B-row model relation every document is scored against.
        ``target_predicate`` is a SQL predicate over the documents
        table selecting the target-domain rows (e.g. "lang = 'en'").
        Only buckets that occur in the raw corpus appear (a document
        can never reference an unoccurring bucket). ``counts``: a
        precomputed :meth:`hashed_gram_counts` relation — pass it
        when the caller already materialized one, so the corpus gram
        stream is exploded once, not twice. (:meth:`logweights` no
        longer routes through this relation at all — it scores
        per-row bucket arrays — but shares the ratio formula via
        :meth:`_logratio_col`.)"""
        if counts is None:
            counts = ImportanceSelection.hashed_gram_counts(
                documents, buckets, text_col
            )
        tgt_ids = documents.where(target_predicate).select("doc_id")
        raw = counts.groupBy("bucket").agg(F.sum("c").alias("cr"))
        # plain join: the target id set is a corpus FRACTION, not a
        # bounded model relation — AQE still broadcasts it when small,
        # but a forced hint would collect-to-driver at scale
        tgt = (
            counts.join(tgt_ids, "doc_id")
            .groupBy("bucket")
            .agg(F.sum("c").alias("ct"))
        )
        # corpus totals: two bounded driver scalars
        n_raw = raw.agg(F.sum("cr")).first()[0] or 0
        n_tgt = tgt.agg(F.sum("ct")).first()[0] or 0
        joined = raw.join(tgt, "bucket", "left").select(
            "bucket",
            ImportanceSelection._logratio_col(
                n_tgt, n_raw, int(buckets), float(alpha)
            ).alias("lr"),
        )
        return joined

    @staticmethod
    def _logratio_col(n_tgt, n_raw, b: int, a: float):
        """The Laplace-smoothed per-bucket log-ratio column — the ONE
        definition of the DSIR smoothing/rounding formula, shared by
        :meth:`bucket_logratio` and :meth:`logweights` so the two can
        never drift. Expects columns ``ct`` (nullable target count)
        and ``cr`` (raw count) in scope."""
        return rnd(
            F.log(
                (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(a))
                / F.lit(float(n_tgt) + a * b)
            )
            - F.log(
                (F.col("cr") + F.lit(a)) / F.lit(float(n_raw) + a * b)
            ),
            6,
        ).cast("decimal(18,6)")

    @staticmethod
    def _bucket_array_sql(text_col: str, buckets: int) -> str:
        """SQL fragment: the row's gram-bucket array (one bucket id
        per gram occurrence). Every intermediate is bound as a lambda
        variable (the ``element_at(transform(array(X), x -> ...), 1)``
        idiom) so the optimizer cannot inline-and-re-evaluate the
        token split per reference."""
        b = int(buckets)
        # coalesce: split(NULL) is NULL — treat NULL text as ''
        toks = (
            f"filter(split(lower(coalesce({text_col}, '')), '[ \\\\t\\\\r\\\\n\\\\f\\\\x0B]+'),"
            " t -> length(t) > 0)"
        )
        grams = (
            f"element_at(transform(array({toks}), ts -> concat("
            "transform(ts, t -> concat('u|', t)), "
            "CASE WHEN size(ts) >= 2 THEN "
            "zip_with(slice(ts, 1, size(ts) - 1),"
            " slice(ts, 2, size(ts) - 1),"
            " (a, b) -> concat('b|', a, ' ', b)) "
            "ELSE array() END)), 1)"
        )
        h = SPARK_HASH60.format(x="g")
        return f"transform({grams}, g -> {h} % {b})"

    @staticmethod
    def logweights(
        documents: DataFrame,
        target_predicate: str,
        buckets: int = DEFAULT_BUCKETS,
        alpha: float = 1.0,
        text_col: str = "text",
    ) -> DataFrame:
        """(doc_id, n_grams, logweight): per-document DSIR log
        importance weight — exact DECIMAL sum of lr over the doc's
        gram-bucket occurrences. Documents with zero grams (empty
        text) score 0.

        Plan: each row derives its own bucket array (narrow); the only
        shuffles are the two B-ROW bucket-total aggregates (map-side
        combine collapses them to B rows per partition), the B-row
        log-ratio relation is collected (bounded by ``buckets`` — the
        model, not the data) and bound back as a map literal, and the
        scoring pass is a second NARROW map. The one keyed join is
        the target-count pass (corpus-fraction id set; AQE broadcasts
        it when small) — no corpus-sized WIDE shuffle remains
        (the previous groupBy(doc_id, bucket) design shuffled
        one row per distinct doc-bucket: 176 s at the 100x slice vs
        ~20 s for this plan). Exact-decimal sums keep the output
        bit-identical to the counts-relation formulation."""
        b = int(buckets)
        bkts = ImportanceSelection._bucket_array_sql(text_col, b)
        base = documents.select(
            "doc_id", F.expr(bkts).alias("_bkts")
        ).localCheckpoint(eager=False)
        occ = base.select(F.explode("_bkts").alias("bucket"))
        raw = occ.groupBy("bucket").agg(F.count("*").alias("cr"))
        tgt_ids = documents.where(target_predicate).select("doc_id")
        # plain join (see bucket_logratio): the target set is
        # corpus-fraction-sized — leave the strategy to AQE
        tocc = base.join(tgt_ids, "doc_id").select(
            F.explode("_bkts").alias("bucket")
        )
        tgt = tocc.groupBy("bucket").agg(F.count("*").alias("ct"))
        n_raw = raw.agg(F.sum("cr")).first()[0] or 0
        n_tgt = tgt.agg(F.sum("ct")).first()[0] or 0
        lr_rows = (
            raw.join(tgt, "bucket", "left")
            .select(
                "bucket",
                ImportanceSelection._logratio_col(
                    n_tgt, n_raw, b, float(alpha)
                ).alias("lr"),
            )
            .collect()
        )
        # the ratio table is the MODEL (<= buckets rows) — bind it as
        # a map literal (SQL text, not F.lit: py4j converts python
        # collections element-by-element)
        if lr_rows:
            keys = ",".join(f"{int(r['bucket'])}L" for r in lr_rows)
            vals = ",".join(
                f"CAST('{r['lr']}' AS DECIMAL(18,6))" for r in lr_rows
            )
            score = (
                f"aggregate(_bkts, CAST(0 AS DECIMAL(28,6)), (acc, x) -> "
                f"CAST(acc + coalesce(element_at("
                f"map_from_arrays(array({keys}), array({vals})), x), "
                f"CAST(0 AS DECIMAL(18,6))) AS DECIMAL(28,6)))"
            )
        else:
            score = "CAST(0 AS DECIMAL(28,6))"
        return base.select(
            "doc_id",
            F.size("_bkts").cast("long").alias("n_grams"),
            # the sum is EXACT decimal; the double cast of a 6-dp
            # decimal is the same IEEE value in both engines (the
            # repo's standing output convention)
            F.expr(score).cast("double").alias("logweight"),
        )

    @staticmethod
    def gumbel_topk(
        weighted: DataFrame,
        k: int,
        seed: int = 7,
        weight_col: str = "logweight",
    ) -> DataFrame:
        """(doc_id, sel_key): the k documents sampled WITHOUT
        replacement with probability proportional to exp(weight) —
        Gumbel top-k: key = weight + G(u), G(u) = -ln(-ln(u)), u a
        pure hash coordinate of (seed, doc_id) in (0, 1). Fully
        deterministic and engine-replayable; the Gumbel term is
        rounded to 6 places so keys are exact decimals, with doc_id
        as the final tie-break. ``orderBy().limit(k)`` plans as
        TakeOrderedAndProject — per-partition partial top-k then a
        k-row driver merge, never a global sort."""
        u = (
            (
                F.expr(
                    SPARK_HASH60.format(
                        x=(
                            f"concat(CAST({int(seed)} AS STRING), '|', "
                            "CAST(doc_id AS STRING))"
                        )
                    )
                ).cast("double")
                + F.lit(0.5)
            )
            / F.lit(TWO_60)
        )
        keyed = weighted.select(
            "doc_id",
            # both addends are 6-dp-rounded doubles; IEEE addition of
            # identical operands is identical in both engines
            (F.col(weight_col) + rnd(-F.log(-F.log(u)), 6)).alias(
                "sel_key"
            ),
        )
        return keyed.orderBy(
            F.col("sel_key").desc(), F.col("doc_id").asc()
        ).limit(int(k))


class PerplexityPartition:
    """CCNet-style perplexity partitioning (Wenzek et al. 2020,
    public "CCNet: Extracting High Quality Monolingual Datasets from
    Web Crawl Data"): score every document under a language model,
    then split EACH LANGUAGE into head / middle / tail terciles by
    score — the standard coarse quality stratification a curation
    recipe mixes from (e.g. keep head+middle, sample tail).

    The engine-native scorer is the gated corpus n-gram LM
    (llm/text.py LanguageModelScore): order 3 by default — the
    published pipeline scores with a 5-gram KenLM, and the wider
    context separates degenerate repetitive documents a bigram LM
    scores as perfectly predictable; pass ``order=2`` for the r9
    bigram behavior. At order 5 the scorer defaults to the PRUNED
    model (``prune_min_count=2, prune_from=3`` — CCNet's KenLM is
    trained with singleton pruning, ``--prune 0 0 1``), the
    production configuration; ``prune_min_count=1`` restores the
    exact unpruned LM. Higher mean logprob = lower perplexity = head.
    Documents the scorer cannot score (fewer than ``order`` tokens)
    are not partitioned, exactly as CCNet leaves unscorable lines
    out.
    """

    @staticmethod
    def assign(
        documents: DataFrame,
        lang_col: str = "lang",
        order: int = 3,
        prune_min_count: int = 2,
        prune_from: int = 3,
    ) -> DataFrame:
        """(doc_id, lang, avg_logprob, ppl_bucket): per-language
        tercile assignment. Cutoffs are exact interpolated terciles
        (Spark ``percentile`` == DuckDB ``quantile_cont`` by
        construction, the repo's established quantile-parity idiom),
        rounded to 6 places before comparison so bucket boundaries
        cannot flip between engines. Plan: the LM score's keyed
        aggregates + one per-language cutoff aggregate (a
        languages-sized model relation, broadcast back) — no global
        sort; the tercile state per language is two scalars."""
        from sparker_spark.llm.text import LanguageModelScore

        scored = LanguageModelScore.by_order(
            documents, order, prune_min_count, prune_from
        ).join(
            documents.select("doc_id", F.col(lang_col).alias("lang")),
            "doc_id",
        )
        cuts = scored.groupBy("lang").agg(
            rnd(
                F.expr(
                    "percentile(avg_logprob, CAST(1.0/3 AS DOUBLE))"
                ),
                6,
            ).alias("c33"),
            rnd(
                F.expr(
                    "percentile(avg_logprob, CAST(2.0/3 AS DOUBLE))"
                ),
                6,
            ).alias("c67"),
        )
        return scored.join(F.broadcast(cuts), "lang").select(
            "doc_id",
            "lang",
            "avg_logprob",
            F.when(F.col("avg_logprob") >= F.col("c67"), F.lit("head"))
            .when(F.col("avg_logprob") >= F.col("c33"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("ppl_bucket"),
        )


def source_report(
    documents: DataFrame,
    target_predicate: str,
    buckets: int = DEFAULT_BUCKETS,
    alpha: float = 1.0,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """(source, n_docs, n_grams, mean_logweight): per-source DSIR
    target-affinity — which sources look most like the target domain,
    the number a mixing recipe (llm/mixing.py) turns into per-source
    weights. Mean is an exact-decimal sum over the 6-dp weights
    divided at the end (order-independent across engines); one extra
    keyed aggregate on top of :meth:`ImportanceSelection.logweights`.
    """
    lw = ImportanceSelection.logweights(
        documents, target_predicate, buckets, alpha, text_col
    )
    joined = lw.join(
        documents.select("doc_id", F.col(source_col).alias("source")),
        "doc_id",
    )
    return joined.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_grams").cast("long").alias("n_grams"),
        rnd(
            F.sum(F.col("logweight").cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_logweight"),
    )


def sample_by_ppl_bucket(
    documents: DataFrame,
    rates: dict[str, float],
    seed: int = 11,
    lang_col: str = "lang",
    order: int = 3,
    prune_min_count: int = 2,
    prune_from: int = 3,
) -> DataFrame:
    """(doc_id, lang, avg_logprob, ppl_bucket): the CCNet sampling
    recipe — keep each perplexity tercile at its own rate (typically
    head/middle whole, a thin slice of tail). Selection is the
    engine's deterministic md5-coordinate sample (llm/sampling.py):
    a pure function of (seed, doc_id), so the kept set is stable
    under repartitioning and replayable by any engine. Buckets absent
    from ``rates`` are dropped (rate 0)."""
    from sparker_spark.llm.sampling import Sampling

    assigned = PerplexityPartition.assign(
        documents,
        lang_col,
        order=order,
        prune_min_count=prune_min_count,
        prune_from=prune_from,
    )
    rate = F.lit(0.0)
    for bucket, r in rates.items():
        rate = F.when(
            F.col("ppl_bucket") == bucket, F.lit(float(r))
        ).otherwise(rate)
    return assigned.where(Sampling.coord("doc_id", seed) < rate)


def mix_weights_from_affinity(
    report: DataFrame, temperature: float = 1.0
) -> DataFrame:
    """(source, weight): normalized softmax of per-source DSIR
    affinity — exp(mean_logweight / T) / sum — the recipe weights a
    pipeline hands straight to llm/mixing.MixPlanner.budget_plan.
    The exp terms are 6-dp-rounded DECIMALs so the normalizing total
    is an EXACT sum (order-independent across engines); the total is
    a bounded driver scalar (one row per source). Higher temperature
    flattens the mix toward uniform.

    Raises ValueError when the report is empty (sum is NULL) or every
    exp term rounds to 0 at 6 dp (mean_logweight <= ~-13.8 at T=1 —
    a corpus so far from the target that softmax weights are
    meaningless noise); raise ``temperature`` to spread such a mix
    instead of dividing by zero."""
    t = float(temperature)
    terms = report.select(
        "source",
        rnd(F.exp(F.col("mean_logweight") / F.lit(t)), 6)
        .cast("decimal(18,6)")
        .alias("w"),
    )
    total = terms.agg(F.sum("w")).first()[0]
    if total is None or float(total) == 0.0:
        raise ValueError(
            "mix_weights_from_affinity: affinity softmax total is "
            f"{'NULL (empty report)' if total is None else '0 at 6 dp'}"
            " — no usable weights; raise temperature or check the "
            "DSIR report"
        )
    return terms.select(
        "source",
        rnd(
            F.col("w").cast("double") / F.lit(float(total)), 6
        ).alias("weight"),
    )
