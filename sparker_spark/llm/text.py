"""Text-analysis operators for large-scale training-data pipelines.

Extensions beyond the reference's ER surface (SURVEY §7.1 M8): language
identification, quality scoring, token counting, and document
fingerprinting over a ``documents(doc_id, text, ...)`` table. All pure
column expressions — JVM-side, whole-stage-codegen friendly; no Python
UDFs — so they run at scan speed on any cluster size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparker_spark.rounding import rnd

# small, fixed stopword lists per language for the n-gram/stopword
# language-ID heuristic; deterministic and replicated in the DuckDB
# oracle. (A production system would plug fastText/CLD3 in via
# mapInPandas; the heuristic is the engine-native fallback.)
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "en", "por", "que"],
}

TOKEN_REGEX = "[a-z0-9]+"
# BPE-ish pre-tokenizer: word pieces OR single non-space symbols.
# The whitespace is the EXPLICIT class, not \s: Java regex counts
# \x0B as \s, RE2/DuckDB does not — with \s the two engines would
# disagree on texts containing a vertical tab (the repo's standing
# portability rule, same as bpe.WS_CLASS / BoilerplateRemoval).
# NOTE on escaping: Spark SQL string literals treat backslash as an
# escape character, DuckDB's do not — so the Spark literal needs the
# backslash doubled while the DuckDB oracle uses the raw form.
BPE_ISH_REGEX = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 \\t\\r\\n\\f\\x0B]"
BPE_ISH_REGEX_SPARK_SQL = BPE_ISH_REGEX.replace("\\", "\\\\")


class TextAnalysis:
    @staticmethod
    def token_stats(documents: DataFrame) -> DataFrame:
        """Per-document token statistics: whitespace tokens, regex
        (BPE-ish) tokens, distinct tokens, mean token length."""
        toks = F.split(F.lower(F.col("text")), "[ \\t\\r\\n\\f\\x0B]+")
        return documents.select(
            "doc_id",
            F.length("text").cast("long").alias("n_chars"),
            F.size(toks).cast("long").alias("n_tokens_ws"),
            F.expr(f"CAST(regexp_count(lower(text), '{TOKEN_REGEX}') AS BIGINT)").alias(
                "n_tokens_word"
            ),
            F.expr(
                f"CAST(regexp_count(text, '{BPE_ISH_REGEX_SPARK_SQL}') AS BIGINT)"
            ).alias("n_tokens_bpe"),
            F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
            rnd(
                F.length(F.regexp_replace(F.col("text"), "[ \\t\\r\\n\\f\\x0B]+", ""))
                / F.size(toks),
                6,
            ).alias("mean_token_len"),
        )

    @staticmethod
    def quality_score(documents: DataFrame) -> DataFrame:
        """Heuristic quality signals: stopword ratio, alpha ratio,
        punctuation ratio, plus a blended 0-1 score. Deterministic
        formula, oracle-checkable."""
        toks = F.split(F.lower(F.col("text")), "[ \\t\\r\\n\\f\\x0B]+")
        n = F.size(toks).cast("double")
        stop_list = ",".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
        n_stop = F.expr(
            f"CAST(size(filter(split(lower(text), '[ \\\\t\\\\r\\\\n\\\\f\\\\x0B]+'),"
            f" t -> t IN ({stop_list}))) AS DOUBLE)"
        )
        n_alpha = F.expr(
            "CAST(size(filter(split(lower(text), '[ \\\\t\\\\r\\\\n\\\\f\\\\x0B]+'),"
            " t -> t rlike '^[a-z]+$')) AS DOUBLE)"
        )
        punct = F.length(F.regexp_replace(F.col("text"), "[a-zA-Z0-9 \\t\\r\\n\\f\\x0B]", "")).cast(
            "double"
        )
        stop_ratio = n_stop / n
        alpha_ratio = n_alpha / n
        punct_ratio = punct / F.length("text").cast("double")
        len_score = F.least(F.length("text") / F.lit(500.0), F.lit(1.0))
        score = (
            0.3 * alpha_ratio
            + 0.3 * len_score
            + 0.2 * stop_ratio
            + 0.2 * (1.0 - F.least(punct_ratio * 5.0, F.lit(1.0)))
        )
        return documents.select(
            "doc_id",
            rnd(stop_ratio, 6).alias("stopword_ratio"),
            rnd(alpha_ratio, 6).alias("alpha_ratio"),
            rnd(punct_ratio, 6).alias("punct_ratio"),
            rnd(score, 6).alias("quality_score"),
        )

    @staticmethod
    def lang_id(documents: DataFrame) -> DataFrame:
        """Stopword-hit language ID: for each language, count tokens in
        its stopword list; argmax with deterministic tiebreak (language
        code ascending); 'und' when nothing hits."""
        scores = []
        for lang, words in sorted(LANG_STOPWORDS.items()):
            lst = ",".join(f"'{w}'" for w in words)
            scores.append(
                F.expr(
                    f"size(filter(split(lower(text), '[ \\\\t\\\\r\\\\n\\\\f\\\\x0B]+'), t -> t IN ({lst})))"
                ).alias(f"hits_{lang}")
            )
        scored = documents.select("doc_id", "lang", *scores)
        langs = sorted(LANG_STOPWORDS)
        best = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
        pred = F.lit("und")
        for lang in reversed(langs):  # earliest alphabetical wins ties
            pred = F.when(
                (F.col(f"hits_{lang}") == best) & (best > 0), F.lit(lang)
            ).otherwise(pred)
        return scored.select(
            "doc_id",
            F.col("lang").alias("declared_lang"),
            pred.alias("predicted_lang"),
            *[F.col(f"hits_{lang}").cast("long").alias(f"hits_{lang}") for lang in langs],
        )

    @staticmethod
    def tfidf_top_terms(documents: DataFrame, k: int = 3) -> DataFrame:
        """Per-document top-k terms by tf·idf (tf = in-doc count,
        idf = ln(N/df)), rank ties broken by term ascending. The rank
        is computed over the ROUNDED score so both engines order
        identically even when mathematically-equal scores arrive via
        different ln() call trees. Plan: explode -> two hash aggregates
        (term counts per doc; doc frequency per term) -> window top-k
        per doc. N is a driver-collected scalar (one column-pruned
        count job — the repo's documented driver-scalar pattern, fine
        at any scale). The df relation is |vocabulary| rows — orders of
        magnitude smaller than the corpus — and the window partitions
        by doc_id, so nothing concentrates on one key at scale."""
        from pyspark.sql import Window

        toks = documents.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), "[ \\t\\r\\n\\f\\x0B]+")).alias("term"),
        ).where(F.length("term") > 0)
        tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
        df = toks.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
        n_docs = documents.count()
        scored = tf.join(df, "term").select(
            "doc_id",
            "term",
            "tf",
            "df",
            rnd(
                F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
            ).alias("tfidf"),
        )
        w = Window.partitionBy("doc_id").orderBy(
            F.desc("tfidf"), F.asc("term")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(
                "doc_id",
                F.col("rank").cast("int").alias("rank"),
                "term",
                F.col("tf").cast("long").alias("tf"),
                F.col("df").cast("long").alias("df"),
                "tfidf",
            )
        )

    @staticmethod
    def fingerprint(documents: DataFrame, shingle_size: int = 3) -> DataFrame:
        """Document fingerprint: min/max word-shingle hash (a 1-hash
        MinHash) — the cheap container for incremental dedup joins."""
        from sparker_spark.llm.shingles import shingle_hashes

        sh = shingle_hashes(documents, shingle_size)
        return sh.groupBy("doc_id").agg(
            F.min("h").alias("min_shingle_hash"),
            F.max("h").alias("max_shingle_hash"),
            F.count_distinct("h").alias("n_shingles"),
        )


class Collocations:
    @staticmethod
    def pmi_top(
        documents: DataFrame,
        min_pairs: int = 5,
        k: int = 20,
    ) -> DataFrame:
        """Top-k token collocations by document-level PMI:
        pmi(a,b) = ln(N·n_ab / (n_a·n_b)) over distinct-token doc
        co-occurrence, ties broken by (t1, t2). ``min_pairs`` floors
        the support so rare accidental pairs don't dominate.

        The within-doc token self-join is quadratic in DISTINCT tokens
        per document — fine for natural documents (hundreds of distinct
        tokens); for giant documents cap the per-doc token set first
        (e.g. tfidf_top_terms) or switch to windowed co-occurrence.
        N is a driver-scalar count (documented pattern)."""
        from sparker_spark.rounding import rnd

        toks = (
            documents.select(
                "doc_id",
                F.explode(F.split(F.lower(F.col("text")), "[ \\t\\r\\n\\f\\x0B]+")).alias("tok"),
            )
            .where(F.length("tok") > 0)
            .distinct()
        )
        n_docs = documents.count()
        a = toks.select("doc_id", F.col("tok").alias("t1"))
        b = toks.select("doc_id", F.col("tok").alias("t2"))
        pair_counts = (
            a.join(b, "doc_id")
            .where(F.col("t1") < F.col("t2"))
            .groupBy("t1", "t2")
            .agg(F.count("*").alias("n_ab"))
            .where(F.col("n_ab") >= int(min_pairs))
        )
        marg = toks.groupBy("tok").agg(F.count("*").alias("n"))
        scored = (
            pair_counts.join(
                marg.select(F.col("tok").alias("t1"), F.col("n").alias("n_a")), "t1"
            )
            .join(
                marg.select(F.col("tok").alias("t2"), F.col("n").alias("n_b")), "t2"
            )
            .select(
                "t1",
                "t2",
                F.col("n_ab").cast("long").alias("n_ab"),
                F.col("n_a").cast("long").alias("n_a"),
                F.col("n_b").cast("long").alias("n_b"),
                rnd(
                    F.log(
                        F.lit(float(n_docs))
                        * F.col("n_ab")
                        / (F.col("n_a") * F.col("n_b"))
                    ),
                    6,
                ).alias("pmi"),
            )
        )
        return scored.orderBy(
            F.desc("pmi"), F.asc("t1"), F.asc("t2")
        ).limit(int(k))


class Chunker:
    """Token-window document chunking for training-data pipelines:
    split each document into fixed-size whitespace-token windows with
    optional overlap — the preprocessing step between raw documents
    and tokenizer-ready training rows. Pure higher-order-function
    expressions (sequence + transform + slice + explode), no UDFs, so
    chunking parallelizes as a narrow map over document rows at any
    corpus size."""

    @staticmethod
    def chunk(
        documents,
        chunk_tokens: int = 64,
        overlap: int = 0,
        doc_col: str = "doc_id",
        text_col: str = "text",
    ):
        """(doc_id, chunk_idx, chunk_text, n_tokens): windows of
        ``chunk_tokens`` whitespace tokens starting every
        ``chunk_tokens - overlap`` tokens; the final window may be
        short. A window that would contain ONLY overlap tokens (its
        start past ``n - overlap``) is never emitted — the previous
        window already covers the document end, and emitting it would
        duplicate training text verbatim. Empty / whitespace-only
        documents produce no rows. Text is NOT normalized — chunk
        boundaries must not change the training text."""
        c, o = int(chunk_tokens), int(overlap)
        if c <= 0:
            raise ValueError("chunk_tokens must be positive")
        if not 0 <= o < c:
            raise ValueError("overlap must satisfy 0 <= overlap < chunk_tokens")
        stride = c - o
        expr = F.expr(
            f"CASE WHEN size(toks) >= 1 THEN "
            f"transform(sequence(1, greatest(size(toks) - {o}, 1), {stride}), "
            f" i -> struct(CAST((i - 1) DIV {stride} AS INT) AS chunk_idx, "
            f"            concat_ws(' ', slice(toks, i, {c})) AS chunk_text, "
            f"            CAST(size(slice(toks, i, {c})) AS INT) AS n_tokens)) "
            f"ELSE array() END"
        )
        return (
            documents.select(
                F.col(doc_col).alias("doc_id"),
                F.filter(
                    F.split(F.col(text_col), "[ \\t\\r\\n\\f\\x0B]+"), lambda x: x != ""
                ).alias("toks"),
            )
            .select("doc_id", F.explode(expr).alias("c"))
            .select("doc_id", "c.chunk_idx", "c.chunk_text", "c.n_tokens")
        )


class _NGramStats:
    """The corpus n-gram statistics every :class:`LanguageModelScore`
    scorer reads — KenLM's estimator shape (Heafield 2011): count every
    order in one pass, smooth afterwards.

    * ``pos``: one row per token position, ``(doc_id, w0..w{n-1})``.
      ``w0`` is the token at the position and ``wj`` the token j back
      (null within the first j positions of the document). The lags
      are array arithmetic inside the row: one explode, no window.
    * ``T`` / ``V``: corpus token count and vocabulary size, two
      bounded driver scalars collected in one action.
    * :meth:`counts`: order-k gram counts ``(w{k-1}..w0) -> c``. Every
      order 1..n is counted in ONE keyed aggregate over an
      order-tagged explode of ``pos``; an order's table is a filter of
      it. :meth:`with_context_sums` adds each gram's context sum
      ``cc`` (a model-sized aggregate of the count table).

    ``pos`` and the count table are pinned with a lazy
    ``localCheckpoint`` that the scorer's result owns: the tokenize +
    explode lineage and the count shuffle run once however many
    branches read them, nothing goes into the session cache, and the
    blocks are freed when the result is garbage-collected."""

    def __init__(
        self, documents: DataFrame, n: int, doc_col: str, text_col: str
    ):
        self.n = n
        lags = [f"w{j}" for j in range(n)]
        toks = F.filter(
            F.split(F.lower(F.col(text_col)), "[^0-9a-z_]+"),
            lambda t: F.length(t) > 0,
        )
        fields = ", ".join(
            f"'w{j}', IF(i > {j}, element_at(t, i - {j}), NULL)"
            for j in range(n)
        )
        self.pos = (
            documents.select(F.col(doc_col).alias("doc_id"), toks.alias("t"))
            .where(F.size("t") >= 1)
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(t)), "
                        f"i -> named_struct({fields}))"
                    )
                ).alias("p"),
            )
            .select("doc_id", *[F.col(f"p.{w}").alias(w) for w in lags])
            .localCheckpoint(eager=False)
        )
        # a position carries an order-k gram when w{k-1} is set; the
        # lags past the order are nulled so (k, w0..w{n-1}) keys every
        # order's grams in the one aggregate
        null = F.lit(None).cast("string")
        tagged = F.array(
            *[
                F.when(
                    F.col(f"w{k - 1}").isNotNull(),
                    F.struct(
                        F.lit(k).alias("k"),
                        *[
                            (F.col(w) if j < k else null).alias(w)
                            for j, w in enumerate(lags)
                        ],
                    ),
                )
                for k in range(1, n + 1)
            ]
        )
        self._counts = (
            self.pos.select(F.explode(tagged).alias("g"))
            .where(F.col("g").isNotNull())
            .select("g.*")
            .groupBy("k", *lags)
            .agg(F.count("*").cast("double").alias("c"))
            .localCheckpoint(eager=False)
        )
        s = (
            self.counts(1)
            .agg(
                F.sum("c").alias("T"),
                F.count("*").cast("double").alias("V"),
            )
            .first()
        )
        self.T, self.V = float(s["T"] or 0.0), float(s["V"])

    @staticmethod
    def cols(k: int) -> list[str]:
        """An order-k gram's columns, oldest token first."""
        return [f"w{j}" for j in range(k - 1, -1, -1)]

    def counts(self, k: int) -> DataFrame:
        return self._counts.where(F.col("k") == k).select(*self.cols(k), "c")

    def with_context_sums(self, k: int) -> DataFrame:
        """Order-k counts with ``cc``, the sum of counts over the gram's
        (k-1)-word context: every gram contributes to its own
        context's sum, so ``cc >= c > 0``."""
        ctx = self.cols(k)[:-1]
        cc = self.counts(k).groupBy(*ctx).agg(F.sum("c").alias("cc"))
        return self.counts(k).join(cc, ctx)

    def positions(self) -> DataFrame:
        """The scored positions: those with a full n-gram context."""
        return self.pos.where(F.col(f"w{self.n - 1}").isNotNull())


def _mean_logprob(
    documents: DataFrame,
    n: int,
    doc_col: str,
    text_col: str,
    count_alias: str,
    model,
) -> DataFrame:
    """(doc_id, <count_alias>, avg_logprob) for an order-n scorer.
    ``model(stats)`` returns the scored positions joined with whatever
    its formula reads, and the formula's probability column. Per-
    position logprobs are rounded to 6 places and summed as
    DECIMAL(18,6) — the repo's cross-engine determinism rule for sums
    of irrational terms — then divided by the position count. An
    empty corpus (no tokens at all) gives an empty result."""
    stats = _NGramStats(documents, n, doc_col, text_col)
    if not stats.V:
        return stats.pos.select(
            "doc_id",
            F.lit(0).cast("long").alias(count_alias),
            F.lit(0.0).alias("avg_logprob"),
        ).limit(0)
    scored, p = model(stats)
    return (
        scored.select(
            "doc_id", rnd(F.log(p), 6).cast("decimal(18,6)").alias("lp")
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias(count_alias),
            F.sum("lp").alias("s"),
        )
        .select(
            "doc_id",
            count_alias,
            rnd(F.col("s").cast("double") / F.col(count_alias), 6).alias(
                "avg_logprob"
            ),
        )
    )


def _laplace(stats: _NGramStats):
    """Add-one order-n model: P = (c(w_1..w_n) + 1) / (c(w_1..w_{n-1}) + V)."""
    n = stats.n
    return (
        stats.positions().join(stats.with_context_sums(n), stats.cols(n)),
        (F.col("c") + F.lit(1.0)) / (F.col("cc") + F.lit(stats.V)),
    )


class LanguageModelScore:
    """Corpus n-gram LM document scoring — the CCNet-style "score
    documents by LM log-likelihood, filter the tail" quality gate. Five
    scorers (unigram MLE, Laplace bigram and trigram, Jelinek-Mercer
    with count pruning, interpolated Kneser-Ney) share one statistics
    core, ``_NGramStats``: one tokenizer, one lag-column position
    relation, the corpus scalars T and V, and one all-orders count
    table. Each scorer is its smoothing formula over that core, and
    all report the same per-document DECIMAL-summed mean; swap the
    counts for ones exported by a real LM to keep the identical
    distributed plumbing."""

    @staticmethod
    def unigram_logprob(
        documents: DataFrame,
        doc_col: str = "doc_id",
        text_col: str = "text",
    ) -> DataFrame:
        """(doc_id, n_tokens, avg_logprob): mean ln P(token) per
        document under the corpus unigram MLE, P = c(w) / T. Empty
        documents produce no row (no tokens, undefined mean)."""
        return _mean_logprob(
            documents,
            1,
            doc_col,
            text_col,
            "n_tokens",
            lambda st: (
                st.positions().join(st.counts(1), "w0"),
                F.col("c") / F.lit(st.T),
            ),
        )

    @staticmethod
    def bigram_logprob(
        documents: DataFrame,
        doc_col: str = "doc_id",
        text_col: str = "text",
    ) -> DataFrame:
        """(doc_id, n_bigrams, avg_logprob): mean ln P(w2 | w1) per
        document under the corpus bigram LM with add-one (Laplace)
        smoothing,

            P = (c(w_1 w_2) + 1) / (c(w_1 *) + V)

        with the context count c(w_1 *) the sum of bigram counts
        sharing the prefix — the next step up from
        :meth:`unigram_logprob` on the CCNet-style quality ladder;
        repetitive or word-salad documents separate far more sharply
        under a context model. Documents with fewer than two tokens
        produce no row."""
        return _mean_logprob(
            documents, 2, doc_col, text_col, "n_bigrams", _laplace
        )

    @staticmethod
    def trigram_logprob(
        documents: DataFrame,
        doc_col: str = "doc_id",
        text_col: str = "text",
    ) -> DataFrame:
        """(doc_id, n_trigrams, avg_logprob): mean ln P(w3 | w1 w2)
        per document under the corpus trigram LM with add-one
        smoothing — the published CCNet pipeline (Wenzek et al. 2020)
        scores with a 5-gram KenLM; order 3 is the closest faithful
        step this side of Kneser-Ney, and the wider context separates
        short degenerate documents (e.g. alternating two-word loops,
        which a bigram LM scores as PERFECTLY predictable) that
        surface stats and bigrams both miss. Documents with fewer
        than three tokens produce no row. Same formula as
        :meth:`bigram_logprob` one order up."""
        return _mean_logprob(
            documents, 3, doc_col, text_col, "n_trigrams", _laplace
        )

    # fixed Jelinek-Mercer interpolation weight for the order-5 LM —
    # P_k = LAM * ML_k + (1 - LAM) * P_{k-1}; 0.5 is the classic
    # untuned JM setting (the engine has no held-out tuning loop)
    JM_LAMBDA = 0.5

    @staticmethod
    def interpolated_logprob(
        documents: DataFrame,
        n: int = 5,
        lam: float | None = None,
        doc_col: str = "doc_id",
        text_col: str = "text",
        count_alias: str = "n_grams",
        prune_min_count: int = 1,
        prune_from: int = 3,
    ) -> DataFrame:
        """(doc_id, <count_alias>, avg_logprob): mean ln P per scored
        position under the ORDER-n JELINEK-MERCER interpolated corpus
        LM — the KenLM-faithful step past plain Laplace (the published
        CCNet pipeline scores with a 5-gram KenLM; Wenzek et al. 2020):

            P_1(w)      = (c(w) + 1) / (T + V)          (Laplace base)
            P_k(w|ctx)  = lam * c_k(ctx,w)/c_k(ctx,*)
                          + (1 - lam) * P_{k-1}(w|shorter ctx)

        where c_k(ctx,*) sums k-gram counts over the (k-1)-word
        context — every scored position contributes to its own
        context count, so no denominator is ever zero and P_n > 0
        with no special cases. Positions are those with a FULL n-gram
        context (documents shorter than n tokens produce no row, as
        for the Laplace scorers); lower-order counts are taken over
        ALL their own positions (standard JM), not just inside n-gram
        windows. The formula joins the scored positions once per
        order against the core's count table with its context sums.

        ``prune_min_count`` / ``prune_from``: KenLM-style COUNT
        PRUNING, the mechanism real 5-gram pipelines use to bound
        model state (CCNet trains KenLM with singleton pruning at the
        high orders — the ``--prune 0 0 1`` shape). For orders
        ``k >= prune_from``, k-grams with count < ``prune_min_count``
        are REMOVED from the model AFTER estimation (context sums
        c_k(ctx,*) are computed on the unpruned counts, KenLM's rule,
        so surviving probabilities are unchanged); a scored position
        whose k-gram was pruned takes ML_k = 0 and backs off entirely
        to the (1-lam)-weighted lower orders — the stupid-backoff
        treatment (Brants et al. 2007), unnormalized by design, as is
        pruned KenLM itself. ``prune_min_count=1`` (default) keeps
        every gram and is plan-identical to the unpruned scorer;
        ``prune_min_count=2`` drops singletons, which on Heaps-law
        corpora removes the majority of the top-order table — the
        state the decade measurement bounds."""
        n = int(n)
        if n < 2:
            raise ValueError("interpolated_logprob needs n >= 2")
        prune_min_count = int(prune_min_count)
        prune_from = int(prune_from)
        if prune_min_count < 1:
            raise ValueError("prune_min_count must be >= 1")
        lam = float(
            LanguageModelScore.JM_LAMBDA if lam is None else lam
        )

        def model(st: _NGramStats):
            scored = st.positions().join(
                st.counts(1).select(
                    "w0",
                    ((F.col("c") + F.lit(1.0)) / F.lit(st.T + st.V)).alias(
                        "p1"
                    ),
                ),
                "w0",
            )
            p = F.col("p1")
            for k in range(2, n + 1):
                pruned = prune_min_count > 1 and k >= prune_from
                tab = st.with_context_sums(k)
                if pruned:
                    tab = tab.where(F.col("c") >= F.lit(float(prune_min_count)))
                # a pruned order loses rows from its table, so the
                # position join keeps the position (left) and reads the
                # missing ML as 0; unpruned, every position's gram is in
                # its own count table and the join stays inner
                scored = scored.join(
                    tab.select(
                        *st.cols(k), (F.col("c") / F.col("cc")).alias(f"ml{k}")
                    ),
                    st.cols(k),
                    "left" if pruned else "inner",
                )
                mlk = (
                    F.coalesce(F.col(f"ml{k}"), F.lit(0.0))
                    if pruned
                    else F.col(f"ml{k}")
                )
                p = F.lit(lam) * mlk + F.lit(1.0 - lam) * p
            return scored, p

        return _mean_logprob(documents, n, doc_col, text_col, count_alias, model)

    @staticmethod
    def kneser_ney_logprob(
        documents: DataFrame,
        n: int = 5,
        doc_col: str = "doc_id",
        text_col: str = "text",
        count_alias: str = "n_grams",
    ) -> DataFrame:
        """(doc_id, <count_alias>, avg_logprob): mean ln P per scored
        position under the ORDER-n INTERPOLATED KNESER-NEY corpus LM —
        the smoothing KenLM actually estimates (Heafield 2011 trains
        interpolated modified KN; this is the Chen & Goodman 1999
        one-discount-per-order interpolated variant, the last fidelity
        step past the Jelinek-Mercer scorer):

            P_0          = 1 / V                          (uniform)
            P_1(w)       = max(c'(w) - D_1, 0) / T'
                           + (D_1 * N_1 / T') * P_0
            P_k(w|ctx)   = max(a_k(ctx,w) - D_k, 0) / den_k(ctx)
                           + (D_k * nt_k(ctx) / den_k(ctx))
                             * P_{k-1}(w|shorter ctx)

        where a_k is the RAW k-gram count at the top order and the
        CONTINUATION count (distinct preceding-word types, computed
        off the (k+1)-gram type table) at every lower order — the KN
        insight: a word's backoff mass reflects how many contexts it
        continues, not how often it occurs. den_k(ctx) sums a_k over
        the context; nt_k(ctx) counts the distinct continuations the
        discount was taken from, so each P_k sums to 1 over w exactly.
        D_k is the Ney absolute discount n1/(n1 + 2*n2) from the
        counts-of-counts of a_k (0.5 when an order has no mass at
        counts 1-2 — degenerate micro-corpora only). T' = total
        bigram-type count, N_1 = distinct continuing unigrams, V =
        vocabulary size.

        Positions scored are those with a FULL n-gram context
        (documents shorter than n tokens produce no row), matching
        :meth:`interpolated_logprob`; every joined statistic exists
        for a scored position (the position's own grams contribute to
        each table), so all joins stay INNER — no OOV holes, P > 0.

        The a_k tables, their per-context den/nt and the 2n bounded
        driver scalars (the counts-of-counts behind the discounts,
        T', N_1) are all aggregates of the core's checkpointed count
        table — model-sized, never the corpus — and the scored
        positions are joined once per order."""
        n = int(n)
        if n < 2:
            raise ValueError("kneser_ney_logprob needs n >= 2")

        def model(st: _NGramStats):
            # adjusted counts a per order: the raw count at the top
            # order; below it the continuation count — the rows of the
            # (k+1)-gram table that share the k-gram as their suffix
            adj = {n: st.counts(n).withColumnRenamed("c", "a")}
            for k in range(1, n):
                adj[k] = (
                    st.counts(k + 1)
                    .groupBy(*st.cols(k))
                    .agg(F.count("*").cast("double").alias("a"))
                )
            # all counts-of-counts in one action: a union of n one-row
            # aggregates runs as one job whose legs execute concurrently
            legs = [
                adj[k]
                .agg(
                    F.sum((F.col("a") == 1.0).cast("long"))
                    .cast("double")
                    .alias("n1"),
                    F.sum((F.col("a") == 2.0).cast("long"))
                    .cast("double")
                    .alias("n2"),
                    F.sum("a").alias("tp"),
                    F.count("*").cast("double").alias("n1t"),
                )
                .select(F.lit(k).alias("k"), "n1", "n2", "tp", "n1t")
                for k in range(1, n + 1)
            ]
            u = legs[0]
            for leg in legs[1:]:
                u = u.unionByName(leg)
            stats = {r["k"]: r for r in u.collect()}
            D: dict[int, float] = {}
            for k in range(1, n + 1):
                n1 = float(stats[k]["n1"] or 0)
                n2 = float(stats[k]["n2"] or 0)
                D[k] = n1 / (n1 + 2.0 * n2) if (n1 + 2.0 * n2) > 0 else 0.5
            # unigram scalars: T' = total bigram types, N_1 = distinct
            # continuing unigrams (rows of adj[1])
            t_prime = float(stats[1]["tp"] or 0)
            n1_types = float(stats[1]["n1t"] or 0)
            # den (sum of a) and nt (rows) per context, computed on
            # adj[k] and pre-joined into the gram table so the scored
            # positions are joined once per order
            scored = st.positions()
            for k in range(2, n + 1):
                cols = st.cols(k)
                ctx = adj[k].groupBy(*cols[:-1]).agg(
                    F.sum("a").alias(f"den{k}"),
                    F.count("*").cast("double").alias(f"nt{k}"),
                )
                tab = adj[k].select(
                    *cols, F.col("a").alias(f"a{k}")
                ).join(ctx, cols[:-1])
                scored = scored.join(tab, cols)
            scored = scored.join(
                adj[1].select("w0", F.col("a").alias("a1")), "w0"
            )
            p = (
                F.greatest(F.col("a1") - F.lit(D[1]), F.lit(0.0))
                / F.lit(t_prime)
                + (F.lit(D[1] * n1_types) / F.lit(t_prime))
                * (F.lit(1.0) / F.lit(st.V))
            )
            for k in range(2, n + 1):
                p = (
                    F.greatest(F.col(f"a{k}") - F.lit(D[k]), F.lit(0.0))
                    / F.col(f"den{k}")
                    + (F.lit(D[k]) * F.col(f"nt{k}") / F.col(f"den{k}")) * p
                )
            return scored, p

        return _mean_logprob(documents, n, doc_col, text_col, count_alias, model)

    @staticmethod
    def by_order(
        documents: DataFrame,
        order: int,
        prune_min_count: int,
        prune_from: int,
    ) -> DataFrame:
        """The CCNet quality-gate scorer for an LM ``order`` (2, 3 or
        5): Laplace at orders 2 and 3; at order 5 the KenLM-faithful
        Jelinek-Mercer LM (Wenzek et al. 2020), never zero, no OOV
        holes, with count pruning ``prune_min_count`` / ``prune_from``
        (see :meth:`interpolated_logprob`). Any other order raises
        ``KeyError``. ``curate`` and ``PerplexityPartition`` both
        default to pruning singletons from order 3 (2, 3): CCNet trains
        its KenLM that way (``--prune 0 0 1``), and the pruned scorer
        measured 2.5-2.6x faster with ~95% less order-5 state at every
        SF."""
        return {
            2: LanguageModelScore.bigram_logprob,
            3: LanguageModelScore.trigram_logprob,
            5: lambda d: LanguageModelScore.interpolated_logprob(
                d,
                5,
                prune_min_count=int(prune_min_count),
                prune_from=int(prune_from),
            ),
        }[int(order)](documents)
