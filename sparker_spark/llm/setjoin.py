"""Prefix-filtered set-similarity join (PPJoin-style candidate
generation) — exact Jaccard self-join over token sets.

This is the third candidate-generation strategy in the dedup family,
complementing the shared-shingle equi-join (every shared token is a
candidate edge — exact but quadratic on hot tokens) and MinHash-LSH
banding (probabilistic). The prefix filter is EXACT and deterministic:
order each document's distinct tokens by ascending global frequency
(rarest first, token string as tiebreak) and keep only the first
``n - ceil(t·n) + 1`` as its *prefix*; two sets with Jaccard >= t must
share at least one prefix token (pigeonhole over the
``inter >= ceil(t/(1+t)·(n1+n2))`` bound, prefix length chosen for the
symmetric Jaccard case), so joining ONLY on prefix tokens loses no
true pair while skipping the frequent-token buckets that dominate the
naive join's cost — the candidate join keys are, by construction, the
RAREST tokens of each document.

Scale posture: the token ordering needs no global rank at all — prefix
membership only depends on each document's OWN ordering of its tokens
under the shared (document-frequency, token) sort key, a per-document
window; everything else is equi-joins and hash aggregates keyed by
token or by pair. No driver state anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparker_spark.rounding import rnd


class SetSimilarityJoin:
    @staticmethod
    def tokens(documents: DataFrame, text_col: str = "text") -> DataFrame:
        """(doc_id, tok) — distinct lowercase whitespace tokens."""
        return (
            documents.select(
                "doc_id",
                F.explode(F.split(F.lower(F.col(text_col)), "[ \\t\\r\\n\\f\\x0B]+")).alias("tok"),
            )
            .where(F.length("tok") > 0)
            .distinct()
        )

    @staticmethod
    def prefix_jaccard_pairs(toks: DataFrame, threshold: float) -> DataFrame:
        """Exact Jaccard >= ``threshold`` pairs over ANY distinct
        (doc_id, tok) relation — the PPJoin core shared by the
        whitespace-token join below and the shingle-hash near-dup path
        (Dedup.ngram_jaccard_pairs). Returns
        (p1, p2, inter, n1, n2, jaccard) with jaccard UNROUNDED;
        callers round for their oracle contract. Output is identical
        to the brute-force shared-token join — the prefix filter only
        prunes candidates that cannot reach the threshold."""
        t = float(threshold)
        # The token relation feeds THREE consumers (frequency counts,
        # the ordering join, and the verification arrays) and the
        # prefix relation feeds both sides of the candidate self-join
        # — pin each once with a lazy localCheckpoint that the result
        # owns. Left unpinned, Spark re-runs the tokenize+distinct and
        # the per-document ordering window per consumer: measured 43 s
        # vs 3 s for the candidate stage at sf0.1.
        toks = toks.localCheckpoint(eager=False)
        # ascending document frequency; token value breaks ties so the
        # ordering (and therefore each prefix) is fully deterministic.
        # Prefix membership only depends on each document's OWN
        # ordering of its tokens under the shared (df, tok) sort key —
        # a per-document window, not a global rank: every doc applies
        # the same total order, which is all the correctness argument
        # (two sets at >= t share a prefix token under ANY common
        # total order) requires.
        freq = toks.groupBy("tok").agg(F.count("*").alias("df"))
        # STRING tokens are dictionary-encoded to dense int64 ids
        # before the join/verify stages: the candidate join keys, the
        # distinct, and the array_intersect verification all compare
        # ints instead of strings (measured 39 s -> 31 s end-to-end at
        # sf0.1; output identical — the id map is an exact bijection,
        # rank of the token under the vocab's total order, computed
        # DISTRIBUTED by ranking.global_rank so a 10^9-token
        # vocabulary never hits a single-partition sort). Numeric
        # token relations (the shingle-hash near-dup path) skip the
        # encode — they are already compact join keys.
        from pyspark.sql.types import StringType

        from sparker_spark import ranking

        if isinstance(toks.schema["tok"].dataType, StringType):
            vocab = ranking.global_rank(freq, ["tok"], out="tid")
            # the encoded relation replaces `toks` for both of its
            # consumers (the ordering below and the verification arrays)
            toks = (
                toks.join(vocab, "tok")
                .select("doc_id", F.col("tid").alias("tok"), "df")
                .localCheckpoint(eager=False)
            )
            ordered = toks
        else:
            ordered = toks.join(freq, "tok")
        w = Window.partitionBy("doc_id").orderBy("df", "tok")
        sized = ordered.withColumn("pos", F.row_number().over(w)).withColumn(
            "n", F.count("*").over(Window.partitionBy("doc_id"))
        )
        # prefix length n - ceil(t*n) + 1
        prefix = (
            sized.where(
                F.col("pos") <= F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1
            )
            .select("doc_id", "tok", "n")
            .localCheckpoint(eager=False)
        )

        # PPJoin length filter rides on the candidate join: Jaccard
        # >= t forces min(n1,n2) >= t·max(n1,n2), a pure codegen
        # predicate BEFORE the distinct — lossless, and on
        # length-skewed corpora it kills candidates the prefix
        # collision alone admits.
        cand = (
            prefix.select(F.col("doc_id").alias("p1"), "tok", F.col("n").alias("n1"))
            .join(
                prefix.select(
                    F.col("doc_id").alias("p2"), "tok", F.col("n").alias("n2")
                ),
                "tok",
            )
            .where(
                (F.col("p1") < F.col("p2"))
                # length filter on the SAME float path as the final
                # check (division, then >= t): real min/max >= real
                # inter/union and float division is monotone in the
                # real quotient, so fl(min/max) >= fl(inter/union) —
                # any pair the final jaccard >= t keeps also passes
                # here. (The previous t*max double PRODUCT rounds
                # differently from the final quotient at exact-
                # threshold ties and could drop a hairline pair.)
                & (
                    F.least("n1", "n2") / F.greatest("n1", "n2")
                    >= F.lit(t)
                )
            )
            .select("p1", "p2")
            .distinct()
        )

        # Exact verification: one sorted token array per DOCUMENT
        # (bounded by document size — same class as a MinHash
        # signature row), then a per-candidate array_intersect in
        # whole-stage codegen. The previous token-equi-join
        # verification multiplied every candidate by its |tokens(p1)|
        # rows before aggregating — on a near-all-pairs candidate set
        # that is candidates × tokens shuffled rows (measured 112 s
        # vs 6 s at sf0.1, where the synthetic corpus defeats prefix
        # pruning and 12.5 M candidates survive).
        arrs = toks.groupBy("doc_id").agg(
            F.sort_array(F.collect_list("tok")).alias("arr"),
            F.count("*").alias("n"),
        )
        return (
            cand.join(
                arrs.select(
                    F.col("doc_id").alias("p1"),
                    F.col("arr").alias("a1"),
                    F.col("n").alias("n1"),
                ),
                "p1",
            )
            .join(
                arrs.select(
                    F.col("doc_id").alias("p2"),
                    F.col("arr").alias("a2"),
                    F.col("n").alias("n2"),
                ),
                "p2",
            )
            .withColumn("inter", F.size(F.array_intersect("a1", "a2")))
            .withColumn(
                "jaccard",
                F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter")),
            )
            .where(F.col("jaccard") >= t)
            .select(
                "p1",
                "p2",
                F.col("inter").cast("long").alias("inter"),
                F.col("n1").cast("long").alias("n1"),
                F.col("n2").cast("long").alias("n2"),
                "jaccard",
            )
        )

    @staticmethod
    def jaccard_prefix_join(
        documents: DataFrame,
        threshold: float,
        text_col: str = "text",
    ) -> DataFrame:
        """All pairs (p1 < p2) with exact whitespace-token-set Jaccard
        >= ``threshold``: (p1, p2, inter, n1, n2, jaccard)."""
        toks = SetSimilarityJoin.tokens(documents, text_col)
        pairs = SetSimilarityJoin.prefix_jaccard_pairs(toks, threshold)
        return pairs.select(
            "p1", "p2", "inter", "n1", "n2", rnd("jaccard", 6).alias("jaccard")
        )
