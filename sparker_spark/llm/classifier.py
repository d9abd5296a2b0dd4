"""Linear quality classifier over hashed n-gram features — the
"fastText-style quality filter" stage of production curation
pipelines (GPT-3/CCNet/DataComp train a linear classifier on
wiki-vs-crawl weak labels and keep documents the classifier likes).

fastText's classifier is linear over bag-of-ngrams; the deterministic
instance here is multinomial Naive Bayes with Laplace smoothing —
the SAME architecture (per-feature log-odds weights, summed), but
trained in ONE aggregation pass with no iterative optimizer, so the
model is a pure function of the corpus and the DuckDB oracle replays
training AND scoring bit-for-bit (the same property DSIR's importance
estimator exploits; an LBFGS-trained twin would score through the
identical map-literal plan — swap the weight relation).

Features are the engine's hashed unigram+bigram buckets
(llm/selection._grams / _bucket_array_sql — tagged gram orders, 60-bit
md5, B buckets). Plan shape (the measured DSIR shape): each row
derives its own bucket array (narrow), two B-ROW aggregates build the
class counts (map-side combine collapses them), the <= B-row weight
relation is collected and bound back as a map LITERAL, and scoring is
a second narrow map — no corpus-sized wide shuffle anywhere, so the
operator is ingest-bounded at any corpus size.

No reference counterpart — sparker has no text-classification
surface; extends the engine per the training-data-pipeline brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparker_spark.llm.selection import DEFAULT_BUCKETS, ImportanceSelection
from sparker_spark.rounding import rnd


class QualityClassifier:
    @staticmethod
    def train_score(
        documents: DataFrame,
        label_predicate: str | DataFrame,
        buckets: int = DEFAULT_BUCKETS,
        alpha: float = 1.0,
        text_col: str = "text",
    ) -> DataFrame:
        """(doc_id, n_grams, logit, pred): every document scored under
        the corpus-self weak-label NB model — ``label_predicate``
        (e.g. ``"source = 'wiki'"``) marks the positive class, and the
        returned logit is

            ln(D1/D0) + sum_occurrences [ ln((c1_b + a)/(N1 + aB))
                                        - ln((c0_b + a)/(N0 + aB)) ]

        with per-bucket weights 6-dp-rounded DECIMALs summed exactly
        (the repo's cross-engine determinism rule). ``pred`` is
        logit >= 0. Documents with no grams score the prior alone.
        Filter ``pred`` (or threshold the logit) to keep the
        classifier-approved corpus."""
        b = int(buckets)
        a = float(alpha)
        bkts = ImportanceSelection._bucket_array_sql(text_col, b)
        base = documents.select(
            "doc_id", F.expr(bkts).alias("_bkts")
        ).localCheckpoint(eager=False)
        # the positive class: a predicate over ``documents``, or a
        # (doc_id) relation — curate() passes the latter because its
        # working frame is column-pruned to (doc_id, text) while weak
        # labels usually live on the ORIGINAL metadata columns
        if isinstance(label_predicate, str):
            pos_ids = documents.where(label_predicate).select("doc_id")
        else:
            pos_ids = label_predicate.select("doc_id").distinct()
        occ1 = base.join(pos_ids, "doc_id").select(
            F.explode("_bkts").alias("bucket")
        )
        occ0 = base.join(pos_ids, "doc_id", "left_anti").select(
            F.explode("_bkts").alias("bucket")
        )
        c1 = occ1.groupBy("bucket").agg(F.count("*").alias("c1"))
        c0 = occ0.groupBy("bucket").agg(F.count("*").alias("c0"))
        n1 = c1.agg(F.sum("c1")).first()[0] or 0
        n0 = c0.agg(F.sum("c0")).first()[0] or 0
        d1 = base.join(pos_ids, "doc_id").count()
        d0 = base.count() - d1
        if d1 == 0 or d0 == 0:
            raise ValueError(
                "quality classifier needs BOTH classes non-empty: "
                f"positives={d1}, negatives={d0} under "
                f"{label_predicate!r}"
            )
        w_col = rnd(
            F.log(
                (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(a))
                / F.lit(float(n1) + a * b)
            )
            - F.log(
                (F.coalesce(F.col("c0"), F.lit(0)) + F.lit(a))
                / F.lit(float(n0) + a * b)
            ),
            6,
        ).cast("decimal(18,6)")
        w_rows = (
            c1.join(c0, "bucket", "full")
            .select("bucket", w_col.alias("w"))
            .collect()
        )
        import math

        # the repo's floor-formula rounding (rounding.py), NOT python
        # round() — banker's rounding at .5 would diverge from the
        # oracle's rewritten round()
        prior = math.floor(
            math.log(float(d1) / float(d0)) * 1e6 + 0.5
        ) / 1e6
        # the weight table is the MODEL (<= buckets rows) — bind it as
        # a map literal (SQL text, not F.lit: py4j converts python
        # collections element-by-element; the repo's measured lesson)
        if w_rows:
            keys = ",".join(f"{int(r['bucket'])}L" for r in w_rows)
            vals = ",".join(
                f"CAST('{r['w']}' AS DECIMAL(18,6))" for r in w_rows
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
            rnd(
                F.expr(score).cast("double") + F.lit(prior), 6
            ).alias("logit"),
        ).withColumn("pred", F.col("logit") >= 0)
