"""Supervised meta-blocking pruning strategies.

Reference parity: python/sparker/supervised_metablocking.py:8-203.
Input: a DataFrame of scored edges (p1, p2, p_match[, is_match]) —
typically the FeatureGenerator output scored by a pyspark.ml
classifier. All strategies here are UDF-free (the reference uses
BooleanType Python UDFs + driver-collected max/top-k maps —
supervised_metablocking.py:58,111,167; windows + joins replace both).

Top-k tie-breaking: the reference sorts by -p_match only, leaving ties
to input order; we break ties by neighbor id ascending (deterministic).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparker_spark.ranking import global_topk

# the notebook's feature set (examples/Generalized Supervised
# Meta-blocking.ipynb: features_set) — all nine GSMB features
DEFAULT_FEATURE_COLS = (
    "cfibf", "raccb", "js", "numCompP1", "numCompP2", "rs", "aejs", "nrs", "wjs",
)


class SupervisedMB:
    @staticmethod
    def train_lr(
        features: DataFrame,
        feature_cols=DEFAULT_FEATURE_COLS,
        label_col: str = "is_match",
        samples_per_class: int = 20,
        seed: int = 42,
        max_iter: int = 1000,
    ):
        """Fit the GSMB logistic-regression edge classifier on a small
        balanced labeled sample of the feature relation.

        Mirrors the reference notebook's training stage
        (examples/Generalized Supervised Meta-blocking.ipynb;
        consumers supervised_metablocking.py:39-68) with two
        deliberate differences: the per-class sample is DETERMINISTIC
        (ordered by xxhash64(p1, p2, seed) instead of randomSplit
        fractions, so reruns train on the identical rows), and the
        sampled rows are collected to a driver-local relation before
        fitting — LR runs ~max_iter jobs over its training set, and
        fitting on the lazy limit-union would re-execute the
        feature-generation lineage inside every one of them. The
        sample is 2·samples_per_class rows by construction, so the
        collect is a bounded driver scalar.

        Returns the fitted ``LogisticRegressionModel``; pass it to
        :meth:`score`.
        """
        from pyspark.ml.classification import LogisticRegression
        from pyspark.ml.feature import VectorAssembler

        fcols = list(feature_cols)
        spark = features.sparkSession
        order = F.xxhash64("p1", "p2", F.lit(seed))
        labeled = features.fillna(0, subset=fcols)
        pos = (
            labeled.where(F.col(label_col) == 1)
            .orderBy(order)
            .limit(int(samples_per_class))
        )
        neg = (
            labeled.where(F.col(label_col) == 0)
            .orderBy(order)
            .limit(int(samples_per_class))
        )
        train_pd = (
            pos.unionByName(neg).select(label_col, *fcols).toPandas()
        )
        if train_pd[label_col].nunique() < 2:
            raise ValueError(
                "training sample needs both classes; got only "
                f"label={train_pd[label_col].unique().tolist()}"
            )
        va = VectorAssembler(inputCols=fcols, outputCol="features")
        train = va.transform(spark.createDataFrame(train_pd).coalesce(1))
        lr = LogisticRegression(
            featuresCol="features",
            labelCol=label_col,
            maxIter=int(max_iter),
        )
        return lr.fit(train)

    @staticmethod
    def score(
        features: DataFrame,
        model,
        feature_cols=DEFAULT_FEATURE_COLS,
        keep_cols=("is_match",),
    ) -> DataFrame:
        """Score every candidate edge with the fitted classifier:
        (p1, p2, p_match[, kept columns]) — the input relation every
        pruner in this module consumes. ``p_match`` is the positive-
        class probability (the notebook's get_p_match UDF, replaced by
        the vectorized ``vector_to_array``)."""
        from pyspark.ml.feature import VectorAssembler
        from pyspark.ml.functions import vector_to_array

        fcols = list(feature_cols)
        va = VectorAssembler(inputCols=fcols, outputCol="features")
        scored = model.transform(va.transform(features.fillna(0, subset=fcols)))
        keep = [c for c in keep_cols if c in features.columns]
        return scored.withColumn(
            "p_match", vector_to_array("probability")[1]
        ).select("p1", "p2", "p_match", *keep)

    @staticmethod
    def train_score(
        features: DataFrame,
        feature_cols=DEFAULT_FEATURE_COLS,
        label_col: str = "is_match",
        samples_per_class: int = 20,
        seed: int = 42,
        max_iter: int = 1000,
    ) -> DataFrame:
        """One-call train + score: the notebook's whole classifier
        stage. Returns the scored edge relation ready for
        blast/cep/wep/cnp/rcnp."""
        model = SupervisedMB.train_lr(
            features,
            feature_cols=feature_cols,
            label_col=label_col,
            samples_per_class=samples_per_class,
            seed=seed,
            max_iter=max_iter,
        )
        return SupervisedMB.score(features, model, feature_cols=feature_cols)

    @staticmethod
    def bcl(edges: DataFrame) -> DataFrame:
        """Binary-classifier pruning (supervised_metablocking.py:8-13)."""
        return edges.filter("is_match == 1")

    @staticmethod
    def cep(edges: DataFrame, total_block_size: int) -> DataFrame:
        """Cardinality edge pruning: top-⌊Σ block sizes / 2⌋ by p_match
        among the >= 0.5 subset (supervised_metablocking.py:16-25).
        Deterministic ties: the kept set is exactly the first K rows
        under ORDER BY (p_match desc, p1, p2).

        Same physical plan as unsupervised CEP (``ranking.global_topk``
        — one range shuffle, partition-local sort only at the
        K-boundary). p_match is continuous, so a score histogram would
        have one group per edge; the range plan is distribution-blind."""
        k = int(total_block_size / 2)
        # materialize the thresholded subset once: global_topk's range
        # repartition samples its input for boundaries and then
        # shuffles it — two executions of the scoring lineage without
        # a checkpoint
        over_t = edges.filter("p_match >= 0.5").localCheckpoint(eager=True)
        return global_topk(
            over_t, [("p_match", True), ("p1", False), ("p2", False)], k
        )

    @staticmethod
    def wep(edges: DataFrame) -> DataFrame:
        """Weight edge pruning: mean p_match of the >= 0.5 subset as
        global threshold (supervised_metablocking.py:28-36).

        The thresholded subset is materialized once: the threshold
        aggregate and the filter leg would otherwise each re-run the
        scoring lineage (the same two-pass shape WEP.prune fixes with
        ctx.materialize())."""
        over_t = edges.filter("p_match >= 0.5").localCheckpoint(eager=True)
        threshold = over_t.agg(F.avg("p_match").alias("t")).first()["t"]
        if threshold is None:
            return over_t
        return over_t.where(F.col("p_match") >= F.lit(threshold))

    @staticmethod
    def blast(edges: DataFrame) -> DataFrame:
        """BLAST: keep if p >= 0.35·(max_p(p1) + max_p(p2)) over the
        >= 0.5 subset (supervised_metablocking.py:39-68) — window maxes
        instead of two collected maps + UDF."""
        over_t = edges.filter("p_match >= 0.5")
        w1 = Window.partitionBy("p1")
        w2 = Window.partitionBy("p2")
        return (
            over_t.withColumn("max1", F.max("p_match").over(w1))
            .withColumn("max2", F.max("p_match").over(w2))
            .where(F.col("p_match") >= 0.35 * (F.col("max1") + F.col("max2")))
            .drop("max1", "max2")
        )

    @staticmethod
    def _top_k(over_t: DataFrame, k: int) -> tuple[DataFrame, DataFrame]:
        """Per-side top-k neighbor sets of the (already thresholded)
        edge relation."""
        w1 = Window.partitionBy("p1").orderBy(F.col("p_match").desc(), "p2")
        w2 = Window.partitionBy("p2").orderBy(F.col("p_match").desc(), "p1")
        top1 = (
            over_t.withColumn("rn", F.row_number().over(w1))
            .where(F.col("rn") <= k)
            .select("p1", "p2")
        )
        top2 = (
            over_t.withColumn("rn", F.row_number().over(w2))
            .where(F.col("rn") <= k)
            .select("p1", "p2")
        )
        return top1, top2

    @staticmethod
    def _k(total_block_size: int, n_entities: int) -> int:
        return int(2 * max(1.0, total_block_size / n_entities))

    @staticmethod
    def cnp(edges: DataFrame, total_block_size: int, n_entities: int) -> DataFrame:
        """CNP (OR): keep if the edge is in EITHER side's top-k
        (supervised_metablocking.py:131-180)."""
        k = SupervisedMB._k(total_block_size, n_entities)
        # materialize the thresholded subset ONCE: the two top-k
        # windows and the semi-join probe side are three independent
        # plan legs, and each re-ran the full scoring lineage (the
        # multi-leg shape CNP.prune fixes with ctx.materialize())
        over_t = edges.filter("p_match >= 0.5").localCheckpoint(eager=True)
        top1, top2 = SupervisedMB._top_k(over_t, k)
        # no distinct: left_semi emits each probe row at most once
        # regardless of build-side duplicates, so the dedup shuffle
        # bought nothing
        keep = top1.unionByName(top2)
        return over_t.join(keep, ["p1", "p2"], "left_semi")

    @staticmethod
    def rcnp(edges: DataFrame, total_block_size: int, n_entities: int) -> DataFrame:
        """Reciprocal CNP (AND): edge must be in BOTH sides' top-k
        (supervised_metablocking.py:71-128)."""
        k = SupervisedMB._k(total_block_size, n_entities)
        # one materialization feeds both windows + the probe side
        # (see cnp)
        over_t = edges.filter("p_match >= 0.5").localCheckpoint(eager=True)
        top1, top2 = SupervisedMB._top_k(over_t, k)
        return over_t.join(top1, ["p1", "p2"], "left_semi").join(
            top2, ["p1", "p2"], "left_semi"
        )

    @staticmethod
    def get_stats(edges: DataFrame, groundtruth: DataFrame, gt_size: int | None = None):
        """PC/PQ/F1 (supervised_metablocking.py:183-203)."""
        from sparker_spark.evaluation import Evaluation

        return Evaluation.get_stats(edges, groundtruth)
