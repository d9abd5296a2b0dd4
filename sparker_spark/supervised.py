"""Supervised meta-blocking pruning strategies.

Reference parity: python/sparker/supervised_metablocking.py:8-203.
Input: a DataFrame of scored edges (p1, p2, p_match[, is_match]) —
typically the FeatureGenerator output scored by ``train_score``: a
logistic regression fitted on a small balanced sample and applied as
one literal column expression. All strategies here are UDF-free (the
reference uses BooleanType Python UDFs + driver-collected max/top-k
maps — supervised_metablocking.py:58,111,167; windows + joins replace
both).

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
        collect is a bounded driver scalar. Both classes come back in
        one ``toPandas``; each ``orderBy(…).limit(k)`` plans a
        TakeOrdered over all partitions at once, not a bare
        ``limit``'s partition-by-partition scan, which crawls when a
        class is rare.

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
        class probability (the notebook's get_p_match UDF), computed
        from the model's ``coefficients`` and ``intercept`` as one
        literal column, ``1 / (1 + exp(-(b + Σ wᵢ·xᵢ)))``, over the
        same null/NaN → 0 fill the training sample had. That is what
        ``model.transform`` computes, without assembling a vector per
        row: the plan stays a whole-stage-codegen projection of the
        input."""
        fcols = list(feature_cols)
        filled = features.fillna(0, subset=fcols)
        margin = F.lit(float(model.intercept))
        for c, w in zip(fcols, model.coefficients):
            margin = margin + F.col(c) * F.lit(float(w))
        keep = [c for c in keep_cols if c in features.columns]
        return filled.select(
            "p1",
            "p2",
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))).alias("p_match"),
            *keep,
        )

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
        blast/cep/wep/cnp/rcnp.

        The feature relation is the stage's reuse boundary: the
        training sample and the scorer both read it. It is pinned with
        a lazy ``localCheckpoint`` that the result owns, so the sample
        action writes it and scoring scans it instead of re-running
        the feature generator."""
        pinned = features.localCheckpoint(eager=False)
        model = SupervisedMB.train_lr(
            pinned,
            feature_cols=feature_cols,
            label_col=label_col,
            samples_per_class=samples_per_class,
            seed=seed,
            max_iter=max_iter,
        )
        return SupervisedMB.score(pinned, model, feature_cols=feature_cols)

    @staticmethod
    def _pinned_over_t(edges: DataFrame) -> DataFrame:
        """The ``p_match >= 0.5`` subset, for pruners that read it from
        several plan legs, each of which would otherwise re-run the
        scoring lineage. The pin is a lazy ``localCheckpoint`` that the
        result owns: the first job to scan a partition writes it, later
        ones read it, and nothing enters the session's cache."""
        return edges.filter("p_match >= 0.5").localCheckpoint(eager=False)

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
        # global_topk's range repartition samples its input for
        # boundaries and then shuffles it: the sample job writes the
        # pin and the shuffle reads it
        over_t = SupervisedMB._pinned_over_t(edges)
        return global_topk(
            over_t, [("p_match", True), ("p1", False), ("p2", False)], k
        )

    @staticmethod
    def wep(edges: DataFrame) -> DataFrame:
        """Weight edge pruning: mean p_match of the >= 0.5 subset as
        global threshold (supervised_metablocking.py:28-36).

        The threshold aggregate writes the pinned subset and the
        filter leg reads it (the same two-pass shape WEP.prune fixes
        with ctx.materialize())."""
        over_t = SupervisedMB._pinned_over_t(edges)
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
        # the two top-k windows and the semi-join probe side are three
        # plan legs over one pin (the multi-leg shape CNP.prune fixes
        # with ctx.materialize())
        over_t = SupervisedMB._pinned_over_t(edges)
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
        # one pin feeds both windows + the probe side (see cnp)
        over_t = SupervisedMB._pinned_over_t(edges)
        top1, top2 = SupervisedMB._top_k(over_t, k)
        return over_t.join(top1, ["p1", "p2"], "left_semi").join(
            top2, ["p1", "p2"], "left_semi"
        )

    @staticmethod
    def get_stats(edges: DataFrame, groundtruth: DataFrame, gt_size: int | None = None):
        """PC/PQ/F1 (supervised_metablocking.py:183-203)."""
        from sparker_spark.evaluation import Evaluation

        return Evaluation.get_stats(edges, groundtruth)
