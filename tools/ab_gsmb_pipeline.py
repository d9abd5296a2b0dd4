"""Interleaved same-session A/B for pipeline_gsmb_e2e's r13 change:
labeled candidate relation CACHED (r12 shape) vs NOT cached (narrow
re-scan of the feature checkpoint per consumer). Both variants run the
CURRENT generate_features; the toggle is exactly the r13 bench.py diff.
Usage: python tools/ab_gsmb_pipeline.py [reps=3]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def pipeline(spark, sf_dir, use_cache: bool, det_neg: bool):
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler
    from pyspark.sql import functions as F

    from sparker_spark.blocking.blockers import Blocking
    from sparker_spark.entry import FILTER_R, _doc_keys_unigram, load
    from sparker_spark.entry_ext import FEATURE_COLS, GSMB_SMOOTH
    from sparker_spark.feature_generator import FeatureGenerator
    from sparker_spark.filters import BlockFiltering, BlockPurging
    from sparker_spark.llm.dedup import Dedup
    from sparker_spark.supervised import SupervisedMB

    keys = _doc_keys_unigram(spark, sf_dir).cache()
    blocks = Blocking.blocks_from_keys(keys, clean=False, assign_ids=False)
    purged = BlockPurging.block_purging(blocks, GSMB_SMOOTH)
    _, _, rebuilt = BlockFiltering.block_filtering_quick(purged, FILTER_R)
    total = int(rebuilt.meta.agg(F.sum("block_size")).first()[0] or 0)
    feats = FeatureGenerator.generate_features(rebuilt)

    groups = Dedup.exact_groups(load(spark, sf_dir, "documents")).select(
        "doc_id", "text_hash"
    )
    labeled = (
        feats.join(
            F.broadcast(
                groups.select(
                    F.col("doc_id").alias("p1"), F.col("text_hash").alias("h1")
                )
            ),
            "p1",
        )
        .join(
            F.broadcast(
                groups.select(
                    F.col("doc_id").alias("p2"), F.col("text_hash").alias("h2")
                )
            ),
            "p2",
        )
        .withColumn("is_match", (F.col("h1") == F.col("h2")).cast("int"))
        .select("p1", "p2", "is_match", *FEATURE_COLS)
        .fillna(0)
    )
    if use_cache:
        labeled = labeled.cache()
    pos = labeled.where("is_match = 1")
    if pos.count() <= 10_000:
        pos_pd = pos.toPandas().sort_values(["p1", "p2"]).head(200)
    else:
        pos_pd = pos.limit(200).toPandas()
    import pandas as pd

    neg = labeled.where("is_match = 0")
    if det_neg:
        neg = neg.orderBy(F.xxhash64("p1", "p2", F.lit(42)))
    neg_pd = neg.limit(200).toPandas()
    train_pd = pd.concat([pos_pd, neg_pd], ignore_index=True)
    train = spark.createDataFrame(train_pd).coalesce(1)
    va = VectorAssembler(inputCols=FEATURE_COLS, outputCol="features")
    model = LogisticRegression(maxIter=20, labelCol="is_match").fit(
        va.transform(train)
    )
    margin = F.lit(float(model.intercept))
    for c, w in zip(FEATURE_COLS, model.coefficients):
        margin = margin + F.col(c) * F.lit(float(w))
    scored = labeled.select(
        "p1", "p2", (F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))).alias("p_match")
    )
    return SupervisedMB.cep(scored, total)


def main():
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3

    from sparker_spark.session import get_spark

    spark = get_spark(
        app_name="ab_gsmb_pipe", master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )
    spark.sparkContext.setLogLevel("ERROR")

    import gc

    def one(tag, use_cache, det_neg):
        spark.catalog.clearCache()
        gc.collect()
        t0 = time.time()
        n = pipeline(spark, SF_DIR, use_cache, det_neg).count()
        dt = time.time() - t0
        print(f"{tag}: {dt:.2f}s rows={n}", flush=True)
        return dt

    one("warmup(new)", False, True)
    a, b = [], []
    for i in range(reps):
        a.append(one(f"cached[{i}]", True, False))
        b.append(one(f"nocache[{i}]", False, True))
    print(f"cached(r12): {sorted(a)} median={sorted(a)[len(a)//2]:.2f}")
    print(f"nocache(r13): {sorted(b)} median={sorted(b)[len(b)//2]:.2f}")


if __name__ == "__main__":
    main()
