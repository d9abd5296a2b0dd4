"""The SparkER chains the benchmark times, driven through the package's
public functions only.

Each chain takes ``step(span_name, fn)``, which calls ``fn`` and returns
its result. Timed reps pass a step that only calls ``fn``; traced reps
pass one that opens a span around the call and settles the lazy output
before closing it (see ``run.TracedStep``).
The chain ends with its final candidate pairs still lazy; the caller
writes them through the noop sink inside the timed region.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparker_spark import (
    AttributeClustering,
    BlockCollection,
    Blocking,
    BlockingKeysStrategies,
    BlockFiltering,
    BlockPurging,
    ComparisonTypes,
    Converters,
    DataFrameWrapper,
    EdgeWeighting,
    FeatureGenerator,
    SupervisedMB,
    ThresholdTypes,
    WeightTypes,
    WNP,
)

LOAD = "wrappers.load_profiles"
TOKENS = "blocking.strategies.token_blocking"
BLOCKS = "blocking.blockers.blocks_from_keys"
CLUSTER_BLOCKS = "blocking.blockers.create_blocks_clusters"
CLUSTERING = "attribute_clustering.cluster_similar_attributes"
PURGE = "filters.block_purging"
FILTER = "filters.block_filtering_quick"
WEIGHTS = "metablocking.weights.weighted_edges"
PRUNE = "metablocking.wnp.prune"
FEATURES = "feature_generator.generate_features"
TRAIN = "supervised.train_score"
CEP = "supervised.cep"
SINK = "pipeline.sink"
EVALUATION = "evaluation.get_stats"


@dataclass
class Output:
    pairs: DataFrame  # (p1, p2, ...) with p1 < p2
    profiles: DataFrame  # EAV profiles, for mapping the ground truth
    separator: int | None = None  # last profile id of source 0 (clean-clean)
    blocks: BlockCollection | None = None  # filtered blocks the pairs came from


def ground_truth(spark, paths: dict, profiles: DataFrame) -> DataFrame:
    """The planted duplicate pairs as engine profile ids (p1 < p2)."""
    raw = DataFrameWrapper.load_groundtruth(spark.read.parquet(paths["gt"]), "id1", "id2")
    return Converters.convert_groundtruth(raw, profiles)


def _dirty_blocks(spark, paths, step, smooth: float):
    raw = spark.read.parquet(paths["profiles"])
    profiles = step(LOAD, lambda: DataFrameWrapper.load_profiles(raw, real_id_field="id"))
    keys = step(TOKENS, lambda: BlockingKeysStrategies.token_blocking(profiles))
    blocks = step(BLOCKS, lambda: Blocking.blocks_from_keys(keys))
    purged = step(PURGE, lambda: BlockPurging.block_purging(blocks, smooth))
    _, filtered, rebuilt = step(FILTER, lambda: BlockFiltering.block_filtering_quick(purged, 0.8))
    return profiles, filtered, rebuilt


def dirty_wnp(spark, paths: dict, step) -> Output:
    """Token blocking -> purge -> filter -> CBS weights -> WNP(avg, or)."""
    profiles, filtered, rebuilt = _dirty_blocks(spark, paths, step, 1.025)
    ctx = step(WEIGHTS, lambda: EdgeWeighting.weighted_edges(rebuilt, filtered, WeightTypes.CBS))
    pairs = step(PRUNE, lambda: WNP.prune(ctx, ThresholdTypes.AVG, ComparisonTypes.OR))
    return Output(pairs, profiles, blocks=rebuilt)


def _two_sources(spark, paths, step):
    """Both sources as one profile relation; ids of the second follow
    the first (the reference notebooks' separator convention)."""
    a = spark.read.parquet(paths["a"])
    b = spark.read.parquet(paths["b"])

    def load():
        first = DataFrameWrapper.load_profiles(a, real_id_field="id", source_id=0)
        sep = first.agg(F.max("profile_id")).first()[0]
        second = DataFrameWrapper.load_profiles(b, start_id_from=sep + 1, real_id_field="id", source_id=1)
        return first.unionByName(second), sep

    return step(LOAD, load)


def clean_blast(spark, paths: dict, step) -> Output:
    """BLAST: attribute clustering -> cluster blocking (clean-clean) ->
    purge -> filter -> chi-square x entropy weights -> WNP."""
    profiles, sep = _two_sources(spark, paths, step)
    clusters = step(CLUSTERING, lambda: AttributeClustering.cluster_similar_attributes(profiles))
    blocks = step(CLUSTER_BLOCKS, lambda: Blocking.create_blocks_clusters(profiles, clusters, clean=True))
    purged = step(PURGE, lambda: BlockPurging.block_purging(blocks, 1.005))
    _, filtered, rebuilt = step(FILTER, lambda: BlockFiltering.block_filtering_quick(purged, 0.8))
    ctx = step(
        WEIGHTS,
        lambda: EdgeWeighting.weighted_edges(rebuilt, filtered, WeightTypes.CHI_SQUARE, use_entropy=True),
    )
    pairs = step(PRUNE, lambda: WNP.prune(ctx, chi2divider=2.0))
    return Output(pairs, profiles, sep)


def gsmb(spark, paths: dict, step, profiles: DataFrame, blocks) -> DataFrame:
    """GSMB features -> logistic regression -> CEP over filtered dirty
    blocks. Labels come from the planted ground truth."""
    gt = ground_truth(spark, paths, profiles)
    features = step(FEATURES, lambda: FeatureGenerator.generate_features(blocks, groundtruth=gt))
    scored = step(TRAIN, lambda: SupervisedMB.train_score(features))
    total = blocks.meta.agg(F.sum("block_size")).first()[0]
    return step(CEP, lambda: SupervisedMB.cep(scored, total))


def supervised_gsmb(spark, paths: dict, step) -> Output:
    """Token blocking -> purge -> filter -> ``gsmb``."""
    profiles, _, rebuilt = _dirty_blocks(spark, paths, step, 1.025)
    return Output(gsmb(spark, paths, step, profiles, rebuilt), profiles)


CHAINS = {
    "dirty_wnp": dirty_wnp,
    "clean_blast": clean_blast,
    "supervised_gsmb": supervised_gsmb,
}
