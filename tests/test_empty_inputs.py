"""Empty-input robustness: every stage of the ER chain and the dedup
family must degrade to empty outputs (not crash) when fed zero rows —
the situation every scheduled production pipeline eventually hits
(an empty partition/day, an over-aggressive upstream filter).
"""

from pyspark.sql import functions as F

from sparker_spark.blocking.blockers import Blocking
from sparker_spark.blocking.converters import Converters
from sparker_spark.filters import BlockFiltering, BlockPurging
from sparker_spark.metablocking.pruning_utils import (
    ComparisonTypes,
    ThresholdTypes,
    WeightTypes,
)
from sparker_spark.metablocking.cep import CEP
from sparker_spark.metablocking.cnp import CNP
from sparker_spark.metablocking.wep import WEP
from sparker_spark.metablocking.wnp import WNP


def _empty_keys(spark):
    return spark.createDataFrame(
        [], "profile_id long, source_id int, key string"
    )


def test_empty_er_chain(spark):
    blocks = Blocking.blocks_from_keys(_empty_keys(spark), clean=False)
    assert blocks.meta.count() == 0
    purged = BlockPurging.block_purging(blocks, 1.005)
    pb, pb_filtered, rebuilt = BlockFiltering.block_filtering_quick(purged, 0.8)
    assert rebuilt.meta.count() == 0
    assert (
        WNP.wnp(
            rebuilt,
            pb_filtered,
            ThresholdTypes.AVG,
            WeightTypes.CBS,
            comparison_type=ComparisonTypes.OR,
        ).count()
        == 0
    )
    assert WEP.wep(rebuilt, pb_filtered, WeightTypes.CBS).count() == 0
    assert CEP.cep(rebuilt, pb_filtered, WeightTypes.CBS).count() == 0
    assert (
        CNP.cnp(rebuilt, pb_filtered, number_of_profiles=1, weight_type=WeightTypes.CBS).count()
        == 0
    )


def test_empty_and_single_source_attribute_clustering(spark):
    """No cross-source pair means no real cluster: only the default
    cluster comes back, and zero rows flow through the BLAST chain."""
    from sparker_spark.attribute_clustering import (
        DEFAULT_CLUSTER_NAME,
        AttributeClustering,
    )

    empty = spark.createDataFrame(
        [], "profile_id long, source_id int, original_id string, attr string, value string"
    )
    clusters = AttributeClustering.cluster_similar_attributes(empty, num_hashes=16)
    assert clusters == [
        {"cluster_id": 0, "keys": [], "entropy": 1.0, "name": DEFAULT_CLUSTER_NAME}
    ]
    blocks = Blocking.create_blocks_clusters(empty, clusters, clean=True)
    purged = BlockPurging.block_purging(blocks, 1.005)
    _, pb_filtered, rebuilt = BlockFiltering.block_filtering_quick(purged, 0.8)
    assert (
        WNP.wnp(
            rebuilt, pb_filtered, ThresholdTypes.AVG, WeightTypes.CHI_SQUARE,
            use_entropy=True, comparison_type=ComparisonTypes.OR,
        ).count()
        == 0
    )

    one_source = spark.createDataFrame(
        [(0, 0, "a", "name", "john smith"), (1, 0, "b", "city", "rome"), (2, 0, "c", "name", "jane doe")],
        empty.schema,
    )
    clusters = AttributeClustering.cluster_similar_attributes(one_source, num_hashes=16)
    assert [(c["cluster_id"], c["keys"], c.get("name")) for c in clusters] == [
        (0, ["0_city", "0_name"], DEFAULT_CLUSTER_NAME)
    ]


def test_empty_dedup_family(spark):
    from sparker_spark.llm.dedup import Dedup

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert Dedup.exact_groups(docs).count() == 0
    assert Dedup.ngram_jaccard_pairs(docs).count() == 0
    assert Dedup.minhash_lsh_pairs(docs).count() == 0
    assert Dedup.simhash_pairs(docs).count() == 0


def test_empty_gspsn_and_pps(spark):
    from sparker_spark.progressive import GSPSN, PPS

    g = GSPSN(_empty_keys(spark).select("profile_id", "key"), max_window_size=2)
    g.initialize()
    assert g.get_next() == (-1, -1, -1)

    blocks = Blocking.blocks_from_keys(_empty_keys(spark), clean=False)
    pb = Converters.blocks_to_profile_blocks(blocks)
    pps = PPS(blocks, pb, k=5, mini_batch=2)
    pps.initialize()
    assert list(pps) == []


def test_empty_feature_generation(spark):
    from sparker_spark.feature_generator import FeatureGenerator

    blocks = Blocking.blocks_from_keys(_empty_keys(spark), clean=False)
    assert FeatureGenerator.generate_features(blocks).count() == 0


def test_empty_text_and_ann(spark):
    from sparker_spark.llm.similarity import SimilaritySearch
    from sparker_spark.llm.text import TextAnalysis

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert TextAnalysis.token_stats(docs).count() == 0
    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert SimilaritySearch.topk_cosine(emb, k=3).count() == 0


def test_empty_round3_operators(spark):
    """Round-3 additions: splits, SRP LSH, quantiles, range join,
    count-min, rollup, incremental delta on zero rows."""
    from sparker_spark.blocking.incremental import IncrementalBlocking
    from sparker_spark.llm.dedup import Dedup
    from sparker_spark.llm.sampling import Sampling
    from sparker_spark.rangejoin import RangeJoin
    from sparker_spark.rollup import RollupCascade
    from sparker_spark.sketches import CountMinSketch
    from sparker_spark.stats import GroupStats

    docs = spark.createDataFrame([], "doc_id long, text string")
    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    ev = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    keys = spark.createDataFrame([], "profile_id long, key string")

    assert Sampling.split(docs, "doc_id", {"a": 0.5, "b": 0.5}).count() == 0
    assert Sampling.sample(docs, "doc_id", 0.3).count() == 0
    assert Dedup.embedding_srp_pairs(emb, bits=8, bands=2).count() == 0
    assert GroupStats.quantiles(ev, ["event_type"], "value", [0.5]).count() == 0
    assert (
        RangeJoin.within(
            ev.select("user_id", F.col("value").alias("val")),
            ev.select("user_id", F.col("value").alias("val")),
            on="user_id",
            radius=1.0,
        ).count()
        == 0
    )
    sk = CountMinSketch.build(ev, "event_type", width=8, depth=2)
    assert sk.count() == 0
    assert (
        CountMinSketch.estimate(
            sk, ev.select("event_type"), "event_type", width=8, depth=2
        ).count()
        == 0
    )
    assert RollupCascade.cascade(ev, ["hour", "day"])["day"].count() == 0
    assert IncrementalBlocking.delta_pairs(keys, keys).count() == 0
    assert IncrementalBlocking.delta_cbs_edges(keys, keys, max_block_size=5).count() == 0


def test_empty_event_analytics(spark):
    from sparker_spark.funnel import Anomaly, Decay, Funnel, Retention, Transitions

    ev = spark.createDataFrame(
        [], "event_id long, user_id long, ts timestamp, event_type string,"
        " value double"
    )
    assert Funnel.step_times(ev, ["view", "click"]).count() == 0
    conv = {r["n_users"] for r in Funnel.conversion(ev, ["view", "click"]).collect()}
    assert conv == {0}  # step rows exist, all zero
    assert Retention.cohorts(ev).count() == 0
    assert Transitions.event_transitions(ev).count() == 0
    assert Anomaly.hourly_zscores(ev).count() == 0
    assert Funnel.step_latency(ev, ["view", "click"], [0.5]).count() == 0
    # decay needs a ref_ts when the frame is empty (max(ts) is null)
    import datetime as dt

    assert Decay.decayed_value(ev, 60.0, ref_ts=dt.datetime(2026, 1, 1)).count() == 0


def test_empty_sketches(spark):
    from sparker_spark.sketches import (
        BloomFilter,
        CountMinSketch,
        HyperLogLog,
        cm_inner_product,
    )

    empty = spark.createDataFrame([], "v string")
    assert HyperLogLog.registers(empty, "v").count() == 0
    # estimate over zero registers: one group-less row with m empties
    est = HyperLogLog.estimate(HyperLogLog.registers(empty, "v")).collect()
    assert len(est) == 1 and est[0]["n_registers"] == 0
    bloom = BloomFilter.build(empty, "v")
    assert bloom.count() == 0
    probe = BloomFilter.contains(bloom, spark.createDataFrame([("x",)], "v string"), "v")
    assert [r["maybe_present"] for r in probe.collect()] == [False]
    cms = CountMinSketch.build(empty, "v")
    assert cms.count() == 0
    assert cm_inner_product(cms, cms).collect()[0]["estimate"] is None or \
        cm_inner_product(cms, cms).collect()[0]["estimate"] == 0


def test_empty_setjoin_sampling_pagerank(spark):
    from sparker_spark.graph import PageRank
    from sparker_spark.llm.sampling import Sampling
    from sparker_spark.llm.setjoin import SetSimilarityJoin

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert SetSimilarityJoin.jaccard_prefix_join(docs, 0.5).count() == 0
    df = spark.createDataFrame([], "doc_id long, w long")
    assert Sampling.bottom_k(df, "doc_id", 5).count() == 0
    assert Sampling.stratified_bottom_k(df, "doc_id", "w", 5).count() == 0
    assert Sampling.weighted_bottom_k(df, "doc_id", "w", 5).count() == 0
    edges = spark.createDataFrame([], "p1 long, p2 long")
    # zero nodes: PageRank has nothing to rank
    assert PageRank.run(edges).count() == 0


def test_empty_multi3_arcs(spark):
    """k-source ARCS log-denominator over an empty clean collection."""
    from sparker_spark.metablocking.weights import EdgeWeighting

    keys = spark.createDataFrame(
        [], "profile_id long, source_id int, key string"
    )
    blocks = Blocking.blocks_from_keys(keys, clean=True, assign_ids=False)
    assert EdgeWeighting.arcs_log_denominator(blocks).count() == 0
    co = EdgeWeighting.co_occurrence(blocks)
    assert co.count() == 0
