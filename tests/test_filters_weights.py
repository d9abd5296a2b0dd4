"""Hand-computed micro-fixture tests for purging, filtering, weighting
and the pruners (SURVEY §5: 5-profile collections where CBS/JS/chi²
are checkable by hand)."""

import math

import pytest
from pyspark.sql import functions as F

from sparker_spark.attribute_clustering import AttributeClustering
from sparker_spark.blocking.blockers import Blocking
from sparker_spark.blocking.converters import Converters
from sparker_spark.blocking.strategies import BlockingKeysStrategies
from sparker_spark.evaluation import Evaluation
from sparker_spark.feature_generator import FeatureGenerator
from sparker_spark.filters import BlockFiltering, BlockPurging
from sparker_spark.metablocking.cep import CEP
from sparker_spark.metablocking.cnp import CNP
from sparker_spark.metablocking.pruning_utils import (
    ComparisonTypes,
    ThresholdTypes,
    WeightTypes,
)
from sparker_spark.metablocking.weights import EdgeWeighting
from sparker_spark.metablocking.wep import WEP
from sparker_spark.metablocking.wnp import WNP
from sparker_spark.session import scoped_conf
from sparker_spark.supervised import SupervisedMB
from sparker_spark.wrappers import DataFrameWrapper


@pytest.fixture(scope="module")
def records(spark):
    """5 dirty profiles sharing tokens:
      t1: {0,1,2}   t2: {0,1}   t3: {2,3}   t4: {3,4}   t5: {0,4}
    """
    rows = [
        ("p0", "t1 t2 t5"),
        ("p1", "t1 t2"),
        ("p2", "t1 t3"),
        ("p3", "t3 t4"),
        ("p4", "t4 t5"),
    ]
    return spark.createDataFrame(rows, ["id", "text"])


@pytest.fixture(scope="module")
def blocks(records):
    profiles = DataFrameWrapper.load_profiles(records, real_id_field="id")
    return Blocking.create_blocks(profiles)


def edge_map(df):
    return {(r["p1"], r["p2"]): r["weight"] for r in df.collect()}


def test_block_stats(blocks):
    meta = {r["key"]: r for r in blocks.meta.collect()}
    assert meta["t1"]["block_size"] == 3
    assert meta["t1"]["comparisons"] == 6  # dirty: n(n-1)
    assert meta["t2"]["comparisons"] == 2


def test_cbs_edges(blocks):
    pb = Converters.blocks_to_profile_blocks(blocks)
    ctx = EdgeWeighting.weighted_edges(blocks, pb, WeightTypes.CBS)
    edges = edge_map(ctx.half())
    # shared blocks: (0,1): t1,t2 -> 2; (0,2): t1 -> 1; (1,2): t1 -> 1;
    # (2,3): t3; (3,4): t4; (0,4): t5
    assert edges == {
        (0, 1): 2.0,
        (0, 2): 1.0,
        (1, 2): 1.0,
        (2, 3): 1.0,
        (3, 4): 1.0,
        (0, 4): 1.0,
    }


def test_js_edges(blocks):
    pb = Converters.blocks_to_profile_blocks(blocks)
    ctx = EdgeWeighting.weighted_edges(blocks, pb, WeightTypes.JS)
    edges = edge_map(ctx.half())
    # |B(0)|=3, |B(1)|=2, cbs=2 -> 2/(3+2-2) = 2/3
    assert edges[(0, 1)] == pytest.approx(2 / 3)
    # |B(0)|=3, |B(2)|=2, cbs=1 -> 1/4
    assert edges[(0, 2)] == pytest.approx(1 / 4)


def test_ecbs_edges(blocks):
    pb = Converters.blocks_to_profile_blocks(blocks)
    ctx = EdgeWeighting.weighted_edges(blocks, pb, WeightTypes.ECBS)
    edges = edge_map(ctx.half())
    # B=5 blocks; (0,1): 2*log10(5/3)*log10(5/2)
    assert edges[(0, 1)] == pytest.approx(
        2 * math.log10(5 / 3) * math.log10(5 / 2)
    )


def test_arcs_edges(blocks):
    pb = Converters.blocks_to_profile_blocks(blocks)
    ctx = EdgeWeighting.weighted_edges(blocks, pb, WeightTypes.ARCS)
    edges = edge_map(ctx.half())
    # Reference ARCS (common_node_pruning.py:185-201): cbs divided by
    # comparisons of EVERY source-profile block. Profile 0's blocks:
    # t1 (6 comps), t2 (2), t5 (2) -> denominator 24.
    # (0,1): cbs=2 -> 2/24; (0,4): cbs=1 -> 1/24.
    assert edges[(0, 1)] == pytest.approx(2 / 24)
    assert edges[(0, 4)] == pytest.approx(1 / 24)


def test_chi_square_edges(blocks):
    pb = Converters.blocks_to_profile_blocks(blocks)
    ctx = EdgeWeighting.weighted_edges(blocks, pb, WeightTypes.CHI_SQUARE)
    edges = edge_map(ctx.half())

    def chi2(cbs, nb, cb, tot):
        # replicate common_node_pruning.py:6-35
        w = 0.0
        cells = [
            (cbs, nb, cb),
            (nb - cbs, nb, tot - cb),
            (cb - cbs, tot - nb, cb),
            (tot - (nb + cb - cbs), tot - nb, tot - cb),
        ]
        for obs, rt, ct in cells:
            e = rt * ct / tot
            w += (obs - e) ** 2 / e
        return w

    # (0,1): cbs=2, |B(1)|=2 (neighbor), |B(0)|=3, B=5
    assert edges[(0, 1)] == pytest.approx(chi2(2, 2, 3, 5))


def test_ejs_edges(blocks):
    pb = Converters.blocks_to_profile_blocks(blocks)
    ctx = EdgeWeighting.weighted_edges(blocks, pb, WeightTypes.EJS)
    edges = edge_map(ctx.half())
    # neighbor counts INCLUDE the dirty self-loop
    # (common_node_pruning.py:139 with first_step=True):
    # e(0)=4 (self,1,2,4), e(1)=3 (self,0,2); E=6 distinct undirected
    eps = 1e-11
    E = 6.0
    js01 = 2 / (3 + 2 - 2)
    expected = js01 * math.log10(E / (3 * math.log10(E / (4 + eps))))
    assert ctx.num_edges == 6
    assert edges[(0, 1)] == pytest.approx(expected)


def test_wnp_avg_or(blocks):
    pb = Converters.blocks_to_profile_blocks(blocks)
    ctx = EdgeWeighting.weighted_edges(blocks, pb, WeightTypes.CBS)
    kept = edge_map(WNP.prune(ctx, ThresholdTypes.AVG, ComparisonTypes.OR))
    # thresholds over full self-inclusive neighborhood (cbs; self-cbs =
    # |B(p)|): t(0)=avg(2,1,1,3)=1.75, t(1)=avg(2,1,2)=5/3,
    # t(2)=avg(1,1,1,2)=1.25, t(3)=t(4)=avg(1,1,2)=4/3
    # only (0,1) w=2 passes either endpoint threshold
    assert set(kept) == {(0, 1)}


def test_wnp_maxdiv2(blocks):
    pb = Converters.blocks_to_profile_blocks(blocks)
    ctx = EdgeWeighting.weighted_edges(blocks, pb, WeightTypes.CBS)
    # MAX_FRACT_2 thresholds: max includes the self-loop (= |B(p)|):
    # t(0)=3/2, t(1)=t(2)=t(3)=t(4)=1
    kept_and = edge_map(WNP.prune(ctx, ThresholdTypes.MAX_FRACT_2, ComparisonTypes.AND))
    assert set(kept_and) == {(0, 1), (1, 2), (2, 3), (3, 4)}
    kept_or = edge_map(WNP.prune(ctx, ThresholdTypes.MAX_FRACT_2, ComparisonTypes.OR))
    assert set(kept_or) == {(0, 1), (0, 2), (1, 2), (2, 3), (3, 4), (0, 4)}


def test_wep(blocks):
    pb = Converters.blocks_to_profile_blocks(blocks)
    ctx = EdgeWeighting.weighted_edges(blocks, pb, WeightTypes.CBS)
    kept = edge_map(WEP.prune(ctx))
    # mean over directed edges incl self-loops:
    # (2*2 + 1*10 + (3+2+2+2+2)) / (12 + 5) = 25/17 ~ 1.47
    assert set(kept) == {(0, 1)}


def test_cep(blocks):
    pb = Converters.blocks_to_profile_blocks(blocks)
    ctx = EdgeWeighting.weighted_edges(blocks, pb, WeightTypes.CBS)
    # sum of block sizes = 3+2+2+2+2 = 11 -> K = 5
    assert CEP.num_edges_to_keep(blocks) == 5
    kept = edge_map(CEP.prune(ctx, 5))
    # w=2: 1 edge (0,1); ties at w=1: 4 more by (p1,p2) order:
    # (0,2),(0,4),(1,2),(2,3)
    assert set(kept) == {(0, 1), (0, 2), (0, 4), (1, 2), (2, 3)}


def test_cnp(blocks):
    pb = Converters.blocks_to_profile_blocks(blocks)
    ctx = EdgeWeighting.weighted_edges(blocks, pb, WeightTypes.CBS)
    # k = floor(11/5) - 1 = 1
    assert CNP.compute_cnp_threshold(blocks, 5) == 1
    kept_or = edge_map(CNP.prune(ctx, 1, ComparisonTypes.OR))
    kept_and = edge_map(CNP.prune(ctx, 1, ComparisonTypes.AND))
    # the self-loop (weight = |B(p)|, the max) occupies top-k slots,
    # exactly as the reference's argpartition over the self-inclusive
    # neighborhood does (cnp.py:164-170):
    # top-1: 0->self(3); 1->0 (tie w=2, dst asc); 2..4 -> self
    assert set(kept_and) == set()
    # OR: only (0,1) via ret(1) containing 0
    assert set(kept_or) == {(0, 1)}


def test_block_filtering(spark, blocks):
    pb = Converters.blocks_to_profile_blocks(blocks)
    filtered = BlockFiltering.block_filtering(pb, 0.8)
    kept = {
        (r["profile_id"], r["block_id"]) for r in filtered.collect()
    }
    # profile 0 has blocks t1(6), t2(2), t5(2): n=3, round(2.4)=2 -> idx 1
    # sorted by (comparisons, block_id): t2(2), t5(2), t1(6);
    # cutoff = comparisons at idx1 = 2 -> keep t2, t5 only
    meta = {r["key"]: r["block_id"] for r in blocks.meta.collect()}
    assert (0, meta["t1"]) not in kept
    assert (0, meta["t2"]) in kept
    assert (0, meta["t5"]) in kept
    # profile 1: blocks t1(6), t2(2): n=2, round(1.6)=2 -> idx 1 ->
    # cutoff 6 -> keep both
    assert (1, meta["t1"]) in kept and (1, meta["t2"]) in kept


def test_block_purging(spark):
    # levels: comparisons 2 (x3 blocks, size 2) and 90 (x1 block, size 10)
    rows = [("b%d" % i, 2, 2) for i in range(3)] + [("big", 90, 10)]
    meta = spark.createDataFrame(
        rows, ["key", "comparisons", "block_size"]
    )
    t = BlockPurging.max_comparisons_allowed(meta, 1.005)
    # cumulative: level2 -> cc=6, bc=6; level90 -> cc=96, bc=16
    # scan top-down: i=0(level2), prev=level90: cond 6*96 < 1.005*6*16?
    # 576 < 96.5 false -> no trigger -> fallback = next_level of first
    # row = 90
    assert t == 90

    # now a case that purges: many small blocks + one huge block
    rows = [("b%d" % i, 2, 2) for i in range(100)] + [("big", 9900, 100)]
    meta2 = spark.createDataFrame(rows, ["key", "comparisons", "block_size"])
    # cum: level2: cc=200,bc=200; level9900: cc=10100, bc=300
    # cond at level2: 200*10100 < sf*200*300 -> 2020000 < 60300*sf: false
    # fallback 9900 (keeps everything) — reference behaves identically
    # (condition compares bc growth vs cc growth).
    assert BlockPurging.max_comparisons_allowed(meta2, 1.005) == 9900


def test_evaluation(spark, blocks):
    pb = Converters.blocks_to_profile_blocks(blocks)
    ctx = EdgeWeighting.weighted_edges(blocks, pb, WeightTypes.CBS)
    edges = ctx.half()
    gt = spark.createDataFrame([(0, 1), (2, 3), (1, 4)], ["p1", "p2"])
    stats = Evaluation.get_stats(edges, gt)
    # edges: 6; gt: 3; matches: (0,1),(2,3) = 2
    assert stats.num_edges == 6
    assert stats.num_matches == 2
    assert stats.pc == pytest.approx(2 / 3)
    assert stats.pq == pytest.approx(2 / 6)


def _shuffled(spark):
    """No broadcast at all: neither a size-hinted build side nor one
    that AQE picks."""
    return scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"})


def test_wnp_broadcast_and_shuffled_paths_agree(spark, blocks):
    """The broadcast-thresholds plan and the shuffled-join plan
    (engaged when Σ block_size rows do not fit the broadcast
    threshold) must keep the identical edge set."""
    pb = Converters.blocks_to_profile_blocks(blocks)

    def run():
        ctx = EdgeWeighting.weighted_edges(blocks, pb, WeightTypes.CBS)
        return set(
            edge_map(WNP.prune(ctx, ThresholdTypes.AVG, ComparisonTypes.OR))
        )

    broadcast = run()
    with _shuffled(spark):
        shuffled = run()
    assert broadcast == shuffled == {(0, 1)}


def test_wnp_large_path_matches_broadcast_path(spark, blocks):
    """A collection too large for the broadcast threshold keeps the
    shuffled joins; the 100x perf slice cannot reach the crossover, so
    force it with the conf and pin result equality with the broadcast
    plan, for CBS and BLAST's chi2 rule (a pinned fractional AVG)."""
    pb = Converters.blocks_to_profile_blocks(blocks)

    def run(weight_type, **kw):
        ctx = EdgeWeighting.weighted_edges(blocks, pb, weight_type)
        return edge_map(WNP.prune(ctx, **kw))

    small = run(WeightTypes.CBS)
    blast_small = run(WeightTypes.CHI_SQUARE, chi2divider=2.0)
    with _shuffled(spark):
        large = run(WeightTypes.CBS)
        blast_large = run(WeightTypes.CHI_SQUARE, chi2divider=2.0)
    assert large == small == {(0, 1): 2.0}
    assert blast_large == blast_small


@pytest.mark.parametrize("comparison", [ComparisonTypes.OR, ComparisonTypes.AND])
def test_cnp_broadcast_and_shuffled_paths_agree(spark, blocks, comparison):
    """CNP's membership joins broadcast the retained set when its
    count fits the threshold and shuffle otherwise: same edges."""
    pb = Converters.blocks_to_profile_blocks(blocks)

    def run():
        ctx = EdgeWeighting.weighted_edges(blocks, pb, WeightTypes.CBS)
        kept = CNP.prune(ctx, 2, comparison)
        plan = kept._jdf.queryExecution().executedPlan().toString()
        return edge_map(kept), "BroadcastHashJoin" in plan

    broadcast, hinted = run()
    with _shuffled(spark):
        shuffled, shuffled_hinted = run()
    assert hinted and not shuffled_hinted
    assert broadcast == shuffled
    assert broadcast


def test_train_score_reads_the_pin(records):
    """The scored edges are one projection over the pinned feature
    relation: no re-planned feature generator (its per-profile
    aggregate, its pair joins) and no MLlib vector column."""
    profiles = DataFrameWrapper.load_profiles(records, real_id_field="id")
    blocks = Blocking.blocks_from_keys(BlockingKeysStrategies.token_blocking(profiles))
    gt = records.sparkSession.createDataFrame([(0, 1)], "p1 long, p2 long")
    scored = SupervisedMB.train_score(FeatureGenerator.generate_features(blocks, groundtruth=gt))
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") == 1
    for node in ("Aggregate", "Join", "Exchange", "UDF"):
        assert node not in plan, plan
    assert [f.dataType.typeName() for f in scored.schema] == ["long", "long", "double", "integer"]


def test_public_chains_leave_no_cached_relation(spark, records):
    """The dirty WNP chain, the GSMB tail over its filtered blocks and
    the BLAST chain, run end to end through the public API, leave
    nothing in the session's CacheManager: every materialization on
    the way is owned by the relation that needs it and freed with
    it."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()

    profiles = DataFrameWrapper.load_profiles(records, real_id_field="id")
    keys = BlockingKeysStrategies.token_blocking(profiles)
    blocks = Blocking.blocks_from_keys(keys)
    purged = BlockPurging.block_purging(blocks, 1.025)
    _, filtered, rebuilt = BlockFiltering.block_filtering_quick(purged, 0.8)
    ctx = EdgeWeighting.weighted_edges(rebuilt, filtered, WeightTypes.CBS)
    pairs = WNP.prune(ctx, ThresholdTypes.AVG, ComparisonTypes.OR)
    pairs.write.format("noop").mode("overwrite").save()
    assert cm.isEmpty()

    # GSMB: features -> classifier -> CEP over the same filtered blocks
    gt = spark.createDataFrame([(0, 1)], "p1 long, p2 long")
    features = FeatureGenerator.generate_features(rebuilt, groundtruth=gt)
    scored = SupervisedMB.train_score(features)
    total = rebuilt.meta.agg(F.sum("block_size")).first()[0]
    SupervisedMB.cep(scored, total).write.format("noop").mode("overwrite").save()
    assert cm.isEmpty()

    # two sources, the second with its attribute renamed
    a = DataFrameWrapper.load_profiles(records, real_id_field="id", source_id=0)
    b = DataFrameWrapper.load_profiles(
        records.withColumnRenamed("text", "body"),
        real_id_field="id",
        source_id=1,
        start_id_from=5,
    )
    two = a.unionByName(b)
    clusters = AttributeClustering.cluster_similar_attributes(two)
    blocks = Blocking.create_blocks_clusters(two, clusters, clean=True)
    purged = BlockPurging.block_purging(blocks, 1.005)
    _, filtered, rebuilt = BlockFiltering.block_filtering_quick(purged, 0.8)
    ctx = EdgeWeighting.weighted_edges(
        rebuilt, filtered, WeightTypes.CHI_SQUARE, use_entropy=True
    )
    pairs = WNP.prune(ctx, chi2divider=2.0)
    assert pairs.count() > 0
    assert cm.isEmpty()
