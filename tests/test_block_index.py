"""The block-index joins, the pair enumeration's build side, and the
pins of the filtered profile blocks and the rebuilt meta.

``BlockCollection.num_blocks`` bounds #blocks; the five joins against
the block index (blocks_from_keys, block_purging and the three in
Converters) broadcast the index when bound × row width is within
``spark.sql.autoBroadcastJoinThreshold`` and leave the plan to
Catalyst otherwise. The pair enumeration's block self-join applies the
same rule to its membership side, bounded by Σ block_size.
``block_filtering_quick`` pins the filtered profile blocks and the
rebuild pins its meta, so every reader of either plans a leaf scan.
"""

import random
import re

import pytest
from pyspark.sql import functions as F

from sparker_spark.blocking.blockers import Blocking, BlockCollection
from sparker_spark.blocking.converters import Converters
from sparker_spark.blocking.strategies import BlockingKeysStrategies
from sparker_spark.filters import BlockFiltering, BlockPurging
from sparker_spark.metablocking.pruning_utils import (
    ComparisonTypes,
    ThresholdTypes,
    WeightTypes,
)
from sparker_spark.metablocking.weights import EdgeWeighting, _shared_block_pairs
from sparker_spark.metablocking.wnp import WNP
from sparker_spark.session import bounded_broadcast, scoped_conf
from sparker_spark.wrappers import DataFrameWrapper

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


@pytest.fixture(scope="module")
def profiles(spark):
    rows = [
        ("p0", "t1 t2 t5"),
        ("p1", "t1 t2"),
        ("p2", "t1 t3"),
        ("p3", "t3 t4"),
        ("p4", "t4 t5"),
        ("p5", "t1 t6"),
        ("p6", "t6 t2"),
    ]
    records = spark.createDataFrame(rows, ["id", "text"])
    # a leaf, so that the plans below hold only the blocking chain's joins
    return DataFrameWrapper.load_profiles(records, real_id_field="id").localCheckpoint()


def _chain(profiles):
    keys = BlockingKeysStrategies.token_blocking(profiles)
    blocks = Blocking.blocks_from_keys(keys)
    purged = BlockPurging.block_purging(blocks, 1.025)
    _, filtered, rebuilt = BlockFiltering.block_filtering_quick(purged, 0.8)
    return blocks, purged, filtered, rebuilt


def _joins(df):
    """(#BroadcastHashJoin, #SortMergeJoin, #ShuffledHashJoin) planned."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return tuple(
        len(re.findall(rf"\b{op}\b", plan))
        for op in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    )


# each relation and the number of block-index joins its plan holds:
# the filtered profile blocks and the rebuilt meta are leaves (the
# meta's own join runs inside its pin), so the rebuilt meta plans no
# join and the rebuilt assignments plan only theirs
SITES = {
    "blocks_from_keys": (lambda b, p, f, r: b.assignments, 1),
    "block_purging": (lambda b, p, f, r: p.assignments, 2),
    "blocks_to_profile_blocks": (
        lambda b, p, f, r: Converters.blocks_to_profile_blocks(p),
        3,
    ),
    "profile_blocks_to_blocks.meta": (lambda b, p, f, r: r.meta, 0),
    "profile_blocks_to_blocks.assignments": (lambda b, p, f, r: r.assignments, 1),
    # the pair enumeration's self-join, and the rebuilt assignments' join
    # on each of its sides
    "shared_block_pairs": (
        lambda b, p, f, r: _shared_block_pairs(r, None, None, _members(r))[0],
        3,
    ),
}


def _members(blocks):
    """Σ block_size: the membership count the enumeration is hinted with."""
    return blocks.meta.agg(F.sum("block_size")).first()[0]


@pytest.mark.parametrize("site", sorted(SITES))
def test_small_block_index_is_broadcast(spark, profiles, site):
    build, n = SITES[site]
    with scoped_conf(spark, {THRESHOLD: "10MB"}):
        df = build(*_chain(profiles))
        assert _joins(df) == (n, 0, 0)


@pytest.mark.parametrize("site", sorted(SITES))
def test_no_broadcast_when_disabled(spark, profiles, site):
    build, n = SITES[site]
    with scoped_conf(spark, {THRESHOLD: "-1"}):
        df = build(*_chain(profiles))
        assert _joins(df) == (0, n, 0)


@pytest.mark.parametrize("site", sorted(SITES))
def test_no_broadcast_when_bound_exceeds_threshold(spark, profiles, site):
    build, n = SITES[site]
    blocks = _chain(profiles)[0]
    # the narrowest index row is (block_id): 8 bytes + an 8-byte header
    below = blocks.num_blocks * 16 - 1
    with scoped_conf(spark, {THRESHOLD: f"{below}b"}):
        df = build(*_chain(profiles))
        assert _joins(df) == (0, n, 0)


def _hinted(df):
    return "strategy=broadcast" in df._jdf.queryExecution().analyzed().toString()


def test_block_index_threshold_is_inclusive(spark, profiles):
    blocks = _chain(profiles)[0]
    index = blocks.meta.select("block_id")  # 16-byte rows
    n = blocks.num_blocks
    for threshold, hinted in ((n * 16, True), (n * 16 - 1, False)):
        with scoped_conf(spark, {THRESHOLD: str(threshold)}):
            assert _hinted(bounded_broadcast(index, n)) is hinted
    with scoped_conf(spark, {THRESHOLD: "10MB"}):
        assert _hinted(bounded_broadcast(index, n))
        assert not _hinted(bounded_broadcast(index, None))  # no bound, no hint


def test_num_blocks_bound(profiles):
    keys = BlockingKeysStrategies.token_blocking(profiles)
    blocks, purged, _, rebuilt = _chain(profiles)
    # exact from the ranking, then passed through the dropping stages
    assert blocks.num_blocks == blocks.meta.count()
    assert purged.num_blocks == rebuilt.num_blocks == blocks.num_blocks
    assert rebuilt.meta.count() <= rebuilt.num_blocks
    # hash ids and hand-built collections carry no bound
    assert Blocking.blocks_from_keys(keys, assign_ids=False).num_blocks is None
    assert BlockCollection(blocks.assignments, blocks.meta, False).num_blocks is None


def test_clusters_pass_the_bound_through(profiles):
    clusters = [{"cluster_id": 0, "keys": ["0_text"], "entropy": 0.5}]
    blocks = Blocking.create_blocks_clusters(profiles, clusters)
    assert blocks.num_blocks == blocks.meta.count()


def _is_leaf_scan(df):
    plan = df._jdf.queryExecution().executedPlan().toString().strip()
    return len(plan.splitlines()) == 1 and "Scan ExistingRDD" in plan


def test_filtered_profile_blocks_are_a_leaf_scan(profiles):
    _, _, filtered, _ = _chain(profiles)
    assert _is_leaf_scan(filtered)


def test_rebuilt_meta_is_a_leaf_scan(profiles):
    _, _, _, rebuilt = _chain(profiles)
    assert _is_leaf_scan(rebuilt.meta)


def test_enumeration_threshold_is_inclusive(spark, profiles):
    """The enumeration's build side is hinted when Σ block_size × row
    width is within the threshold, and never without the count. Its
    membership relation is a leaf here, so the self-join's is the only
    hint in the plan."""
    rebuilt = _chain(profiles)[3]
    members = _members(rebuilt)
    leaf = BlockCollection(rebuilt.assignments.localCheckpoint(), rebuilt.meta, False)
    # the build side's row is (bid LONG, dst LONG, dst_source INT):
    # 8 + 8 + 4 bytes and an 8-byte header
    for threshold, hinted in ((members * 28, True), (members * 28 - 1, False)):
        with scoped_conf(spark, {THRESHOLD: str(threshold)}):
            assert _hinted(_shared_block_pairs(leaf, None, None, members)[0]) is hinted
    with scoped_conf(spark, {THRESHOLD: "10MB"}):
        assert _hinted(_shared_block_pairs(leaf, None, None, members)[0])
        assert not _hinted(_shared_block_pairs(leaf)[0])  # no count, no hint


@pytest.fixture(scope="module")
def many_blocks(spark):
    """60 entities with three copies each (a copy drops one of the
    entity's six words, drawn from 120): enough surviving blocks
    (> 63) that the edge weights take the block self-join, not the
    bitmask plan, and enough cross-entity pairs that WNP prunes."""
    rnd = random.Random(7)
    words = [rnd.sample(range(120), 6) for _ in range(60)]
    rows = [
        (f"q{e}_{c}", " ".join(f"w{w}" for j, w in enumerate(ws) if j != c))
        for e, ws in enumerate(words)
        for c in range(3)
    ]
    records = spark.createDataFrame(rows, ["id", "text"])
    return DataFrameWrapper.load_profiles(records, real_id_field="id").localCheckpoint()


WEIGHTS = [
    (WeightTypes.CBS, False),
    (WeightTypes.JS, False),
    (WeightTypes.ECBS, False),
    (WeightTypes.CHI_SQUARE, True),
]


def _pruned(profiles, weight_type, use_entropy):
    """{comparison type: sorted (p1, p2, weight) rows} of WNP over the
    chain's rebuilt blocks, and #blocks."""
    _, _, filtered, rebuilt = _chain(profiles)
    ctx = EdgeWeighting.weighted_edges(rebuilt, filtered, weight_type, use_entropy)
    out = {
        c: sorted(tuple(r) for r in WNP.prune(ctx, ThresholdTypes.AVG, c).collect())
        for c in (ComparisonTypes.AND, ComparisonTypes.OR)
    }
    return out, ctx.num_blocks


@pytest.mark.parametrize("weight_type,use_entropy", WEIGHTS)
def test_wnp_pairs_do_not_depend_on_the_broadcasts(
    spark, many_blocks, weight_type, use_entropy
):
    """WNP keeps the same pairs, with the same weights, whether every
    block-index join and the enumeration's build side are broadcast
    (10MB) or none is (-1)."""
    with scoped_conf(spark, {THRESHOLD: "-1"}):
        shuffled, num_blocks = _pruned(many_blocks, weight_type, use_entropy)
    with scoped_conf(spark, {THRESHOLD: "10MB"}):
        broadcast, _ = _pruned(many_blocks, weight_type, use_entropy)
    assert num_blocks > 63
    assert shuffled[ComparisonTypes.OR]
    assert broadcast == shuffled
