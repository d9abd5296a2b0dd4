"""The block-index joins and the filtered profile blocks' pin.

``BlockCollection.num_blocks`` bounds #blocks; the five joins against
the block index (blocks_from_keys, block_purging and the three in
Converters) broadcast the index when bound × row width is within
``spark.sql.autoBroadcastJoinThreshold`` and leave the plan to
Catalyst otherwise. ``block_filtering_quick`` pins the filtered
profile blocks, so every reader plans a leaf scan.
"""

import re

import pytest

from sparker_spark.blocking.blockers import Blocking, BlockCollection, block_index
from sparker_spark.blocking.converters import Converters
from sparker_spark.blocking.strategies import BlockingKeysStrategies
from sparker_spark.filters import BlockFiltering, BlockPurging
from sparker_spark.session import scoped_conf
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
# the filtered profile blocks are a leaf, so the rebuilt meta holds
# only its own join and the rebuilt assignments add one more
SITES = {
    "blocks_from_keys": (lambda b, p, f, r: b.assignments, 1),
    "block_purging": (lambda b, p, f, r: p.assignments, 2),
    "blocks_to_profile_blocks": (
        lambda b, p, f, r: Converters.blocks_to_profile_blocks(p),
        3,
    ),
    "profile_blocks_to_blocks.meta": (lambda b, p, f, r: r.meta, 1),
    "profile_blocks_to_blocks.assignments": (lambda b, p, f, r: r.assignments, 2),
}


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
            assert _hinted(block_index(index, n)) is hinted
    with scoped_conf(spark, {THRESHOLD: "10MB"}):
        assert _hinted(block_index(index, n))
        assert not _hinted(block_index(index, None))  # no bound, no hint


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


def test_filtered_profile_blocks_are_a_leaf_scan(profiles):
    _, _, filtered, _ = _chain(profiles)
    plan = filtered._jdf.queryExecution().executedPlan().toString().strip()
    assert len(plan.splitlines()) == 1 and "Scan ExistingRDD" in plan
