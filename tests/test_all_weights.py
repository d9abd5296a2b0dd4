"""all_weights one-pass multi-weight edges == the six per-type builds.

This is the guard that lets er_all_weight_edges stand in for the six
single-weight graded queries: every column must equal the directed
weight that weighted_edges(type) computes, pair for pair.
"""

import pytest
from pyspark.sql import functions as F

from sparker_spark.entry import _shingle_blocks
from sparker_spark.metablocking.pruning_utils import WeightTypes
from sparker_spark.metablocking.weights import EdgeWeighting


@pytest.fixture(scope="module")
def graph(spark, sf_dir):
    blocks, pb = _shingle_blocks(spark, sf_dir)
    all_w = EdgeWeighting.all_weights(blocks, pb).cache()
    yield blocks, pb, all_w
    all_w.unpersist()


def _column_for(weight_type):
    return {
        WeightTypes.CBS: "cbs",
        WeightTypes.JS: "js",
        WeightTypes.ECBS: "ecbs",
        WeightTypes.CHI_SQUARE: "chi2",
        WeightTypes.EJS: "ejs",
    }[weight_type]


@pytest.mark.parametrize(
    "weight_type",
    [
        WeightTypes.CBS,
        WeightTypes.JS,
        WeightTypes.ECBS,
        WeightTypes.CHI_SQUARE,
        WeightTypes.EJS,
    ],
)
def test_all_weights_matches_single_type(graph, weight_type):
    blocks, pb, all_w = graph
    ctx = EdgeWeighting.weighted_edges(blocks, pb, weight_type)
    col = _column_for(weight_type)
    merged = (
        ctx.edges.select("src", "dst", F.col("weight").alias("single"))
        .join(all_w.select("src", "dst", F.col(col).alias("combined")), ["src", "dst"], "full")
        .withColumn(
            "diff", F.abs(F.col("single") - F.col("combined"))
        )
    )
    assert merged.where(
        F.col("single").isNull() | F.col("combined").isNull()
    ).count() == 0, f"{weight_type}: pair sets differ"
    max_diff = merged.agg(F.max("diff")).first()[0]
    assert max_diff < 1e-9, f"{weight_type}: max diff {max_diff}"


def test_all_weights_arcs_matches_log_domain(graph):
    """ARCS: combined log_arcs == ln(cbs) − Σ ln comparisons(src),
    i.e. ln of the single-type ARCS weight wherever the latter doesn't
    underflow to 0."""
    blocks, pb, all_w = graph
    ctx = EdgeWeighting.weighted_edges(blocks, pb, WeightTypes.ARCS)
    merged = ctx.edges.select(
        "src", "dst", F.col("weight").alias("arcs")
    ).join(all_w.select("src", "dst", "log_arcs"), ["src", "dst"])
    bad = merged.where(
        (F.col("arcs") > 0)
        & (F.abs(F.log("arcs") - F.col("log_arcs")) > 1e-6)
    ).count()
    assert bad == 0


def test_bitmask_fast_path_equals_general(spark, sf_dir):
    """<=63-block dirty collections route co_occurrence through the
    bitmask plan; its directed relation (incl. self-loops) must equal
    the general shuffle+agg plan row for row."""
    from sparker_spark.blocking.blockers import Blocking
    from sparker_spark.entry import _doc_keys_unigram

    keys = _doc_keys_unigram(spark, sf_dir)
    blocks = Blocking.blocks_from_keys(keys, clean=False, assign_ids=False)
    nb = blocks.meta.count()
    assert nb <= 63, "fixture regime must be mega-block"
    fast = {
        (r["src"], r["dst"]): r["cbs"]
        for r in EdgeWeighting.co_occurrence(blocks, num_blocks=nb).collect()
    }
    general = {
        (r["src"], r["dst"]): r["cbs"]
        for r in EdgeWeighting.co_occurrence(blocks).collect()
    }
    assert fast == general
    assert any(s == d for s, d in fast)  # self-loops present


def test_bitmask_blockjoin_tier_sparse_blocks(spark):
    """Sparse <=63-block fixture (n² > Σ size²) exercises the
    block-join tier of the bitmask path; must equal the general plan."""
    from sparker_spark.blocking.blockers import Blocking

    rows = []
    for b in range(40):  # 40 blocks of size 2-3, 100 profiles
        for p in range(b % 3 + 2):
            rows.append((((b * 7) + p * 13) % 100, 0, f"k{b}"))
    keys = spark.createDataFrame(
        rows, "profile_id long, source_id int, key string"
    ).distinct()
    blocks = Blocking.blocks_from_keys(keys, clean=False, assign_ids=False)
    nb = blocks.meta.count()
    assert nb <= 63
    n = keys.select("profile_id").distinct().count()
    ss = sum(
        r["block_size"] ** 2 for r in blocks.meta.select("block_size").collect()
    )
    assert n * n > ss, "fixture must route to the block-join tier"
    fast = {
        (r["src"], r["dst"]): r["cbs"]
        for r in EdgeWeighting.co_occurrence(blocks, num_blocks=nb).collect()
    }
    general = {
        (r["src"], r["dst"]): r["cbs"]
        for r in EdgeWeighting.co_occurrence(blocks).collect()
    }
    assert fast == general


def _mask_loop_blocks(spark, sf_dir):
    """The unigram mega-block fixture of
    test_bitmask_fast_path_equals_general (n² < Σ size²: mask loop)."""
    from sparker_spark.blocking.blockers import Blocking
    from sparker_spark.entry import _doc_keys_unigram

    keys = _doc_keys_unigram(spark, sf_dir)
    return Blocking.blocks_from_keys(keys, clean=False, assign_ids=False)


def _block_join_blocks(spark, sf_dir):
    """The sparse fixture of test_bitmask_blockjoin_tier_sparse_blocks
    (n² > Σ size²: block-join tier)."""
    from sparker_spark.blocking.blockers import Blocking

    rows = []
    for b in range(40):
        for p in range(b % 3 + 2):
            rows.append((((b * 7) + p * 13) % 100, 0, f"k{b}"))
    keys = spark.createDataFrame(
        rows, "profile_id long, source_id int, key string"
    ).distinct()
    return Blocking.blocks_from_keys(keys, clean=False, assign_ids=False)


TIERS = [(_mask_loop_blocks, True), (_block_join_blocks, False)]


def _with_entropy(blocks):
    """Distinct per-block entropies, so Σ entropy checks which blocks
    were summed (blocks_from_keys gives every block 1.0)."""
    from sparker_spark.blocking.blockers import BlockCollection

    meta = blocks.meta.withColumn("entropy", 1.0 / (F.col("block_id") + 3.0))
    return BlockCollection(blocks.assignments, meta, blocks.clean)


def _by_pair(df):
    return {(r["src"], r["dst"]): tuple(r)[2:] for r in df.collect()}


def _assert_close(fast, general, tol=1e-9):
    assert fast.keys() == general.keys()
    for k, row in fast.items():
        for a, b in zip(row, general[k]):
            assert abs(a - b) <= tol, (k, row, general[k])


@pytest.mark.parametrize("build,mask_loop", TIERS)
def test_shared_block_sums_agree_across_plans(spark, sf_dir, build, mask_loop):
    """Both bitmask tiers and the general plan give the same
    (src, dst, cbs, Σ entropy, Σ 1/comparisons, Σ 1/block_size), for
    the pair half and for the dirty self-loops."""
    from sparker_spark.metablocking.weights import _shared_block_pairs

    blocks = _with_entropy(build(spark, sf_dir))
    nb = blocks.meta.count()
    assert nb <= 63
    sums = {
        "entropy": F.col("entropy"),
        "inv_comp": 1.0 / F.col("comparisons"),
        "inv_size": 1.0 / F.col("block_size"),
    }
    fast_half, fast_loops = _shared_block_pairs(blocks, sums, nb)
    half, loops = _shared_block_pairs(blocks, sums)
    plan = fast_half._jdf.queryExecution().executedPlan().toString()
    assert ("NestedLoopJoin" in plan) == mask_loop, plan[:2000]
    assert fast_half.columns == half.columns == [
        "src", "dst", "cbs", "entropy_sum", "inv_comp_sum", "inv_size_sum"
    ]
    _assert_close(_by_pair(fast_half), _by_pair(half))
    _assert_close(_by_pair(fast_loops), _by_pair(loops))


@pytest.mark.parametrize("build,mask_loop", TIERS)
def test_generate_features_agree_across_plans(
    spark, sf_dir, monkeypatch, build, mask_loop
):
    """generate_features over the bitmask tiers equals the general
    plan to 1e-9, compared before the float32 cast."""
    from sparker_spark import feature_generator
    from sparker_spark.metablocking import weights

    blocks = build(spark, sf_dir)
    monkeypatch.setattr(feature_generator, "FEATURE_TYPE", "double")
    cols = ["cfibf", "raccb", "js", "numCompP1", "numCompP2", "rs", "aejs", "nrs", "wjs"]

    def features():
        out = feature_generator.FeatureGenerator.generate_features(blocks)
        return {
            (r["p1"], r["p2"]): tuple(r[c] for c in cols)
            for r in out.collect()
        }

    fast = features()
    monkeypatch.setattr(
        feature_generator,
        "_shared_block_pairs",
        lambda blocks, sums, *hints: weights._shared_block_pairs(blocks, sums),
    )
    general = features()
    assert fast
    _assert_close(fast, general)
