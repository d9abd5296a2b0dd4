"""End-to-end parity vs the actual reference library.

Runs the reference SparkER Python package (read-only at
/root/reference/python) side-by-side with this engine on the bundled
`cora` dirty dataset (python/datasets/dirty/cora) with the notebook
stage parameters (purge 1.005, filter 0.8 — examples/Dirty
datasets.ipynb) and compares the *exact* retained-edge sets of the
full pipeline, plus stage-level counts.

Profile ids differ by construction (reference zipWithIndex vs our
deterministic row_number), so edges are compared after mapping back to
original ids.
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

REFERENCE_PY = "/root/reference/python"
CORA = "/root/reference/python/datasets/dirty/cora/cora.csv"
CORA_GT = "/root/reference/python/datasets/dirty/cora/groundtruth.csv"

if not os.path.isdir(REFERENCE_PY):
    pytest.skip("reference checkout not present", allow_module_level=True)


@pytest.fixture(scope="module")
def reference(spark):
    sys.path.insert(0, REFERENCE_PY)
    import sparker as ref  # noqa

    yield ref
    sys.path.remove(REFERENCE_PY)


@pytest.fixture(scope="module")
def ref_pipeline(spark, reference):
    """Reference pipeline: load -> blocks -> purge -> filter."""
    ref = reference
    profiles = ref.CSVWrapper.load_profiles(
        CORA, header=True, real_id_field="id"
    )
    max_profile_id = profiles.map(lambda p: p.profile_id).max()
    blocks = ref.Blocking.create_blocks(profiles)
    blocks_purged = ref.BlockPurging.block_purging(blocks, 1.005)
    (
        profile_blocks,
        profile_blocks_filtered,
        blocks_after_filtering,
    ) = ref.BlockFiltering.block_filtering_quick(blocks_purged, 0.8)
    return {
        "profiles": profiles,
        "max_profile_id": max_profile_id,
        "blocks": blocks,
        "blocks_purged": blocks_purged,
        "profile_blocks_filtered": profile_blocks_filtered,
        "blocks_after_filtering": blocks_after_filtering,
    }


@pytest.fixture(scope="module")
def our_pipeline(spark):
    from sparker_spark.blocking.blockers import Blocking
    from sparker_spark.filters import BlockFiltering, BlockPurging
    from sparker_spark.wrappers import CSVWrapper

    profiles = CSVWrapper.load_profiles(
        spark, CORA, header=True, real_id_field="id"
    ).cache()
    blocks = Blocking.create_blocks(profiles)
    purged = BlockPurging.block_purging(blocks, 1.005)
    pb, pb_filtered, rebuilt = BlockFiltering.block_filtering_quick(purged, 0.8)
    pb_filtered = pb_filtered.cache()
    return {
        "profiles": profiles,
        "blocks": blocks,
        "purged": purged,
        "pb_filtered": pb_filtered,
        "rebuilt": rebuilt,
    }


def _ref_id_map(ref_pipeline):
    return dict(
        ref_pipeline["profiles"].map(lambda p: (p.profile_id, p.original_id)).collect()
    )


def _our_id_map(our_pipeline):
    return {
        r["profile_id"]: r["original_id"]
        for r in our_pipeline["profiles"]
        .select("profile_id", "original_id")
        .distinct()
        .collect()
    }


def test_block_counts_match(ref_pipeline, our_pipeline):
    assert ref_pipeline["blocks"].count() == our_pipeline["blocks"].meta.count()
    # block comparison-size histograms identical
    ref_hist = sorted(
        ref_pipeline["blocks"].map(lambda b: b.get_comparison_size()).collect()
    )
    our_hist = sorted(
        r["comparisons"] for r in our_pipeline["blocks"].meta.collect()
    )
    assert ref_hist == our_hist


def test_purging_matches(ref_pipeline, our_pipeline):
    assert (
        ref_pipeline["blocks_purged"].count()
        == our_pipeline["purged"].meta.count()
    )


def test_filtering_matches(ref_pipeline, our_pipeline):
    # compare per-profile kept-block multisets via comparison sizes
    ref_kept = sorted(
        ref_pipeline["profile_blocks_filtered"]
        .map(lambda pb: (pb.profile_id, tuple(sorted(b.comparisons for b in pb.blocks))))
        .collect()
    )
    from collections import defaultdict

    ours = defaultdict(list)
    for r in our_pipeline["pb_filtered"].collect():
        ours[r["profile_id"]].append(r["comparisons"])
    ref_map = {}
    rid = _ref_id_map(ref_pipeline)
    for pid, comps in ref_kept:
        ref_map[rid[pid]] = tuple(comps)
    oid = _our_id_map(our_pipeline)
    our_map = {oid[pid]: tuple(sorted(v)) for pid, v in ours.items()}
    assert ref_map == our_map


def test_wnp_cbs_exact_edge_parity(spark, reference, ref_pipeline, our_pipeline):
    """Full-pipeline WNP (CBS, AVG, OR): exact retained-edge set parity."""
    ref = reference
    sc = spark.sparkContext
    block_index_map = (
        ref_pipeline["blocks_after_filtering"]
        .map(lambda b: (b.block_id, b.profiles))
        .collectAsMap()
    )
    block_index = sc.broadcast(block_index_map)
    profile_blocks_size_index = sc.broadcast(
        ref_pipeline["profile_blocks_filtered"]
        .map(lambda pb: (pb.profile_id, len(pb.blocks)))
        .collectAsMap()
    )
    results = ref.WNP.wnp(
        ref_pipeline["profile_blocks_filtered"],
        block_index,
        ref_pipeline["max_profile_id"],
        weight_type=ref.WeightTypes.CBS,
        threshold_type=ref.ThresholdTypes.AVG,
        comparison_type=ref.ComparisonTypes.OR,
        profile_blocks_size_index=profile_blocks_size_index,
    )
    ref_edges = results.flatMap(lambda x: x[2]).collect()
    rid = _ref_id_map(ref_pipeline)
    ref_pairs = {tuple(sorted((rid[p1], rid[p2]))) for p1, p2, _ in ref_edges}

    from sparker_spark.metablocking.pruning_utils import (
        ComparisonTypes,
        ThresholdTypes,
        WeightTypes,
    )
    from sparker_spark.metablocking.wnp import WNP

    ours = WNP.wnp(
        our_pipeline["rebuilt"],
        our_pipeline["pb_filtered"],
        threshold_type=ThresholdTypes.AVG,
        weight_type=WeightTypes.CBS,
        comparison_type=ComparisonTypes.OR,
    )
    oid = _our_id_map(our_pipeline)
    our_pairs = {
        tuple(sorted((oid[r["p1"]], oid[r["p2"]])))
        for r in ours.collect()
    }
    assert len(ref_pairs) == len(our_pairs)
    assert ref_pairs == our_pairs


def test_wnp_js_exact_edge_parity(spark, reference, ref_pipeline, our_pipeline):
    """WNP with JS weights + AND: exact parity (exercises
    profile_blocks_size_index semantics)."""
    ref = reference
    sc = spark.sparkContext
    block_index = sc.broadcast(
        ref_pipeline["blocks_after_filtering"]
        .map(lambda b: (b.block_id, b.profiles))
        .collectAsMap()
    )
    profile_blocks_size_index = sc.broadcast(
        ref_pipeline["profile_blocks_filtered"]
        .map(lambda pb: (pb.profile_id, len(pb.blocks)))
        .collectAsMap()
    )
    results = ref.WNP.wnp(
        ref_pipeline["profile_blocks_filtered"],
        block_index,
        ref_pipeline["max_profile_id"],
        weight_type=ref.WeightTypes.JS,
        threshold_type=ref.ThresholdTypes.AVG,
        comparison_type=ref.ComparisonTypes.AND,
        profile_blocks_size_index=profile_blocks_size_index,
    )
    rid = _ref_id_map(ref_pipeline)
    ref_pairs = {
        tuple(sorted((rid[p1], rid[p2])))
        for p1, p2, _ in results.flatMap(lambda x: x[2]).collect()
    }

    from sparker_spark.metablocking.pruning_utils import (
        ComparisonTypes,
        ThresholdTypes,
        WeightTypes,
    )
    from sparker_spark.metablocking.wnp import WNP

    ours = WNP.wnp(
        our_pipeline["rebuilt"],
        our_pipeline["pb_filtered"],
        threshold_type=ThresholdTypes.AVG,
        weight_type=WeightTypes.JS,
        comparison_type=ComparisonTypes.AND,
    )
    oid = _our_id_map(our_pipeline)
    our_pairs = {
        tuple(sorted((oid[r["p1"]], oid[r["p2"]]))) for r in ours.collect()
    }
    assert ref_pairs == our_pairs


# EJS is excluded: the reference's compute_statistics resets its dense
# array by POSITION instead of by neighbor id (common_node_pruning.py:
# 93-94 `local_weights[i] = 0` where i indexes `neighbors`), so stale
# counts leak between profiles within a partition and the resulting
# E / per-profile edge counts are partition-order dependent — two
# reference runs with different partitioning disagree with each other.
# Our EJS uses exact distinct-neighbor statistics (the formula itself
# is replicated bit-for-bit, weights.py EJS branch) and is pinned by
# the cross-engine DuckDB oracle instead.
@pytest.mark.parametrize("wt", ["ecbs", "chi_square", "arcs", "js"])
def test_weighted_graph_exact_parity(spark, reference, ref_pipeline, our_pipeline, wt):
    """Full weighted graph (get_all_edges, no pruning) on cora:
    per-pair weights match the reference to 1e-9 relative for
    ECBS / chi² / ARCS — the weight formulas the WNP parity tests
    don't isolate."""
    ref = reference
    sc = spark.sparkContext
    block_index = sc.broadcast(
        ref_pipeline["blocks_after_filtering"]
        .map(lambda b: (b.block_id, b.profiles))
        .collectAsMap()
    )
    pbsi = sc.broadcast(
        ref_pipeline["profile_blocks_filtered"]
        .map(lambda pb: (pb.profile_id, len(pb.blocks)))
        .collectAsMap()
    )
    ref_wt = {
        "ecbs": reference.WeightTypes.ECBS,
        "chi_square": reference.WeightTypes.CHI_SQUARE,
        "arcs": reference.WeightTypes.ARCS,
        "js": reference.WeightTypes.JS,
    }[wt]
    results = ref.WNP.get_all_edges(
        ref_pipeline["profile_blocks_filtered"],
        block_index,
        ref_pipeline["max_profile_id"],
        weight_type=ref_wt,
        profile_blocks_size_index=pbsi,
    )
    rid = _ref_id_map(ref_pipeline)
    ref_w = {}
    # get_all_edges yields a plain edge LIST per profile (wnp.py:9-24),
    # unlike wnp()'s (count, gt_hits, edges) triples. Keep DIRECTION:
    # ARCS is src-asymmetric and the engines' id orders differ, so the
    # "smaller id" endpoint is not the same profile in both.
    for p1, p2, w in results.flatMap(lambda x: x).collect():
        ref_w[(rid[p1], rid[p2])] = w

    from sparker_spark.metablocking.pruning_utils import WeightTypes
    from sparker_spark.metablocking.weights import EdgeWeighting

    our_wt = {
        "ecbs": WeightTypes.ECBS,
        "chi_square": WeightTypes.CHI_SQUARE,
        "arcs": WeightTypes.ARCS,
        "js": WeightTypes.JS,
    }[wt]
    ctx = EdgeWeighting.weighted_edges(
        our_pipeline["rebuilt"], our_pipeline["pb_filtered"], weight_type=our_wt
    )
    oid = _our_id_map(our_pipeline)
    our_w = {
        (oid[r["src"]], oid[r["dst"]]): r["weight"]
        for r in ctx.edges.where("src != dst").collect()
    }
    # our directed graph holds both directions; the reference emits
    # only its own smaller-id direction — every ref edge must exist in
    # ours with an identical weight
    assert set(ref_w) <= set(our_w)
    assert len(ref_w) * 2 == len(our_w)
    for k, w in ref_w.items():
        assert abs(our_w[k] - w) <= 1e-9 * max(1.0, abs(w)), (k, w, our_w[k])


def test_wep_exact_edge_parity(spark, reference, ref_pipeline, our_pipeline):
    """WEP (global mean threshold) on cora: exact retained-edge parity —
    fully deterministic in both engines."""
    ref = reference
    sc = spark.sparkContext
    block_index = sc.broadcast(
        ref_pipeline["blocks_after_filtering"]
        .map(lambda b: (b.block_id, b.profiles))
        .collectAsMap()
    )
    pbsi = sc.broadcast(
        ref_pipeline["profile_blocks_filtered"]
        .map(lambda pb: (pb.profile_id, len(pb.blocks)))
        .collectAsMap()
    )
    results = ref.WEP.wep(
        ref_pipeline["profile_blocks_filtered"],
        block_index,
        ref_pipeline["max_profile_id"],
        weight_type=ref.WeightTypes.CBS,
        profile_blocks_size_index=pbsi,
    )
    rid = _ref_id_map(ref_pipeline)
    ref_pairs = {
        tuple(sorted((rid[p1], rid[p2])))
        for p1, p2, _ in results.flatMap(lambda x: x[2]).collect()
    }

    from sparker_spark.metablocking.pruning_utils import WeightTypes
    from sparker_spark.metablocking.weights import EdgeWeighting
    from sparker_spark.metablocking.wep import WEP

    ctx = EdgeWeighting.weighted_edges(
        our_pipeline["rebuilt"], our_pipeline["pb_filtered"], WeightTypes.CBS
    )
    oid = _our_id_map(our_pipeline)
    our_pairs = {
        tuple(sorted((oid[r["p1"]], oid[r["p2"]])))
        for r in WEP.prune(ctx).collect()
    }
    assert ref_pairs == our_pairs


def test_cep_parity_modulo_tie_identity(
    spark, reference, ref_pipeline, our_pipeline
):
    """CEP on cora: same K, identical kept-weight multiset, identical
    above-cut edge set. (Which edges fill the tie quota at the cut
    weight is dict-order-dependent in the reference — SURVEY §7.2 —
    so tie membership itself is not comparable.)"""
    ref = reference
    sc = spark.sparkContext
    block_index = sc.broadcast(
        ref_pipeline["blocks_after_filtering"]
        .map(lambda b: (b.block_id, b.profiles))
        .collectAsMap()
    )
    pbsi = sc.broadcast(
        ref_pipeline["profile_blocks_filtered"]
        .map(lambda pb: (pb.profile_id, len(pb.blocks)))
        .collectAsMap()
    )
    results = ref.CEP.cep(
        ref_pipeline["profile_blocks_filtered"],
        block_index,
        ref_pipeline["max_profile_id"],
        weight_type=ref.WeightTypes.CBS,
        profile_blocks_size_index=pbsi,
    )
    rid = _ref_id_map(ref_pipeline)
    ref_edges = [
        (tuple(sorted((rid[p1], rid[p2]))), w)
        for p1, p2, w in results.flatMap(lambda x: x[2]).collect()
    ]

    from sparker_spark.blocking.converters import Converters
    from sparker_spark.metablocking.cep import CEP
    from sparker_spark.metablocking.pruning_utils import WeightTypes
    from sparker_spark.metablocking.weights import EdgeWeighting

    ctx = EdgeWeighting.weighted_edges(
        our_pipeline["rebuilt"], our_pipeline["pb_filtered"], WeightTypes.CBS
    )
    k = CEP.num_edges_to_keep(our_pipeline["rebuilt"])
    oid = _our_id_map(our_pipeline)
    our_edges = [
        (tuple(sorted((oid[r["p1"]], oid[r["p2"]]))), r["weight"])
        for r in CEP.prune(ctx, k).collect()
    ]
    assert len(ref_edges) == len(our_edges)
    assert sorted(w for _, w in ref_edges) == sorted(w for _, w in our_edges)
    cut = min(w for _, w in ref_edges)
    assert {p for p, w in ref_edges if w > cut} == {
        p for p, w in our_edges if w > cut
    }
