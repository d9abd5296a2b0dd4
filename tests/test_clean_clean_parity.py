"""Clean-clean (two-source) end-to-end parity vs the reference library
on the bundled DblpAcm dataset (JSON sources, groundtruth), notebook
params (purge 1.025, filter 0.8 — examples/Clean-Clean datasets.ipynb).

Exercises the surfaces the cora (dirty) parity file does not: JSON
wrappers, multi-source id spaces / separators, cross-source-only
comparisons, groundtruth conversion, PC (recall) accounting.
"""

import os
import sys

import pytest

REFERENCE_PY = "/root/reference/python"
D1 = "/root/reference/python/datasets/clean/DblpAcm/dataset1.json"
D2 = "/root/reference/python/datasets/clean/DblpAcm/dataset2.json"
GT = "/root/reference/python/datasets/clean/DblpAcm/groundtruth.json"

if not os.path.isdir(REFERENCE_PY):
    pytest.skip("reference checkout not present", allow_module_level=True)


@pytest.fixture(scope="module")
def reference(spark):
    sys.path.insert(0, REFERENCE_PY)
    import sparker as ref  # noqa

    yield ref
    sys.path.remove(REFERENCE_PY)


@pytest.fixture(scope="module")
def ref_run(spark, reference):
    ref = reference
    sc = spark.sparkContext
    p1 = ref.JSONWrapper.load_profiles(D1, real_id_field="realProfileID", source_id=0)
    sep = p1.map(lambda p: p.profile_id).max()
    p2 = ref.JSONWrapper.load_profiles(
        D2, start_id_from=sep + 1, real_id_field="realProfileID", source_id=1
    )
    max_id = p2.map(lambda p: p.profile_id).max()
    profiles = p1.union(p2)

    gt = ref.JSONWrapper.load_groundtruth(GT, "id1", "id2")
    new_gt = ref.Converters.convert_groundtruth(gt, p1, p2)

    blocks = ref.Blocking.create_blocks(profiles, separator_ids=[sep])
    purged = ref.BlockPurging.block_purging(blocks, 1.025)
    (pb, pbf, baf) = ref.BlockFiltering.block_filtering_quick(
        purged, 0.8, separator_ids=[sep]
    )
    block_index = sc.broadcast(
        baf.map(lambda b: (b.block_id, b.profiles)).collectAsMap()
    )
    pbsi = sc.broadcast(
        pbf.map(lambda x: (x.profile_id, len(x.blocks))).collectAsMap()
    )
    results = ref.WNP.wnp(
        pbf,
        block_index,
        max_id,
        separator_ids=[sep],
        weight_type=ref.WeightTypes.CBS,
        threshold_type=ref.ThresholdTypes.AVG,
        comparison_type=ref.ComparisonTypes.OR,
        profile_blocks_size_index=pbsi,
    )
    edges = results.flatMap(lambda x: x[2]).collect()
    rid = dict(
        profiles.map(
            lambda p: (p.profile_id, (p.source_id, str(p.original_id)))
        ).collect()
    )
    return {
        "blocks_n": blocks.count(),
        "purged_n": purged.count(),
        "gt": {tuple(sorted(t)) for t in new_gt},
        "rid": rid,
        "edges": edges,
        "sep": sep,
    }


@pytest.fixture(scope="module")
def our_run(spark):
    from sparker_spark.blocking.blockers import Blocking
    from sparker_spark.blocking.converters import Converters
    from sparker_spark.filters import BlockFiltering, BlockPurging
    from sparker_spark.metablocking.pruning_utils import (
        ComparisonTypes,
        ThresholdTypes,
        WeightTypes,
    )
    from sparker_spark.metablocking.wnp import WNP
    from sparker_spark.wrappers import JSONWrapper

    o1 = JSONWrapper.load_profiles(
        spark, D1, real_id_field="realProfileID", source_id=0
    ).cache()
    n1 = o1.select("profile_id").distinct().count()
    o2 = JSONWrapper.load_profiles(
        spark, D2, start_id_from=n1, real_id_field="realProfileID", source_id=1
    ).cache()
    profiles = o1.unionByName(o2).cache()

    gt_raw = JSONWrapper.load_groundtruth(spark, GT, "id1", "id2")
    gt = Converters.convert_groundtruth(gt_raw, o1, o2)

    blocks = Blocking.create_blocks(profiles, clean=True)
    purged = BlockPurging.block_purging(blocks, 1.025)
    pb, pbf, rebuilt = BlockFiltering.block_filtering_quick(purged, 0.8)
    pbf = pbf.cache()
    edges = WNP.wnp(
        rebuilt,
        pbf,
        threshold_type=ThresholdTypes.AVG,
        weight_type=WeightTypes.CBS,
        comparison_type=ComparisonTypes.OR,
    )
    oid = {
        r["profile_id"]: (r["source_id"], str(r["original_id"]))
        for r in profiles.select("profile_id", "source_id", "original_id")
        .distinct()
        .collect()
    }
    return {
        "blocks": blocks,
        "purged": purged,
        "gt": gt,
        "edges": edges,
        "oid": oid,
    }


def test_clean_block_counts_and_purging(ref_run, our_run):
    assert ref_run["blocks_n"] == our_run["blocks"].meta.count()
    assert ref_run["purged_n"] == our_run["purged"].meta.count()


def test_clean_groundtruth_conversion(ref_run, our_run):
    our_gt_n = our_run["gt"].count()
    assert len(ref_run["gt"]) == our_gt_n


def test_clean_wnp_cbs_exact_edge_parity(ref_run, our_run):
    rid = ref_run["rid"]
    ref_pairs = {
        tuple(sorted((rid[p1], rid[p2]))) for p1, p2, _ in ref_run["edges"]
    }
    oid = our_run["oid"]
    our_pairs = {
        tuple(sorted((oid[r["p1"]], oid[r["p2"]])))
        for r in our_run["edges"].collect()
    }
    assert len(ref_pairs) == len(our_pairs)
    assert ref_pairs == our_pairs


def test_clean_pc_matches_reference(spark, ref_run, our_run):
    """PC (recall vs groundtruth) identical between engines."""
    rid = ref_run["rid"]
    ref_edge_pairs = {
        tuple(sorted((p1, p2))) for p1, p2, _ in ref_run["edges"]
    }
    ref_hits = len(ref_edge_pairs & ref_run["gt"])

    from sparker_spark.evaluation import Evaluation

    stats = Evaluation.get_stats(
        our_run["edges"].select("p1", "p2"), our_run["gt"]
    )
    assert stats.num_matches == ref_hits
    assert stats.num_gt == len(ref_run["gt"])
