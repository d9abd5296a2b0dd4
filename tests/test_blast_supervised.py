"""Tests for BLAST attribute clustering (M5) and supervised
meta-blocking (M6), including feature parity vs the reference on cora."""

import json
import os
import pickle
import random
import subprocess
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparker_spark.attribute_clustering import (
    DEFAULT_CLUSTER_NAME,
    AttributeClustering,
    SignatureTable,
    band_chunks,
    get_hashes_bands,
)
from sparker_spark.blocking.blockers import Blocking
from sparker_spark.feature_generator import FeatureGenerator
from sparker_spark.filters import BlockFiltering, BlockPurging
from sparker_spark.supervised import SupervisedMB
from sparker_spark.wrappers import CSVWrapper, DataFrameWrapper

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORA = "/root/reference/python/datasets/dirty/cora/cora.csv"
# the reference checkout (library and cora); the other tests here
# need neither
needs_reference = pytest.mark.skipif(
    not os.path.exists(CORA), reason="reference checkout not present"
)


@needs_reference
def test_get_hashes_bands():
    # reference get_num_bands parity: decrement from n, return b+1
    sys.path.insert(0, "/root/reference/python")
    from sparker.attribute_clustering import AttributeClustering as RefAC

    for n, t in [(128, 0.5), (128, 0.99), (64, 0.4), (32, 0.5), (16, 0.8)]:
        assert get_hashes_bands(n, t) == RefAC.get_num_bands(t, n), (n, t)
        rows = RefAC.get_num_rows(t, n)
        chunks = band_chunks(n, t)
        # chunking == the reference's sliding(signature, rows) split
        assert [length for _, length in chunks] == [
            len(c) for c in RefAC.sliding(list(range(n)), rows)
        ], (n, t)
    sys.path.remove("/root/reference/python")


def _two_sources(spark, reverse=False):
    a = spark.createDataFrame(
        [
            ("1", "john smith", "acme corp", "1999"),
            ("2", "jane doe", "globex inc", "2004"),
        ],
        ["id", "fullname", "company", "year"],
    )
    b = spark.createDataFrame(
        [
            ("x", "john smith", "acme corp", "1999"),
            ("y", "jane doe", "globex inc", "2004"),
        ],
        ["id", "name", "employer", "date"],
    )
    pa = DataFrameWrapper.load_profiles(a, real_id_field="id", source_id=0)
    pb = DataFrameWrapper.load_profiles(
        b, real_id_field="id", source_id=1, start_id_from=2
    )
    return pb.unionByName(pa).repartition(3) if reverse else pa.unionByName(pb)


def test_attribute_clustering_two_sources(spark):
    clusters = AttributeClustering.cluster_similar_attributes(
        _two_sources(spark), num_hashes=64, target_threshold=0.4
    )
    # identical token distributions cluster across sources; ids are
    # canonical (smallest member key first), the default cluster last
    assert [c["keys"] for c in clusters] == [
        ["0_company", "1_employer"],
        ["0_fullname", "1_name"],
        ["0_year", "1_date"],
        [],
    ]
    assert [c["cluster_id"] for c in clusters] == [0, 1, 2, 3]
    assert clusters[-1]["name"] == DEFAULT_CLUSTER_NAME
    for c in clusters[:-1]:
        assert c["entropy"] > 0


# hand-built signatures, 8 hashes in 4 bands of 2 (t = 0.6)
HAND_SIGS = {
    "0_a": [1, 1, 10, 11, 12, 13, 14, 15],
    "0_b": [1, 1, 10, 11, 12, 13, 14, 15],  # 0_a's twin, same source
    "0_c": [5, 5, 6, 6, 30, 31, 32, 33],
    "0_d": [5, 5, 60, 61, 62, 63, 64, 65],
    "1_w": [90, 91, 92, 93, 94, 95, 96, 97],  # shares no band
    "1_x": [1, 1, 20, 21, 22, 23, 24, 25],  # band 0 only, with 0_a/0_b
    "1_y": [5, 5, 6, 6, 40, 41, 42, 43],
    "1_z": [5, 5, 6, 6, 50, 51, 52, 53],  # ties 1_y as 0_c's neighbor
}


def _hand_table():
    keys = sorted(HAND_SIGS)
    return SignatureTable(
        keys,
        np.array([HAND_SIGS[k] for k in keys], dtype=np.int64),
        [float(i) for i in range(len(keys))],
        [8.0] * len(keys),
    )


def test_driver_kernel_on_hand_built_table():
    assert band_chunks(8, 0.6) == [(0, 2), (2, 2), (4, 2), (6, 2)]
    table = _hand_table()
    edges = AttributeClustering.similarity_edges(table, 0.6)
    # one shared band is enough; 0_a/0_b and 1_y/1_z are same-source
    assert edges == [
        ("0_a", "1_x", 0.25),
        ("0_b", "1_x", 0.25),
        ("0_c", "1_y", 0.5),
        ("0_c", "1_z", 0.5),
        ("0_d", "1_y", 0.25),
        ("0_d", "1_z", 0.25),
    ]
    top = AttributeClustering.top_edges(edges)
    # ties are kept both ways; 1_y and 1_z drop their 0.25 edge to 0_d
    assert sorted(top) == sorted(
        edges + [("1_x", "0_a", 0.25), ("1_x", "0_b", 0.25), ("1_y", "0_c", 0.5), ("1_z", "0_c", 0.5)]
    )
    clusters = AttributeClustering.clusters_from_table(table, 0.6)
    assert clusters == [
        {"cluster_id": 0, "keys": ["0_a", "0_b", "1_x"], "entropy": (0 + 1 + 5) / 3},
        {"cluster_id": 1, "keys": ["0_c", "0_d", "1_y", "1_z"], "entropy": (2 + 3 + 6 + 7) / 4},
        {"cluster_id": 2, "keys": ["1_w"], "entropy": 4.0, "name": DEFAULT_CLUSTER_NAME},
    ]
    normalized = AttributeClustering.clusters_from_table(table, 0.6, normalize_entropy=True)
    assert normalized[2]["entropy"] == 0.5
    unweighted = AttributeClustering.clusters_from_table(table, 0.6, compute_entropy=False)
    assert {c["entropy"] for c in unweighted} == {1.0}


def test_driver_kernel_on_empty_table():
    empty = SignatureTable([], np.zeros((0, 8), dtype=np.int64), [], [])
    assert AttributeClustering.clusters_from_table(empty, 0.6) == [
        {"cluster_id": 0, "keys": [], "entropy": 1.0, "name": DEFAULT_CLUSTER_NAME}
    ]


KERNEL_IN_SUBPROCESS = """
import json, pickle, sys
from sparker_spark.attribute_clustering import AttributeClustering
table = pickle.load(sys.stdin.buffer)
print(json.dumps(AttributeClustering.clusters_from_table(table, 0.4)))
"""


def test_cluster_list_is_deterministic(spark):
    """Row order and PYTHONHASHSEED leave the cluster list, ids
    included, unchanged."""
    forward = AttributeClustering.cluster_similar_attributes(
        _two_sources(spark), num_hashes=64, target_threshold=0.4
    )
    table = AttributeClustering.signature_table(
        _two_sources(spark, reverse=True), num_hashes=64
    )
    assert AttributeClustering.clusters_from_table(table, 0.4) == forward
    for hash_seed in ("1", "2"):
        out = subprocess.run(
            [sys.executable, "-c", KERNEL_IN_SUBPROCESS],
            input=pickle.dumps(table),
            capture_output=True,
            check=True,
            cwd=REPO_ROOT,
            env={**os.environ, "PYTHONHASHSEED": hash_seed},
        )
        assert json.loads(out.stdout) == forward


def test_cluster_similar_attributes_job_count(spark):
    """One aggregate, one collect: the clustering's own jobs, counted
    by job group over settled profiles, are the aggregate's two shuffle
    stages and the collect (the DataFrame chain ran 11)."""
    sc = spark.sparkContext
    loaded = _two_sources(spark)
    profiles = spark.createDataFrame(loaded.collect(), loaded.schema)
    group = "test_blast_supervised.cluster_similar_attributes"
    sc.setJobGroup(group, group)
    try:
        AttributeClustering.cluster_similar_attributes(
            profiles, num_hashes=64, target_threshold=0.4
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3


def test_blast_cluster_blocking(spark):
    a = spark.createDataFrame([("1", "alpha beta")], ["id", "fullname"])
    b = spark.createDataFrame([("x", "alpha beta")], ["id", "name"])
    pa = DataFrameWrapper.load_profiles(a, real_id_field="id", source_id=0)
    pb = DataFrameWrapper.load_profiles(
        b, real_id_field="id", source_id=1, start_id_from=1
    )
    profiles = pa.unionByName(pb)
    clusters = [
        {"cluster_id": 0, "keys": ["0_fullname", "1_name"], "entropy": 2.5},
    ]
    coll = Blocking.create_blocks_clusters(profiles, clusters, clean=True)
    meta = {r["key"]: r for r in coll.meta.collect()}
    assert set(meta) == {"alpha_0", "beta_0"}
    for r in meta.values():
        assert r["entropy"] == pytest.approx(2.5)
        assert r["cluster_id"] == 0


@pytest.fixture(scope="module")
def cora_features(spark):
    profiles = CSVWrapper.load_profiles(
        spark, CORA, header=True, real_id_field="id"
    ).cache()
    blocks = Blocking.create_blocks(profiles)
    # GSMB notebook stage params: purge 1.025, filter 0.8
    purged = BlockPurging.block_purging(blocks, 1.025)
    _, pbf, rebuilt = BlockFiltering.block_filtering_quick(purged, 0.8)
    id_map = profiles.select("profile_id", "original_id").distinct()
    ours = FeatureGenerator.generate_features(rebuilt, id_map=id_map).cache()
    return {"profiles": profiles, "rebuilt": rebuilt, "ours": ours}


@needs_reference
def test_feature_generator_parity_cora(spark, cora_features):
    """Exact-shape + numeric parity of all 9 features vs the reference
    implementation on cora."""
    sys.path.insert(0, "/root/reference/python")
    import sparker as ref

    rprofiles = ref.CSVWrapper.load_profiles(CORA, header=True, real_id_field="id")
    rblocks = ref.Blocking.create_blocks(rprofiles)
    rpurged = ref.BlockPurging.block_purging(rblocks, 1.025)
    _, rpbf, rbaf = ref.BlockFiltering.block_filtering_quick(rpurged, 0.8)
    rfeat = ref.FeatureGenerator.generate_features(rprofiles, rbaf).toPandas()
    sys.path.remove("/root/reference/python")

    ours = cora_features["ours"].toPandas()
    assert len(ours) == len(rfeat)

    # pair orientation differs (reference: input-order ids; ours:
    # original-id order) — compare orientation-insensitively and swap
    # the per-side numComp features when flipped
    def key(df):
        return {
            frozenset((r.p1, r.p2)): r
            for r in df.itertuples(index=False)
        }
    rmap = key(rfeat)
    omap = key(ours)
    assert set(rmap) == set(omap)
    import math

    checked = 0
    single = 0
    for k in rmap:
        r, o = rmap[k], omap[k]
        if (r.p1, r.p2) == (o.p1, o.p2):
            assert (o.numCompP1, o.numCompP2) == (r.numCompP1, r.numCompP2), k
        else:
            assert (o.numCompP1, o.numCompP2) == (r.numCompP2, r.numCompP1), k
        # cfibf/js/aejs must match always. raccb/rs (and their
        # normalized forms nrs/wjs) match only for single-shared-block
        # pairs: the reference accumulates them from the FIRST shared
        # block only (feature_generator.py:148-151 — the += is guarded
        # by cbs==1) with nondeterministic set order, while this engine
        # implements the paper's sum over all common blocks.
        for f in ["cfibf", "js", "aejs"]:
            rv, ov = getattr(r, f), getattr(o, f)
            assert math.isclose(rv, ov, rel_tol=1e-5, abs_tol=1e-7), (k, f, rv, ov)
        if r.js > 0 and int(round(1.0 / r.js)) >= 0:
            pass
        if o.raccb <= r.raccb + 1e-7:
            # single shared block: exact match expected
            for f in ["raccb", "rs", "nrs", "wjs"]:
                rv, ov = getattr(r, f), getattr(o, f)
                assert math.isclose(rv, ov, rel_tol=1e-5, abs_tol=1e-7), (k, f, rv, ov)
            single += 1
        checked += 1
    assert checked > 1000
    assert single > 300  # plenty of exact raccb/rs checks ran


def test_supervised_pruners(spark):
    rows = [
        (1, 2, 0.9, 1),
        (1, 3, 0.8, 0),
        (2, 3, 0.6, 1),
        (2, 4, 0.4, 0),  # below 0.5, always dropped
        (3, 4, 0.55, 0),
    ]
    edges = spark.createDataFrame(rows, ["p1", "p2", "p_match", "is_match"])

    assert {(r["p1"], r["p2"]) for r in SupervisedMB.bcl(edges).collect()} == {
        (1, 2),
        (2, 3),
    }

    # wep: mean of >=0.5 subset = (0.9+0.8+0.6+0.55)/4 = 0.7125
    kept = {(r["p1"], r["p2"]) for r in SupervisedMB.wep(edges).collect()}
    assert kept == {(1, 2), (1, 3)}

    # cep with total block size 4 -> k=2 -> top-2 by p_match
    kept = {(r["p1"], r["p2"]) for r in SupervisedMB.cep(edges, 4).collect()}
    assert kept == {(1, 2), (1, 3)}

    # blast: max per p1/p2 sides
    kept = {(r["p1"], r["p2"]) for r in SupervisedMB.blast(edges).collect()}
    # (1,2): t = .35*(0.9+0.9)=0.63 -> keep; (2,4) dropped pre-threshold
    assert (1, 2) in kept and (2, 4) not in kept

    # cnp/rcnp with k=1: block_size/n_entities <= 1 -> k = 2
    kept_or = {
        (r["p1"], r["p2"])
        for r in SupervisedMB.cnp(edges, 4, 4).collect()
    }
    kept_and = {
        (r["p1"], r["p2"])
        for r in SupervisedMB.rcnp(edges, 4, 4).collect()
    }
    assert kept_and <= kept_or


@pytest.fixture(scope="module")
def labelled(spark):
    """120 labelled edges whose classes overlap on three features, so
    the fitted weights are non-trivial; some features are null or NaN,
    which the classifier reads as 0."""
    rnd = random.Random(3)
    rows = []
    for i in range(120):
        y = i % 3 == 0
        f = [rnd.gauss(1.0 if y else 0.0, 1.0) for _ in range(3)]
        if i % 17 == 0:
            f[1] = None
        if i % 23 == 0:
            f[2] = float("nan")
        rows.append((i, i + 1000, int(y), *f))
    return spark.createDataFrame(
        rows, "p1 long, p2 long, is_match int, a double, b double, c double"
    )


def test_score_matches_mllib_probability(labelled):
    """The literal scorer is the fitted model: p_match equals
    ``model.transform``'s positive-class probability."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.functions import vector_to_array

    fcols = ["a", "b", "c"]
    model = SupervisedMB.train_lr(
        labelled, feature_cols=fcols, samples_per_class=30, max_iter=100
    )
    assert any(w != 0 for w in model.coefficients)
    scored = SupervisedMB.score(labelled, model, feature_cols=fcols)
    assert scored.columns == ["p1", "p2", "p_match", "is_match"]
    ours = {(r.p1, r.p2): r.p_match for r in scored.collect()}
    va = VectorAssembler(inputCols=fcols, outputCol="features")
    reference = model.transform(va.transform(labelled.fillna(0, subset=fcols)))
    theirs = {
        (r.p1, r.p2): r.p
        for r in reference.select(
            "p1", "p2", vector_to_array("probability")[1].alias("p")
        ).collect()
    }
    assert len(ours) == 120 and ours.keys() == theirs.keys()
    assert max(abs(ours[k] - theirs[k]) for k in theirs) <= 1e-12


def test_train_lr_needs_both_classes(labelled):
    one_class = labelled.withColumn("is_match", F.lit(0))
    with pytest.raises(ValueError, match="both classes"):
        SupervisedMB.train_lr(one_class, feature_cols=["a", "b", "c"])


@needs_reference
def test_supervised_pipeline_cora(spark, cora_features):
    """End-to-end GSMB: features -> logistic regression -> pruning ->
    PC/PQ sanity (SURVEY §3.3)."""
    from sparker_spark.blocking.converters import Converters
    from sparker_spark.evaluation import Evaluation
    from sparker_spark.wrappers import CSVWrapper as CW

    gt_raw = CW.load_groundtruth(
        spark, "/root/reference/python/datasets/dirty/cora/groundtruth.csv"
    )
    gt = Converters.convert_groundtruth(gt_raw, cora_features["profiles"]).cache()

    id_map = cora_features["profiles"].select("profile_id", "original_id").distinct()
    feats = FeatureGenerator.generate_features(
        cora_features["rebuilt"],
        groundtruth=gt.join(
            id_map.select(F.col("profile_id").alias("p1")), "p1", "left_semi"
        ),
    )
    fcols = ["cfibf", "raccb", "js", "rs", "aejs", "nrs", "wjs"]
    raw = feats.cache()
    # public training glue (train_lr + score): the notebook's whole
    # classifier stage behind one call
    model = SupervisedMB.train_lr(
        raw, feature_cols=fcols, samples_per_class=20, max_iter=100
    )
    scored = SupervisedMB.score(raw, model, feature_cols=fcols)
    assert set(scored.columns) == {"p1", "p2", "p_match", "is_match"}
    pruned = SupervisedMB.blast(scored)
    stats = Evaluation.get_stats(pruned, gt)
    # sanity: the classifier-guided pruning keeps decent recall with far
    # fewer comparisons than the full pair set
    assert stats.num_edges < feats.count()
    assert stats.pc > 0.5
