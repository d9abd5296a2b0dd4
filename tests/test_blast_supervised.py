"""Tests for BLAST attribute clustering (M5) and supervised
meta-blocking (M6), including feature parity vs the reference on cora."""

import os
import random
import sys

import pytest
from pyspark.sql import functions as F

from sparker_spark.attribute_clustering import (
    AttributeClustering,
    band_chunks,
    get_hashes_bands,
)
from sparker_spark.blocking.blockers import Blocking
from sparker_spark.feature_generator import FeatureGenerator
from sparker_spark.filters import BlockFiltering, BlockPurging
from sparker_spark.supervised import SupervisedMB
from sparker_spark.wrappers import CSVWrapper, DataFrameWrapper

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


def test_attribute_clustering_two_sources(spark):
    a = spark.createDataFrame(
        [("1", "john smith", "acme corp"), ("2", "jane doe", "globex inc")],
        ["id", "fullname", "company"],
    )
    b = spark.createDataFrame(
        [("x", "john smith", "acme corp"), ("y", "jane doe", "globex inc")],
        ["id", "name", "employer"],
    )
    pa = DataFrameWrapper.load_profiles(a, real_id_field="id", source_id=0)
    pb = DataFrameWrapper.load_profiles(
        b, real_id_field="id", source_id=1, start_id_from=2
    )
    profiles = pa.unionByName(pb)
    clusters = AttributeClustering.cluster_similar_attributes(
        profiles, num_hashes=64, target_threshold=0.4
    )
    merged = {frozenset(c["keys"]) for c in clusters if len(c["keys"]) == 2}
    # identical token distributions must cluster across sources
    assert frozenset({"0_fullname", "1_name"}) in merged
    assert frozenset({"0_company", "1_employer"}) in merged
    for c in clusters:
        assert c["entropy"] > 0


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
