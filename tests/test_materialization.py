"""One way to materialize: every pin in the library is a lazy
``localCheckpoint`` that the frame reading it owns.

A pin is written by the first action that reads it and freed with the
frames that reference it, so it never enters the session's
CacheManager. The static test keeps ``.cache()``, ``.persist()``,
``.unpersist()`` and eager checkpoints out of the package (the
round-numbered ``entry*.py`` query registry is outside its scope); the
facade test runs each public entry point end to end and checks that
the CacheManager is still empty afterwards.
"""

import ast
import os

import pytest

from sparker_spark.blocking.blockers import Blocking
from sparker_spark.blocking.converters import Converters
from sparker_spark.blocking.strategies import BlockingKeysStrategies
from sparker_spark.curate import curate
from sparker_spark.dedupe import dedup_corpus, dedupe
from sparker_spark.graph import ConnectedComponents, PageRank, Triangles
from sparker_spark.llm.dedup import Dedup
from sparker_spark.pretrain import prepare_training_data
from sparker_spark.progressive import GSPSN, PPS
from sparker_spark.wrappers import DataFrameWrapper

PACKAGE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "sparker_spark")
FORBIDDEN_CALLS = {"cache", "persist", "unpersist"}


def _library_files():
    for root, _, files in os.walk(PACKAGE):
        for f in sorted(files):
            if f.endswith(".py") and not f.startswith("entry"):
                yield os.path.join(root, f)


def _violations(src):
    tree = ast.parse(src)
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call) or not isinstance(node.func, ast.Attribute):
            continue
        name = node.func.attr
        if name in FORBIDDEN_CALLS:
            yield node.lineno, f".{name}()"
        elif name == "localCheckpoint":
            eager = [k.value for k in node.keywords if k.arg == "eager"]
            eager += node.args[:1]
            # localCheckpoint() defaults to eager=True
            if not eager or not (isinstance(eager[0], ast.Constant) and eager[0].value is False):
                yield node.lineno, "localCheckpoint without eager=False"


def test_library_has_one_way_to_materialize():
    found = [
        f"{os.path.relpath(path, PACKAGE)}:{line}: {what}"
        for path in _library_files()
        for line, what in _violations(open(path, encoding="utf-8").read())
    ]
    assert not found, "\n".join(found)


def test_the_static_check_sees_each_forbidden_form():
    src = (
        "a.cache()\nb.persist()\nc.unpersist()\n"
        "d.localCheckpoint()\ne.localCheckpoint(eager=True)\nf.localCheckpoint(True)\n"
        "g.localCheckpoint(eager=False)\n"
    )
    assert [line for line, _ in _violations(src)] == [1, 2, 3, 4, 5, 6]


BASE = "the quick brown fox jumps over the lazy dog near the river bank"
ALT = "completely different content about spark dataframes and shuffle partitions"


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, BASE),
        (2, BASE),
        (3, BASE + " today"),
        (4, ALT),
        (5, ALT + " with one extra tail clause appended here"),
        (6, "tiny"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.fixture(scope="module")
def embeddings(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.99, 0.01, 0.0]),
        (3, [0.98, 0.0, 0.02]),
        (4, [0.0, 1.0, 0.0]),
        (5, [0.01, 0.99, 0.0]),
        (6, [0.0, 0.0, 1.0]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


@pytest.fixture(scope="module")
def profiles(spark):
    rows = [("p0", "t1 t2 t5"), ("p1", "t1 t2"), ("p2", "t1 t3"), ("p3", "t3 t4"), ("p4", "t4 t5")]
    records = spark.createDataFrame(rows, ["id", "text"])
    return DataFrameWrapper.load_profiles(records, real_id_field="id")


def _pps(profiles):
    blocks = Blocking.create_blocks(profiles)
    pps = PPS(blocks, Converters.blocks_to_profile_blocks(blocks), k=5, mini_batch=2)
    pps.initialize()
    return list(pps)


def _gspsn(profiles):
    g = GSPSN(BlockingKeysStrategies.token_blocking(profiles), max_window_size=2)
    g.initialize()
    out = [g.get_next()]
    while out[-1] != (-1, -1, -1):
        out.append(g.get_next())
    return out


def _facades(spark, corpus, embeddings, profiles, monkeypatch):
    """name -> a call returning a DataFrame (or the rows a driver-pull
    iterator emitted)."""
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (10, 11)], "p1 long, p2 long"
    )
    records = spark.createDataFrame(
        [("a1", "john smith"), ("a2", "jon smith"), ("a3", "mary jones")], ["rid", "name"]
    )

    def cc_distributed():
        monkeypatch.setattr(ConnectedComponents, "DRIVER_UNIONFIND_MAX", -1)
        return ConnectedComponents.canonical_groups(edges)

    return {
        "dedup_corpus": lambda: dedup_corpus(
            corpus, methods=["exact", "minhash", "simhash", "semantic"], embeddings=embeddings
        ),
        "minhash_lsh_pairs": lambda: Dedup.minhash_lsh_pairs(corpus),
        "simhash_pairs": lambda: Dedup.simhash_pairs(corpus),
        "embedding_srp_pairs": lambda: Dedup.embedding_srp_pairs(embeddings),
        "cc_driver": lambda: ConnectedComponents.canonical_groups(edges),
        "cc_distributed": cc_distributed,
        "pagerank": lambda: PageRank.run(edges),
        "triangles": lambda: Triangles.enumerate(edges),
        "pps": lambda: _pps(profiles),
        "gspsn": lambda: _gspsn(profiles),
        "dedupe": lambda: dedupe(records, "rid", purge_smooth=None),
        "curate": lambda: curate(corpus, jaccard_threshold=0.5, min_quality=0.0),
        "prepare_training_data": lambda: prepare_training_data(
            corpus, seq_len=16, jaccard_threshold=0.5
        ),
    }


FACADES = [
    "cc_distributed",
    "cc_driver",
    "curate",
    "dedup_corpus",
    "dedupe",
    "embedding_srp_pairs",
    "gspsn",
    "minhash_lsh_pairs",
    "pagerank",
    "pps",
    "prepare_training_data",
    "simhash_pairs",
    "triangles",
]


@pytest.mark.parametrize("facade", FACADES)
def test_facade_leaves_no_cached_relation(
    spark, corpus, embeddings, profiles, monkeypatch, facade
):
    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    out = _facades(spark, corpus, embeddings, profiles, monkeypatch)[facade]()
    if not isinstance(out, list):
        out.write.format("noop").mode("overwrite").save()
    assert cm.isEmpty()
