"""Property-based tests (hypothesis) for the distributed ranking
primitives — the building blocks every "exact global order without a
single-partition window" claim rests on (sparker_spark/ranking.py).

Each property compares against the trivially-correct single-machine
formulation on randomized inputs, including adversarial duplicates and
skew that hand-written fixtures tend to miss. Each also checks that
the primitive's result owns its materialization: nothing is left in
the session's CacheManager once the result is consumed.
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sparker_spark.ranking import global_cumsum, global_rank, global_topk

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=-50, max_value=50),
        st.integers(min_value=0, max_value=1_000_000),
    ),
    min_size=0,
    max_size=120,
)

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@pytest.fixture(autouse=True)
def _empty_cache(spark):
    spark.catalog.clearCache()


def _cache_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_global_rank_matches_sorted_enumeration(spark, rows):
    # unique total order: dedupe on the full tuple
    rows = sorted(set(rows))
    df = spark.createDataFrame(rows, "a long, b long") if rows else (
        spark.createDataFrame([], "a long, b long")
    )
    ranked = global_rank(df, ["a", "b"], out="pos")
    got = {(r["a"], r["b"]): r["pos"] for r in ranked.collect()}
    assert _cache_empty(spark)
    want = {t: i for i, t in enumerate(rows)}
    assert got == want


@given(rows=ROWS, k=st.integers(min_value=0, max_value=150))
@settings(**_SETTINGS)
def test_global_topk_matches_sort_limit(spark, rows, k):
    rows = sorted(set(rows))
    df = spark.createDataFrame(rows, "a long, b long") if rows else (
        spark.createDataFrame([], "a long, b long")
    )
    # order: a DESC, b ASC — mixed directions exercise the range
    # partitioner's key construction
    out = global_topk(df, [("a", True), ("b", False)], k)
    got = sorted((r["a"], r["b"]) for r in out.collect())
    assert _cache_empty(spark)
    want = sorted(sorted(rows, key=lambda t: (-t[0], t[1]))[:k])
    assert got == want


@given(rows=ROWS, desc=st.booleans())
@settings(**_SETTINGS)
def test_global_cumsum_matches_running_total(spark, rows, desc):
    rows = sorted(set(rows))
    df = spark.createDataFrame(rows, "a long, b long") if rows else (
        spark.createDataFrame([], "a long, b long")
    )
    out = global_cumsum(df, ["a", "b"], value="b", out="cum", descending=desc)
    got = {(r["a"], r["b"]): r["cum"] for r in out.collect()}
    assert _cache_empty(spark)
    ordered = sorted(rows, reverse=desc)
    acc, want = 0, {}
    for a, b in ordered:
        acc += b
        want[(a, b)] = acc
    assert got == want


def test_global_topk_all_ties_single_value(spark):
    """Every row identical on the first key: the boundary partition
    must cut on the tiebreaker deterministically."""
    rows = [(7, i) for i in range(40)]
    df = spark.createDataFrame(rows, "a long, b long")
    out = global_topk(df, [("a", True), ("b", False)], 13)
    got = sorted((r["a"], r["b"]) for r in out.collect())
    assert _cache_empty(spark)
    assert got == [(7, i) for i in range(13)]


@pytest.mark.parametrize("k", [0, 1, 39, 40, 41, 10_000])
def test_global_topk_boundary_k(spark, k):
    rows = [(i % 5, i) for i in range(40)]
    df = spark.createDataFrame(rows, "a long, b long")
    out = global_topk(df, [("a", False), ("b", False)], k)
    got = sorted((r["a"], r["b"]) for r in out.collect())
    assert _cache_empty(spark)
    want = sorted(sorted(rows)[:k])
    assert got == want


def _physical_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_global_rank_reads_without_exchange(spark):
    """The local rank is stored with the checkpointed rows, so reading
    the ranked relation — here twice — is a scan of the checkpoint and
    a map lookup, with no exchange on the partition id."""
    df = spark.createDataFrame([(i % 7, i) for i in range(40)], "a long, b long")
    ranked = global_rank(df, ["a", "b"], out="pos")
    plan = _physical_plan(ranked.unionByName(ranked))
    assert plan.count("Scan ExistingRDD") == 2
    assert "Exchange" not in plan
    got = sorted((r["a"], r["b"], r["pos"]) for r in ranked.collect())
    assert [p for _, _, p in got] == list(range(40))
