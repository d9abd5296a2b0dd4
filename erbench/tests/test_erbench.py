"""Tests of the benchmark's own pieces; none of them starts Spark.

    python3 -m pytest erbench/tests -q
"""

import json
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import counters  # noqa: E402
import datagen  # noqa: E402
from spans import Span, self_times, subtree, union_length  # noqa: E402


@pytest.mark.parametrize("kind", ["dirty", "clean"])
def test_generator_is_a_function_of_the_seed(tmp_path, kind):
    def tables(seed, sub):
        paths = datagen.write(kind, seed, str(tmp_path / sub), 300)
        return {role: pq.read_table(p) for role, p in paths.items()}

    first, again, other = tables(5, "a"), tables(5, "b"), tables(6, "c")
    assert first.keys() == again.keys() == other.keys()
    for role in first:
        assert first[role].equals(again[role]), role
        assert not first[role].equals(other[role]), role


def test_every_benchmark_workload_has_an_input():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        listed = [w["name"] for w in json.load(fh)["workloads"]]
    assert set(listed) <= set(datagen.WORKLOADS)


def test_dirty_ground_truth_pairs_records_of_one_entity():
    profiles, gt = datagen.dirty(3, 500)
    ids = set(profiles.column("id").to_pylist())
    pairs = list(zip(gt.column("id1").to_pylist(), gt.column("id2").to_pylist()))
    assert len(ids) == profiles.num_rows
    assert all(a in ids and b in ids and a != b for a, b in pairs)
    assert len(set(pairs)) == len(pairs)
    # about 30 % of entities have 1 or 2 copies: 1 pair or 3 pairs each
    assert 0.3 * 500 * 1 <= len(pairs) <= 0.3 * 500 * 3


def test_clean_sources_rename_attributes_and_match_one_to_one():
    a, b, gt = datagen.clean(3, 400)
    assert a.column_names == ["id", "title", "authors", "venue", "year"]
    assert b.column_names == ["id", "name", "people", "conference", "date"]
    id1, id2 = gt.column("id1").to_pylist(), gt.column("id2").to_pylist()
    assert len(id1) == round(datagen.MATCH_FRACTION * 400)
    assert len(set(id1)) == len(id1) and len(set(id2)) == len(id2)
    assert set(id1) <= set(a.column("id").to_pylist())
    assert set(id2) <= set(b.column("id").to_pylist())


def test_join_columns_skips_dropped_cells():
    import numpy as np

    cells = np.array([["a", "b", "c"], ["d", "e", "f"]])
    keep = np.array([[True, False, True], [False, True, True]])
    assert datagen.join_columns(cells, keep, " ").tolist() == ["a c", "e f"]


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert union_length([], 0, 1) == 0
    assert union_length([(2, 3)], 0, 1) == 0


def test_self_time_subtracts_child_cover():
    spans = [
        Span("root", 0.0, 10.0, None),
        Span("a", 1.0, 4.0, 0),
        Span("b", 3.0, 6.0, 0),  # overlaps a: counted once for root
        Span("a.1", 1.5, 2.0, 1),
        Span("late", 9.0, 12.0, 0),  # runs past its parent: clipped
        Span("other root", 20.0, 21.0, None),
    ]
    got = self_times(spans)
    assert got == pytest.approx([10 - 5 - 1, 3 - 0.5, 3, 0.5, 3, 1])
    # on a tree of non-overlapping children self times add up to the wall
    flat = spans[:2] + [Span("b", 4.0, 6.0, 0), Span("a.1", 1.5, 2.0, 1)]
    assert sum(self_times(flat)) == pytest.approx(10.0)


def test_subtree_follows_parents():
    spans = [
        Span("pipeline", 0.0, 10.0, None),
        Span("a", 1.0, 4.0, 0),
        Span("a.1", 1.5, 2.0, 1),
        Span("evaluation", 11.0, 12.0, None),
        Span("b", 4.0, 6.0, 0),
        Span("branch", 13.0, 14.0, None),
    ]
    assert subtree(spans, 0) == [0, 1, 2, 4]
    assert subtree(spans, 3) == [3]
    assert sum(self_times(spans)[i] for i in subtree(spans, 0)) == pytest.approx(10.0)


def test_per_layer_names_match_benchmark_json():
    run = pytest.importorskip("run")  # imports pyspark, starts no session
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        listed = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
    assert run.layer_metrics() == listed


FIXTURE = {
    "jobs": [
        {"jobId": 0, "jobGroup": "w/x", "stageIds": [0], "status": "SUCCEEDED",
         "submissionTime": 1000, "completionTime": 1500},
        {"jobId": 1, "jobGroup": "w/x", "stageIds": [1, 2], "status": "SUCCEEDED",
         "submissionTime": 1600, "completionTime": 2000},
        {"jobId": 2, "jobGroup": "w/x", "stageIds": [2, 3], "status": "FAILED",
         "submissionTime": 2100, "completionTime": 2200},
        {"jobId": 3, "jobGroup": "w/y", "stageIds": [4], "status": "SUCCEEDED",
         "submissionTime": 1700, "completionTime": 1800},
        {"jobId": 4, "stageIds": [5], "status": "SUCCEEDED",
         "submissionTime": 1000, "completionTime": 1100},
        {"jobId": 5, "jobGroup": "w/x", "stageIds": [6], "status": "SUCCEEDED",
         "submissionTime": 9000, "completionTime": 9100},
    ],
    "stages": [
        {"stageId": 0, "attemptId": 0, "status": "COMPLETE", "numCompleteTasks": 4,
         "executorCpuTime": 2_000_000_000, "shuffleWriteBytes": 3_000_000,
         "diskBytesSpilled": 0, "jvmGcTime": 100},
        {"stageId": 1, "attemptId": 0, "status": "SKIPPED", "numCompleteTasks": 0,
         "executorCpuTime": 0, "shuffleWriteBytes": 0, "diskBytesSpilled": 0, "jvmGcTime": 0},
        {"stageId": 2, "attemptId": 0, "status": "FAILED", "numCompleteTasks": 1,
         "executorCpuTime": 500_000_000, "shuffleWriteBytes": 1_000_000,
         "diskBytesSpilled": 2_000_000, "jvmGcTime": 50},
        {"stageId": 2, "attemptId": 1, "status": "COMPLETE", "numCompleteTasks": 2,
         "executorCpuTime": 1_000_000_000, "shuffleWriteBytes": 0,
         "diskBytesSpilled": 0, "jvmGcTime": 0},
        {"stageId": 3, "attemptId": 0, "status": "COMPLETE", "numCompleteTasks": 1,
         "executorCpuTime": 250_000_000, "shuffleWriteBytes": 0,
         "diskBytesSpilled": 0, "jvmGcTime": 0},
        {"stageId": 4, "attemptId": 0, "status": "COMPLETE", "numCompleteTasks": 8,
         "executorCpuTime": 9_000_000_000, "shuffleWriteBytes": 9,
         "diskBytesSpilled": 9, "jvmGcTime": 9},
        {"stageId": 5, "attemptId": 0, "status": "COMPLETE", "numCompleteTasks": 8,
         "executorCpuTime": 9_000_000_000, "shuffleWriteBytes": 9,
         "diskBytesSpilled": 9, "jvmGcTime": 9},
        {"stageId": 6, "attemptId": 0, "status": "COMPLETE", "numCompleteTasks": 1,
         "executorCpuTime": 1_000_000_000, "shuffleWriteBytes": 0,
         "diskBytesSpilled": 0, "jvmGcTime": 0},
    ],
}


def test_counter_totals_on_canned_fixture():
    # jobs 0-2 of group w/x inside the window; job 5 is outside it; both
    # attempts of stage 2 count, and stage 2 once although two jobs list it
    c = counters.totals(FIXTURE, "w/x", 0.9, 2.5)
    assert (c.jobs, c.tasks) == (3, 8)
    assert c.cpu_s == pytest.approx(3.75)
    assert c.shuffle_mb == pytest.approx(4.0)
    assert c.spill_mb == pytest.approx(2.0)
    assert c.gc_s == pytest.approx(0.15)


def test_job_intervals_skip_unsubmitted_jobs():
    snap = {"jobs": FIXTURE["jobs"][:2] + [{"jobId": 9, "stageIds": [], "status": "UNKNOWN"}]}
    assert counters.job_intervals(snap) == [(1.0, 1.5), (1.6, 2.0)]


def test_counter_totals_without_window_and_unknown_group():
    assert counters.totals(FIXTURE, "w/x").jobs == 4
    assert counters.totals(FIXTURE, "w/x").cpu_s == pytest.approx(4.75)
    assert counters.totals(FIXTURE, "w/none").jobs == 0
