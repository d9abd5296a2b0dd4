"""Production IVF sizing never takes the salted few-cell join branch
of SemanticDedup.pairs; the pinned 16-cell gate fixture does. Pure
arithmetic, no Spark session."""

import inspect

import pytest

from sparker_spark.dedupe import dedup_corpus
from sparker_spark.entry_ext import IVF_CELLS
from sparker_spark.entry_r11 import SEM_PROD_TARGET
from sparker_spark.llm.dedup import _join_salts
from sparker_spark.llm.similarity import IVFIndex

DEDUPE_TARGET = inspect.signature(dedup_corpus).parameters[
    "target_cell_size"
].default


@pytest.mark.parametrize("partitions", [8, 32])
@pytest.mark.parametrize("n", [10**6, 10**8, 10**9])
def test_production_sizing_takes_one_salt(n, partitions):
    for cells in (
        IVFIndex.auto_cells(n),
        IVFIndex.cells_for_target(n, DEDUPE_TARGET),
        IVFIndex.cells_for_target(n, SEM_PROD_TARGET),
    ):
        assert _join_salts(cells, partitions) == 1, (n, partitions, cells)


@pytest.mark.parametrize("partitions", [8, 32])
def test_pinned_gate_fixture_is_salted(partitions):
    assert _join_salts(IVF_CELLS, partitions) > 1
