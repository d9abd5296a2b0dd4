"""CEP — Cardinality Edge Pruning (global top-K).

Reference parity: python/sparker/cep.py:230-300 (cep), :134-228
(calc_thresholds). K = floor(Σ block sizes / 2) (cep.py:282-283).

The reference collects a global weight-frequency histogram, finds the
cut weight t such that edges with weight > t number < K, then
allocates per-profile quotas of edges at weight == t in
dict-iteration order — nondeterministic (SURVEY §7.2). This engine
keeps the same selected-set semantics up to the tie allocation, which
it makes deterministic: the kept set is exactly the first K edges
under ORDER BY (weight desc, p1, p2).

Physical plan: that top-K runs through ``ranking.global_topk`` — one
range shuffle on the sort key, whole partitions below the K-boundary
kept unsorted, a partition-local sort only on the single boundary
partition. This replaced a histogram + cut-weight + tie-rank plan:
for continuous weights (JS, chi², LR scores) the weight histogram has
one group per edge, so "collect the small histogram" degenerated into
three full-size shuffles; the range plan costs one, for any weight
distribution, at any scale.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparker_spark.blocking.blockers import BlockCollection
from sparker_spark.metablocking.pruning_utils import WeightTypes
from sparker_spark.metablocking.weights import EdgeContext, EdgeWeighting
from sparker_spark.ranking import global_topk


class CEP:
    @staticmethod
    def num_edges_to_keep(blocks: BlockCollection) -> int:
        total = blocks.meta.agg(F.sum("block_size").alias("s")).first()["s"] or 0
        return int(math.floor(total / 2))

    @staticmethod
    def prune(ctx: EdgeContext, k: int) -> DataFrame:
        # NOTE (r12): global_topk's range repartition runs the input
        # lineage twice (boundary sampling + shuffle). ctx.materialize()
        # here measured SLOWER (4.1 s vs 3.5 s at sf0.1) when it was an
        # EAGER pin: its own job wrote the full edge relation, which
        # cost more than re-running the weighting over the pinned block
        # relations. The lazy pin is no better: `er_cep_cbs` at sf0.01
        # (local[4]) runs 23 jobs with it and 21 without. Left
        # unmaterialized deliberately.
        return global_topk(
            ctx.half(), [("weight", True), ("p1", False), ("p2", False)], int(k)
        )

    @staticmethod
    def cep(
        blocks: BlockCollection,
        profile_blocks_filtered: DataFrame,
        weight_type: str = WeightTypes.CBS,
        use_entropy: bool = False,
    ) -> DataFrame:
        ctx = EdgeWeighting.weighted_edges(
            blocks, profile_blocks_filtered, weight_type, use_entropy
        )
        return CEP.prune(ctx, CEP.num_edges_to_keep(blocks))
