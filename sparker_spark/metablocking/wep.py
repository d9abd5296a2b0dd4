"""WEP — Weighted Edge Pruning.

Reference parity: python/sparker/wep.py:96-194. Global threshold =
Σ weights / Σ neighbors over the full directed neighborhood
(calc_global_threshold sums per-partition and reduces on the driver —
a hand-rolled partial aggregate; ``avg()`` is the same physical plan).
Keep edges with weight >= threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparker_spark.blocking.blockers import BlockCollection
from sparker_spark.metablocking.pruning_utils import WeightTypes
from sparker_spark.metablocking.weights import EdgeContext, EdgeWeighting


class WEP:
    @staticmethod
    def calc_global_threshold(ctx: EdgeContext) -> float:
        return ctx.edges.agg(F.avg("weight").alias("t")).first()["t"]

    @staticmethod
    def prune(ctx: EdgeContext) -> DataFrame:
        # pin the edges: the global mean writes the lazy pin, and the
        # half filter reads it instead of re-enumerating
        ctx.materialize()
        threshold = WEP.calc_global_threshold(ctx)
        return ctx.half().where(F.col("weight") >= F.lit(threshold))

    @staticmethod
    def wep(
        blocks: BlockCollection,
        profile_blocks_filtered: DataFrame,
        weight_type: str = WeightTypes.CBS,
        use_entropy: bool = False,
    ) -> DataFrame:
        ctx = EdgeWeighting.weighted_edges(
            blocks, profile_blocks_filtered, weight_type, use_entropy
        )
        return WEP.prune(ctx)
