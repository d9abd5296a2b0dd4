"""CNP — Cardinality Node Pruning (per-node top-k, reciprocal filter).

Reference parity: python/sparker/cnp.py:107-260.
k = floor(Σ block sizes / #profiles) − 1 (compute_cnp_threshold,
cnp.py:250-260). Per profile, retain its top-k neighbors by weight
over the FULL directed neighborhood (np.argpartition, cnp.py:164-170 —
tie order nondeterministic there; we rank deterministically by
(weight DESC, neighbor ASC)). An undirected edge (p1 < p2) survives if
it is retained by BOTH endpoints (AND) or EITHER endpoint (OR)
(cnp.py:107-120).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparker_spark.blocking.blockers import BlockCollection
from sparker_spark.metablocking.pruning_utils import ComparisonTypes, WeightTypes
from sparker_spark.metablocking.weights import EdgeContext, EdgeWeighting
from sparker_spark.session import bounded_broadcast


class CNP:
    @staticmethod
    def compute_cnp_threshold(blocks: BlockCollection, number_of_profiles: int) -> int:
        total = blocks.meta.agg(F.sum("block_size").alias("s")).first()["s"] or 0
        return int(math.floor(total / number_of_profiles) - 1)

    @staticmethod
    def retained_neighbors(ctx: EdgeContext, k: int) -> DataFrame:
        """Per-profile top-k neighbor pairs (src, dst)."""
        w = Window.partitionBy("src").orderBy(
            F.col("weight").desc(), F.col("dst").asc()
        )
        return (
            ctx.edges.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= F.lit(int(k)))
            .select("src", "dst")
        )

    @staticmethod
    def prune(
        ctx: EdgeContext, k: int, comparison_type: str = ComparisonTypes.OR
    ) -> DataFrame:
        if comparison_type not in (ComparisonTypes.AND, ComparisonTypes.OR):
            raise ValueError(f"invalid comparison type: {comparison_type}")
        # pin the edges: the top-k count below writes the lazy pin,
        # and the half leg reads it instead of re-enumerating
        ctx.materialize()
        # Same plan policy as WNP's threshold joins: the retained
        # relation is at most k rows per profile. Its pin is written
        # by the count, which bounds both membership joins' build
        # side: they broadcast when it fits, keeping the pinned edge
        # relation exchange-free on the prune leg.
        retained = CNP.retained_neighbors(ctx, k).localCheckpoint(eager=False)
        n_retained = retained.count()
        half = ctx.half()
        # by_p1: (p1, p2) where p2 is in p1's top-k; by_p2 the mirror
        by_p1, by_p2 = (
            bounded_broadcast(
                retained.select(
                    F.col(a).alias("p1"), F.col(b).alias("p2"), F.lit(1).alias(r)
                ),
                n_retained,
            )
            for a, b, r in (("src", "dst", "r1"), ("dst", "src", "r2"))
        )
        joined = half.join(by_p1, ["p1", "p2"], "left").join(
            by_p2, ["p1", "p2"], "left"
        )
        if comparison_type == ComparisonTypes.AND:
            kept = joined.where(F.col("r1").isNotNull() & F.col("r2").isNotNull())
        else:
            kept = joined.where(F.col("r1").isNotNull() | F.col("r2").isNotNull())
        return kept.select("p1", "p2", "weight")

    @staticmethod
    def cnp(
        blocks: BlockCollection,
        profile_blocks_filtered: DataFrame,
        number_of_profiles: int,
        weight_type: str = WeightTypes.CBS,
        use_entropy: bool = False,
        comparison_type: str = ComparisonTypes.OR,
    ) -> DataFrame:
        ctx = EdgeWeighting.weighted_edges(
            blocks, profile_blocks_filtered, weight_type, use_entropy
        )
        k = CNP.compute_cnp_threshold(blocks, number_of_profiles)
        return CNP.prune(ctx, k, comparison_type)
