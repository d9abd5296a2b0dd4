"""WNP — Weighted Node Pruning (+ BLAST's chi-square variant).

Reference parity: python/sparker/wnp.py:231-298 (wnp), :192-229
(calc_thresholds), :26-77 (do_pruning).

Two passes, exactly like the reference but as DataFrame aggregates:
 1. per-profile local threshold over the FULL directed neighborhood
    (avg, or max/2) — a groupBy instead of a collected+broadcast map;
 2. keep the `p1 < p2` half of the edges whose weight passes the
    endpoint thresholds under AND/OR, or BLAST's
    sqrt(t1² + t2²)/chi2divider rule for chi-square (wnp.py:47-60).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparker_spark.blocking.blockers import BlockCollection
from sparker_spark.metablocking.pruning_utils import (
    ComparisonTypes,
    ThresholdTypes,
    WeightTypes,
)
from sparker_spark.metablocking.weights import EdgeContext, EdgeWeighting
from sparker_spark.session import bounded_broadcast


class WNP:
    @staticmethod
    def calc_thresholds(ctx: EdgeContext, threshold_type: str) -> DataFrame:
        """(profile_id, threshold) — wnp.py:192-229.

        For symmetric weight types the context stores only the
        src <= dst base relation; the directed view unions base with
        its mirror, i.e. TWO scans of the checkpointed base. The
        per-profile aggregate is instead computed with ONE scan by
        exploding each base row to both endpoints (a self-loop
        contributes once, exactly as it appears once in the directed
        view). Asymmetric types (ARCS/EJS) keep the full directed
        relation and aggregate it directly."""
        if threshold_type == ThresholdTypes.AVG:
            agg = F.avg("weight")
        elif threshold_type == ThresholdTypes.MAX_FRACT_2:
            agg = F.max("weight") / 2.0
        else:
            raise ValueError(f"invalid threshold type: {threshold_type}")
        base = ctx._base
        if base is not None:
            ends = F.when(
                F.col("src") == F.col("dst"), F.array("src")
            ).otherwise(F.array("src", "dst"))
            per_endpoint = base.select(
                F.explode(ends).alias("profile_id"), "weight"
            )
            return per_endpoint.groupBy("profile_id").agg(
                agg.alias("threshold")
            )
        return ctx.edges.groupBy(F.col("src").alias("profile_id")).agg(
            agg.alias("threshold")
        )

    @staticmethod
    def prune(
        ctx: EdgeContext,
        threshold_type: str = ThresholdTypes.AVG,
        comparison_type: str = ComparisonTypes.OR,
        chi2divider: float = 2.0,
    ) -> DataFrame:
        """Pruned edges (p1, p2, weight) with p1 < p2 — wnp.py:26-77."""
        if comparison_type not in (ComparisonTypes.AND, ComparisonTypes.OR):
            raise ValueError(f"invalid comparison type: {comparison_type}")
        # pin the edges: the threshold aggregate writes the lazy pin,
        # and the half leg reads it instead of re-enumerating
        ctx.materialize()
        # Broadcast the (profile, threshold) relation into BOTH
        # endpoint joins when it fits: thresholds is #profiles rows,
        # orders of magnitude below the edge relation, and
        # broadcast-hash joins remove the edge relation's exchange
        # from the prune leg entirely. Every profile with an edge sits
        # in at least one block, so Σ block_size (collected with
        # #blocks, no extra job) bounds #profiles from above; too
        # large a bound leaves the joins to Catalyst.
        thresholds = WNP.calc_thresholds(ctx, threshold_type)
        # t1/t2 are independent plan legs, so the threshold aggregate
        # can run once per leg. That is only safe when the aggregate
        # is merge-order-invariant: MAX is, and AVG over the
        # integer-valued CBS weights sums exactly in doubles — but AVG
        # over fractional weights (JS/ECBS/chi2/ARCS/EJS) can differ
        # in the last ulp between the two legs, flipping edges that
        # tie a threshold exactly under AND/OR. Those pin ONE snapshot
        # with a lazy localCheckpoint (written by the first leg, read
        # by the second); CBS/MAX keep the unpinned plan, which
        # measures ~2x faster on the hot shingle leg.
        if (
            threshold_type == ThresholdTypes.AVG
            and ctx.weight_type != WeightTypes.CBS
        ):
            thresholds = thresholds.localCheckpoint(eager=False)
        half = ctx.half()
        t1, t2 = (
            bounded_broadcast(
                thresholds.select(
                    F.col("profile_id").alias(p), F.col("threshold").alias(t)
                ),
                ctx.total_block_size,
            )
            for p, t in (("p1", "t1"), ("p2", "t2"))
        )
        joined = half.join(t1, "p1").join(t2, "p2")
        if ctx.weight_type == WeightTypes.CHI_SQUARE:
            # BLAST rule, wnp.py:47-60
            thr = F.sqrt(F.pow(F.col("t1"), 2.0) + F.pow(F.col("t2"), 2.0)) / float(
                chi2divider
            )
            kept = joined.where(F.col("weight") >= thr)
        elif comparison_type == ComparisonTypes.AND:
            kept = joined.where(
                (F.col("weight") >= F.col("t1")) & (F.col("weight") >= F.col("t2"))
            )
        else:
            kept = joined.where(
                (F.col("weight") >= F.col("t1")) | (F.col("weight") >= F.col("t2"))
            )
        return kept.select("p1", "p2", "weight")

    @staticmethod
    def wnp(
        blocks: BlockCollection,
        profile_blocks_filtered: DataFrame,
        threshold_type: str = ThresholdTypes.AVG,
        weight_type: str = WeightTypes.CBS,
        use_entropy: bool = False,
        chi2divider: float = 2.0,
        comparison_type: str = ComparisonTypes.OR,
    ) -> DataFrame:
        """End-to-end WNP (wnp.py:231-298): weight edges then prune.
        Returns the retained edges DataFrame (p1, p2, weight)."""
        ctx = EdgeWeighting.weighted_edges(
            blocks, profile_blocks_filtered, weight_type, use_entropy
        )
        return WNP.prune(ctx, threshold_type, comparison_type, chi2divider)

    @staticmethod
    def get_all_edges(
        blocks: BlockCollection,
        profile_blocks_filtered: DataFrame,
        weight_type: str = WeightTypes.CBS,
        use_entropy: bool = False,
    ) -> DataFrame:
        """Full weighted graph, no pruning (wnp.py:300-351). Returns
        the p1 < p2 half."""
        ctx = EdgeWeighting.weighted_edges(
            blocks, profile_blocks_filtered, weight_type, use_entropy
        )
        return ctx.half()
