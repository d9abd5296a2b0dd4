"""Converters between block-centric and profile-centric relations.

Reference parity: python/sparker/converters.py:10-112.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparker_spark.blocking.blockers import BlockCollection, comparisons_expr
from sparker_spark.session import bounded_broadcast


class Converters:
    @staticmethod
    def blocks_to_profile_blocks(blocks: BlockCollection) -> DataFrame:
        """blocks -> profile_blocks(profile_id, block_id, comparisons).

        Reference converters.py:73-84 nests them into ProfileBlocks
        objects; we keep the relation exploded (one row per
        profile/block membership) — the downstream window/groupBy
        consume it directly.
        """
        return blocks.assignments.join(
            bounded_broadcast(
                blocks.meta.select("block_id", "comparisons"), blocks.num_blocks
            ),
            "block_id",
        ).select("profile_id", "source_id", "block_id", "comparisons")

    @staticmethod
    def profile_blocks_to_blocks(
        profile_blocks: DataFrame, blocks: BlockCollection
    ) -> BlockCollection:
        """Re-invert filtered profile_blocks to blocks, recomputing
        sizes/comparisons and dropping zero-comparison blocks
        (converters.py:86-112). Keeps the original block ids/keys/
        entropies from ``blocks.meta``.

        Plan shape: stats aggregate DIRECTLY over profile_blocks (no
        pre-join for the key), then ONE small-side join to recover
        key/entropy/cluster_id, and ONE join of the membership relation
        against the surviving meta — which attaches the key AND applies
        the zero-comparison filter in the same pass. The previous
        formulation joined meta onto the full membership relation
        before aggregating and again after, i.e. two full passes over
        the big relation per rebuild.

        The rebuilt meta is #blocks-sized and has three readers: the
        scalars of ``weighted_edges``, the assignments join below and
        the per-block sums of the pair enumeration. It is pinned with
        a lazy ``localCheckpoint`` that it owns, so the stats
        aggregate and its join run once, and every reader plans a
        leaf scan; the assignments plan that scan's broadcast."""
        if blocks.clean:
            per_source = profile_blocks.groupBy("block_id", "source_id").agg(
                F.count("*").alias("n")
            )
            stats = per_source.groupBy("block_id").agg(
                F.sum("n").alias("block_size"),
                F.sum(F.col("n") * F.col("n")).alias("sum_sq"),
                F.count("*").alias("num_sources"),
            )
        else:
            # dirty: no source structure — single-shuffle aggregate
            # (same reasoning as blocks_from_keys)
            stats = (
                profile_blocks.groupBy("block_id")
                .agg(F.count("*").alias("block_size"))
                .withColumn(
                    "sum_sq", F.col("block_size") * F.col("block_size")
                )
                .withColumn("num_sources", F.lit(1).cast("long"))
            )
        meta = (
            stats.withColumn("comparisons", comparisons_expr(blocks.clean))
            .where(F.col("comparisons") > 0)
            .join(
                bounded_broadcast(
                    blocks.meta.select("block_id", "key", "entropy", "cluster_id"),
                    blocks.num_blocks,
                ),
                "block_id",
            )
            .select(
                "block_id",
                "key",
                "block_size",
                "num_sources",
                "comparisons",
                "entropy",
                "cluster_id",
            )
            .localCheckpoint(eager=False)
        )
        assignments = (
            profile_blocks.select("block_id", "profile_id", "source_id")
            .join(
                bounded_broadcast(meta.select("block_id", "key"), blocks.num_blocks),
                "block_id",
            )
            .select("block_id", "key", "profile_id", "source_id")
        )
        return BlockCollection(
            assignments=assignments,
            meta=meta,
            clean=blocks.clean,
            num_blocks=blocks.num_blocks,
        )

    @staticmethod
    def convert_groundtruth(
        groundtruth: DataFrame, profiles1: DataFrame, profiles2: DataFrame | None = None
    ) -> DataFrame:
        """Map original ids -> engine profile ids; emit ordered pairs.

        Reference converters.py:10-57 collects two id maps to the
        driver and returns a Python set. Here: two joins (Catalyst
        broadcasts them when small — same physical plan, but it also
        *works* when the groundtruth doesn't fit on the driver).
        Output: gt(p1 LONG, p2 LONG) with p1 < p2; unmatched ids drop
        out via the inner joins.
        """
        ids1 = profiles1.select(
            F.col("original_id").alias("first_entity_id"),
            F.col("profile_id").alias("id1"),
        ).distinct()
        ids2 = (profiles2 if profiles2 is not None else profiles1).select(
            F.col("original_id").alias("second_entity_id"),
            F.col("profile_id").alias("id2"),
        ).distinct()
        return (
            groundtruth.join(ids1, "first_entity_id")
            .join(ids2, "second_entity_id")
            .select(
                F.least("id1", "id2").alias("p1"),
                F.greatest("id1", "id2").alias("p2"),
            )
            .distinct()
        )
