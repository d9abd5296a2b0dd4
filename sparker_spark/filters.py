"""Block refinement: purging and filtering.

Reference parity: python/sparker/filters.py:5-117 (BlockPurging,
BlockFiltering) and scala/.../BlockPurging.scala:26-110,
BlockFiltering.scala:29-48.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparker_spark.blocking.blockers import BlockCollection
from sparker_spark.blocking.converters import Converters
from sparker_spark.session import bounded_broadcast

# Python round() is banker's (half-to-even); Spark's round() is
# half-up and DuckDB's likewise, so block filtering uses this explicit
# half-even SQL fragment — textually identical in the engine and in
# the DuckDB oracle — to replicate filters.py:79 exactly.
ROUND_HALF_EVEN_SQL = (
    "CASE WHEN {x} - floor({x}) = 0.5 THEN "
    "CAST(CASE WHEN CAST(floor({x}) AS BIGINT) % 2 = 0 "
    "THEN floor({x}) ELSE ceil({x}) END AS BIGINT) "
    "ELSE CAST(round({x}, 0) AS BIGINT) END"
)


class BlockPurging:
    @staticmethod
    def max_comparisons_allowed(meta: DataFrame, smooth_factor: float) -> int | None:
        """Compute the purging threshold (a driver scalar, like the
        reference filters.py:34-55 which collects the level histogram).

        Levels = distinct comparison counts, ascending, with cumulative
        sums of comparisons (cc) and block sizes (bc). Scanning from the
        top level down, the first level i where
        ``cc_bc[i]·cc_cc[i+1] < smooth·cc_cc[i]·cc_bc[i+1]`` holds wins
        and the threshold is level[i+1]; the scan-from-top-first-hit is
        equivalent to MAX over qualifying i. Fallback when no level
        qualifies: level[1] (the reference's loop leaves previous_size
        at input[1] — filters.py:40-52).
        """
        rows = (
            meta.groupBy(F.col("comparisons").alias("level"))
            .agg(
                F.sum("comparisons").alias("cc"),
                F.sum("block_size").alias("bc"),
            )
            .collect()
        )
        # O(#distinct levels) rows: sorted on the driver, not with a
        # range sort (its sampling job and exchange)
        rows.sort(key=lambda r: r["level"])
        if len(rows) < 2:
            return None  # single comparison level (see block_purging)
        # driver-side cumulative scan — O(#distinct levels), exactly the
        # histogram the reference collects (filters.py:34-55); no
        # unpartitioned window touches the cluster
        cum_cc: list[int] = []
        cum_bc: list[int] = []
        acc_cc = acc_bc = 0
        for r in rows:
            acc_cc += r["cc"]
            acc_bc += r["bc"]
            cum_cc.append(acc_cc)
            cum_bc.append(acc_bc)
        smooth = float(smooth_factor)
        candidates = [
            rows[i + 1]["level"]
            for i in range(len(rows) - 1)
            if cum_bc[i] * cum_cc[i + 1] < smooth * cum_cc[i] * cum_bc[i + 1]
        ]
        if candidates:
            return max(candidates)
        return rows[1]["level"]  # reference fallback (filters.py:40-52)

    @staticmethod
    def block_purging(blocks: BlockCollection, smooth_factor: float) -> BlockCollection:
        """Drop oversized blocks (filters.py:5-57). The threshold is a
        collected scalar — O(#distinct levels) — everything else stays
        distributed."""
        threshold = BlockPurging.max_comparisons_allowed(blocks.meta, smooth_factor)
        if threshold is None:
            # single comparison level: reference returns 0 and purges
            # everything; we keep everything instead (documented
            # deviation — purging a uniform collection is never useful).
            return blocks
        meta = blocks.meta.where(F.col("comparisons") <= F.lit(int(threshold)))
        assignments = blocks.assignments.join(
            bounded_broadcast(meta.select("block_id"), blocks.num_blocks), "block_id"
        )
        return BlockCollection(
            assignments=assignments,
            meta=meta,
            clean=blocks.clean,
            num_blocks=blocks.num_blocks,
        )


class BlockFiltering:
    @staticmethod
    def block_filtering(
        profile_blocks: DataFrame, r: float, tie_inclusive: bool = True
    ) -> DataFrame:
        """Per profile, keep its blocks with fewest comparisons.

        ``tie_inclusive=True`` — Python reference semantics
        (filters.py:75-89): sort the profile's blocks by comparisons
        ascending, find the comparison count at 0-based index
        ``clamp(round_half_even(n·r) - 1 if >0, [0, n-1])`` and keep
        every block with comparisons <= that cutoff (ties at the cutoff
        all survive).

        ``tie_inclusive=False`` — Scala exact-truncation semantics
        (scala/.../BlockFiltering.scala:28-39 ``blockFiltering``): keep
        exactly the first ``Math.round(n·r)`` blocks of the ascending
        sort (Java half-up rounding, floor(x+0.5)); ties at the cut are
        truncated, and round(n·r)==0 keeps nothing for that profile —
        both faithfully replicated. The Scala tie order within equal
        comparison counts is list order (partition-dependent); we break
        ties by block_id ascending for determinism. (The Scala
        ``blockFilteringAdvanced`` tie-inclusive variant is the
        tie_inclusive=True path modulo its half-up rounding.)

        Expressed as ONE hash aggregate per profile: collect the
        profile's (comparisons, block_id, source_id) structs, sort the
        array (struct order == the (comparisons, block_id) sort key;
        (profile, block) is unique so the trailing source_id never
        decides), pick the cutoff by index, explode the kept slice
        back out. Per-profile memory is that profile's block count —
        the same bound the windowed formulation's per-partition sort
        run had — but the plan is a single exchange with map-side
        partial aggregation and NO sort of the full relation
        (the previous three-window plan sorted every partition;
        measured 1.8 s -> 0.9 s cold on the sf0.1 token regime).
        No collected state, scales to any #profiles.
        """
        agged = profile_blocks.groupBy("profile_id").agg(
            F.sort_array(
                F.collect_list(F.struct("comparisons", "block_id", "source_id"))
            ).alias("arr"),
            F.count("*").alias("n"),
        )
        if not tie_inclusive:
            kept = agged.select(
                "profile_id",
                F.explode(
                    F.expr(
                        f"slice(arr, 1, CAST(floor(n * CAST({float(r)} AS "
                        "DOUBLE) + 0.5) AS INT))"
                    )
                ).alias("kb"),
            )
        else:
            idx_sql = ROUND_HALF_EVEN_SQL.format(
                x=f"(n * CAST({float(r)} AS DOUBLE))"
            )
            kept = (
                agged.withColumn(
                    "idx",
                    F.least(
                        F.greatest(F.expr(idx_sql) - 1, F.lit(0)),
                        F.col("n") - 1,
                    ),
                )
                .withColumn("cutoff", F.expr("arr[idx].comparisons"))
                .select(
                    "profile_id",
                    F.explode(
                        F.expr("filter(arr, b -> b.comparisons <= cutoff)")
                    ).alias("kb"),
                )
            )
        return kept.select(
            "profile_id",
            F.col("kb.source_id").alias("source_id"),
            F.col("kb.block_id").alias("block_id"),
            F.col("kb.comparisons").alias("comparisons"),
        )

    @staticmethod
    def block_filtering_quick(
        blocks: BlockCollection, r: float
    ) -> tuple[DataFrame, DataFrame, BlockCollection]:
        """Composite (filters.py:93-117): blocks -> profile_blocks ->
        filtered profile_blocks -> rebuilt blocks.

        ``filtered`` is the chain's one reuse boundary between blocking
        and meta-blocking: the rebuilt meta and assignments, the edge
        weighting's scalars, its per-profile block counts and its pair
        enumeration all read it. It is pinned with a lazy
        ``localCheckpoint`` that the returned frames own, so purging
        and filtering run once, at the first action, instead of once
        per reader; nothing enters the session's cache."""
        profile_blocks = Converters.blocks_to_profile_blocks(blocks)
        filtered = BlockFiltering.block_filtering(profile_blocks, r).localCheckpoint(
            eager=False
        )
        rebuilt = Converters.profile_blocks_to_blocks(filtered, blocks)
        return profile_blocks, filtered, rebuilt
