"""Evaluation: PC / PQ / F1 against a converted groundtruth.

Reference parity: python/sparker/utils.py:19-83 (get_statistics, via
accumulators + foreachPartition) and supervised_metablocking.py:183-203
(get_stats). Here: a semi-join + three counts.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparker_spark.blocking.blockers import BlockCollection
from sparker_spark.metablocking.weights import _shared_block_pairs


@dataclass
class ERStats:
    pc: float  # pairs completeness (recall)
    pq: float  # pairs quality (precision)
    f1: float
    num_edges: int
    num_matches: int
    num_gt: int

    @classmethod
    def of(cls, num_matches: int, num_edges: int, num_gt: int) -> "ERStats":
        """PC = matches / groundtruth, PQ = matches / candidate edges,
        F1 their harmonic mean; an empty denominator gives 0."""
        pc = num_matches / num_gt if num_gt else 0.0
        pq = num_matches / num_edges if num_edges else 0.0
        f1 = 2 * pc * pq / (pc + pq) if (pc + pq) > 0 else 0.0
        return cls(pc, pq, f1, num_edges, num_matches, num_gt)


class Evaluation:
    @staticmethod
    def get_stats(edges: DataFrame, gt: DataFrame) -> ERStats:
        """edges(p1,p2,...) vs gt(p1,p2), both with p1 < p2."""
        num_edges = edges.count()
        num_gt = gt.count()
        num_matches = edges.select("p1", "p2").join(gt, ["p1", "p2"], "left_semi").count()
        return ERStats.of(num_matches, num_edges, num_gt)

    @staticmethod
    def get_stats_broadcast(edges: DataFrame, gt: DataFrame) -> ERStats:
        """Independent cross-check of :meth:`get_stats` — the
        reference's StatisticsEstimator.test idea (old_versions/.../
        Utilities/StatisticsEstimator.scala:167-207): instead of a
        Catalyst semi-join, broadcast the groundtruth pair set to the
        executors and count membership hits with Arrow-batched Python.
        Deliberately different machinery end to end, so a bug in either
        path (join keys, dedup, null handling) shows up as a mismatch.
        Groundtruth must fit in executor memory — it is the small side
        by construction (labeled matches, not the candidate space).
        """
        import pandas as pd

        spark = edges.sparkSession
        gt_set = {
            (r["p1"], r["p2"]) for r in gt.select("p1", "p2").distinct().collect()
        }
        bgt = spark.sparkContext.broadcast(gt_set)

        def count_hits(batches):
            hits = 0
            total = 0
            pairs = bgt.value
            for pdf in batches:
                total += len(pdf)
                hits += sum(
                    (int(a), int(b)) in pairs
                    for a, b in zip(pdf["p1"], pdf["p2"])
                )
            yield pd.DataFrame({"hits": [hits], "total": [total]})

        agg = (
            edges.select(
                F.col("p1").cast("long").alias("p1"),
                F.col("p2").cast("long").alias("p2"),
            )
            .mapInPandas(count_hits, schema="hits long, total long")
            .agg(F.sum("hits").alias("h"), F.sum("total").alias("t"))
            .first()
        )
        num_matches = int(agg["h"] or 0)
        num_edges = int(agg["t"] or 0)
        num_gt = len(gt_set)
        return ERStats.of(num_matches, num_edges, num_gt)

    @staticmethod
    def block_collection_stats(blocks: BlockCollection, gt: DataFrame) -> ERStats:
        """Baseline 'no meta-blocking' PC/PQ straight from a block
        collection (utils.py:19-83, PCPQBlockCalc.scala:16-91): the
        candidate set is every distinct co-occurring pair."""
        half, _ = _shared_block_pairs(blocks)
        pairs = half.select(F.col("src").alias("p1"), F.col("dst").alias("p2"))
        num_edges = pairs.count()
        num_gt = gt.count()
        num_matches = pairs.join(gt, ["p1", "p2"], "left_semi").count()
        return ERStats.of(num_matches, num_edges, num_gt)


class StatisticsEstimator:
    @staticmethod
    def estimate_pc_pq_real_ids(
        edges: DataFrame,
        id_map: DataFrame,
        gt: DataFrame,
        first_dataset_max_id: int = -1,
    ) -> ERStats:
        """Real-ID-space PC/PQ — parity with the reference's
        estimatePCandPQ family (old_versions/.../Utilities/
        StatisticsEstimator.scala:26-81): instead of converting the
        groundtruth into dense-id space (Converters.convert_groundtruth
        + get_stats), the candidate edges are mapped back to real ids
        and intersected with the raw groundtruth.

        ``edges(p1, p2)`` dense ids; ``id_map(profile_id,
        original_id)``; ``gt(first_entity_id, second_entity_id)`` real
        ids. With ``first_dataset_max_id >= 0`` (clean-clean) each edge
        is oriented dataset-1-first before mapping, like the
        reference's swap (:36-43). Matches = DISTINCT intersection on
        real-id pairs (RDD.intersection semantics); PQ denominator =
        raw candidate count, PC denominator = raw groundtruth count —
        both reference quirks kept."""
        e = edges.select("p1", "p2")
        if first_dataset_max_id >= 0:
            flip = F.col("p1") > F.lit(int(first_dataset_max_id))
            e = e.select(
                F.when(flip, F.col("p2")).otherwise(F.col("p1")).alias("p1"),
                F.when(flip, F.col("p1")).otherwise(F.col("p2")).alias("p2"),
            )
        m1 = id_map.select(
            F.col("profile_id").alias("p1"), F.col("original_id").alias("e1")
        )
        m2 = id_map.select(
            F.col("profile_id").alias("p2"), F.col("original_id").alias("e2")
        )
        cand = e.join(m1, "p1").join(m2, "p2").select("e1", "e2")
        num_candidates = cand.count()
        gtp = gt.select(
            F.col("first_entity_id").alias("e1"),
            F.col("second_entity_id").alias("e2"),
        )
        num_matches = cand.intersect(gtp).count()
        num_gt = gtp.count()
        return ERStats.of(num_matches, num_candidates, num_gt)

    @staticmethod
    def estimate_pc_pq_adjacency(edges: DataFrame, gt: DataFrame) -> ERStats:
        """Grouped-adjacency PC/PQ — the mechanism of the reference's
        combineByKey estimators (old_versions/.../Utilities/
        StatisticsEstimator.scala:92-133 estimatePCPQ_uniqueRealID,
        :135-166 estimatePCPQ): the groundtruth is grouped by FIRST
        endpoint into neighbor sets (combineByKey + broadcast map
        there; a collect_set aggregate + broadcast hash join +
        array_contains probe here), and candidates look up their
        second endpoint in the set — directional, so both relations
        must carry the same orientation convention (p1 < p2, which the
        reference enforces by swapping at :104-109).

        Reference quirks kept exactly: matches are counted DISTINCT
        (:117 .distinct.count) while BOTH denominators are the RAW
        non-distinct counts (groundTruth.count / candidates.count,
        :123) — duplicated groundtruth rows or candidate pairs deflate
        PC/PQ there, and therefore here.

        Completes the estimator family: join (get_stats), broadcast
        Python set (get_stats_broadcast), real-id intersection
        (estimate_pc_pq_real_ids), grouped adjacency (this).
        """
        adj = gt.select("p1", "p2").groupBy("p1").agg(
            F.collect_set("p2").alias("nbrs")
        )
        num_candidates = edges.count()
        num_gt = gt.count()
        num_matches = (
            edges.select("p1", "p2")
            # groundtruth is the small labeled side by construction —
            # the broadcast IS the mechanism being mirrored
            .join(F.broadcast(adj), "p1")
            .where(F.array_contains(F.col("nbrs"), F.col("p2")))
            .select("p1", "p2")
            .distinct()
            .count()
        )
        return ERStats.of(num_matches, num_candidates, num_gt)

    @staticmethod
    def block_entropy(blocks: BlockCollection, normalized: bool = False) -> DataFrame:
        """Per-block entropy estimator — parity with the Scala-only
        old_versions/.../Utilities/StatisticsEstimator.scala:296-342
        (estimateEntropy / estimateNormalizedEntropy).

        Reference semantics, replicated exactly: for block b, collect
        the multiset K of block-ids over all members of b (each member
        profile contributes EVERY block it belongs to, so b itself
        appears |b| times); with N = |K| and c_k the multiplicity of
        block k,

            entropy(b) = -( Σ_k (c_k/N)·ln(c_k/N) ) / N

        — note the reference's extra division by N on top of the
        Shannon entropy (Scala :311,:340), and natural log. The
        normalized variant additionally divides by block size (:313).

        The reference broadcasts the whole profile→blocks map to every
        worker; here it is the relational form — a self-join of the
        assignments on profile_id plus two hash aggregates, all
        distributed. Algebra: Σ(c/N)ln(c/N) = (Σ c·ln c)/N − ln N, so
        entropy = (ln N − (Σ c·ln c)/N) / N with one pass over counts.
        """
        pb = blocks.assignments.select("block_id", "profile_id")
        keys = (
            pb.alias("a")
            .join(pb.alias("b"), F.col("a.profile_id") == F.col("b.profile_id"))
            .select(F.col("a.block_id").alias("block_id"), F.col("b.block_id").alias("k"))
        )
        cnt = keys.groupBy("block_id", "k").agg(F.count("*").alias("c"))
        ent = (
            cnt.groupBy("block_id")
            .agg(
                F.sum("c").alias("n"),
                F.sum(F.col("c") * F.log("c")).alias("clogc"),
            )
            .select(
                "block_id",
                (
                    (F.log("n") - F.col("clogc") / F.col("n")) / F.col("n")
                ).alias("entropy"),
            )
        )
        if normalized:
            ent = ent.join(
                blocks.meta.select("block_id", "block_size"), "block_id"
            ).select(
                "block_id",
                "entropy",
                (F.col("entropy") / F.col("block_size")).alias("norm_entropy"),
            )
        return ent
