"""Attribute clustering via MinHash/LSH — BLAST step 1.

Reference parity: python/sparker/attribute_clustering.py:95-328 and
scala/.../LSH.scala (seed 1234, 128 hashes, target threshold 0.5,
entropy on — BLAST.ipynb defaults).

Pipeline (all DataFrame ops; only the final connected-components step
is driver-side, on a graph whose node count is #attributes — tiny):

  1. tokens per (source_qualified) attribute
  2. MinHash signatures (seeded affine permutations, L1/L3)
  3. LSH banding -> candidate buckets (L4)
  4. cross-source similarity edges = signature agreement ratio (L5)
  5. per-attribute top edges (sim >= max * max_factor) (L6)
  6. connected components -> KeysCluster list + default cluster (L7)
  7. cluster entropy: Shannon entropy of each attribute's token
     distribution, averaged per cluster (L8)
"""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparker_spark.blocking.strategies import TOKEN_SPLIT_RE
from sparker_spark.llm.hashing import (
    MERSENNE_31,
    SPARK_HASH60,
    minhash_coefficients,
    minhash_expr,
)

DEFAULT_CLUSTER_NAME = "tuttiTokenNonNeiCluster"  # reference's default-cluster label


def get_hashes_bands(num_hashes: int, target_threshold: float) -> int:
    """Reference band count (attribute_clustering.py:35-41
    get_num_bands, LSH.scala:59-66): decrement b from n while
    (1/b)^(b/n) < t, then return b+1 — the last b that FAILED the
    threshold test (a reference quirk, kept for candidate-recall
    parity). No divisor constraint: the reference's sliding() chunking
    (attribute_clustering.py:61-75) tolerates a shorter final band."""
    b = num_hashes
    while (1.0 / b) ** (1.0 / (float(num_hashes) / float(b))) < target_threshold and b > 1:
        b -= 1
    return b + 1


def band_chunks(num_hashes: int, target_threshold: float) -> list[tuple[int, int]]:
    """(start, length) of each LSH band. rows = max(1, n // bands)
    (reference get_num_rows, attribute_clustering.py:43-59) and the
    signature is chunked in ``rows``-sized slices — ⌈n/rows⌉ actual
    bands, the last possibly shorter, exactly the reference's
    sliding() split."""
    bands = get_hashes_bands(num_hashes, target_threshold)
    rows = max(1, num_hashes // bands)
    return [
        (i, min(rows, num_hashes - i)) for i in range(0, num_hashes, rows)
    ]


class AttributeClustering:
    @staticmethod
    def signatures(
        tokens: DataFrame, num_hashes: int = 128, seed: int = 1234
    ) -> DataFrame:
        """(attr_key, mh_0..mh_{k-1}) MinHash signatures."""
        coeffs = minhash_coefficients(num_hashes, seed)
        hashed = tokens.withColumn(
            "h31", F.expr(SPARK_HASH60.format(x="token")) % MERSENNE_31
        )
        aggs = [
            F.min(F.expr(minhash_expr(a, b))).alias(f"mh_{i}")
            for i, (a, b) in enumerate(coeffs)
        ]
        return hashed.groupBy("attr_key").agg(*aggs)

    @staticmethod
    def similarity_edges(
        sigs: DataFrame,
        num_hashes: int,
        target_threshold: float,
        sources_of: DataFrame | None = None,
    ) -> DataFrame:
        """LSH banding -> bucket candidate pairs -> signature-agreement
        similarity (calc_similarity, attribute_clustering.py:77-93:
        fraction of equal signature positions)."""
        chunks = band_chunks(num_hashes, target_threshold)
        # bucket id = the band's value string itself (engine-portable:
        # only equality matters; hashing it, as LSH.scala:170 does,
        # saves no shuffle bytes worth the cross-engine divergence)
        band_cols = [
            F.concat_ws(
                "_",
                F.lit(bi),
                *[F.col(f"mh_{start + r}") for r in range(length)],
            ).alias(f"band_{bi}")
            for bi, (start, length) in enumerate(chunks)
        ]
        banded = sigs.select("attr_key", *band_cols)
        buckets = banded.select(
            "attr_key",
            F.explode(
                F.array(*[F.col(f"band_{bi}") for bi in range(len(chunks))])
            ).alias("bucket"),
        )
        a = buckets.select(F.col("attr_key").alias("a1"), "bucket")
        b = buckets.select(F.col("attr_key").alias("a2"), "bucket")
        cand = (
            a.join(b, "bucket")
            .where(F.col("a1") < F.col("a2"))
            .select("a1", "a2")
            .distinct()
        )
        # cross-source only (attribute_clustering.py:214-227): compare
        # source prefixes of the qualified names
        cand = cand.where(
            F.split(F.col("a1"), "_").getItem(0)
            != F.split(F.col("a2"), "_").getItem(0)
        )
        s1 = sigs.select(
            F.col("attr_key").alias("a1"),
            F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)]).alias("sig1"),
        )
        s2 = sigs.select(
            F.col("attr_key").alias("a2"),
            F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)]).alias("sig2"),
        )
        agree = F.expr(
            "aggregate(zip_with(sig1, sig2, (x, y) -> IF(x = y, 1, 0)),"
            " 0, (acc, x) -> acc + x)"
        )
        return (
            cand.join(s1, "a1")
            .join(s2, "a2")
            .select(
                "a1",
                "a2",
                (agree / F.lit(float(num_hashes))).alias("sim"),
            )
        )

    @staticmethod
    def top_edges(edges: DataFrame, max_factor: float = 1.0) -> DataFrame:
        """Per attribute keep neighbors with sim >= max_sim * max_factor
        (attribute_clustering.py:229-237)."""
        directed = edges.unionByName(
            edges.select(
                F.col("a2").alias("a1"), F.col("a1").alias("a2"), "sim"
            )
        )
        w = Window.partitionBy("a1")
        return (
            directed.withColumn("max_sim", F.max("sim").over(w))
            .where(F.col("sim") >= F.col("max_sim") * F.lit(float(max_factor)))
            .select("a1", "a2", "sim")
        )

    @staticmethod
    def connected_clusters(top: DataFrame, all_attrs: list[str]) -> list[dict]:
        """Driver-side connected components over the (tiny) attribute
        graph (attribute_clustering.py:240-261 uses networkx; plain
        union-find here — #attributes nodes)."""
        parent: dict[str, str] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(x, y):
            rx, ry = find(x), find(y)
            if rx != ry:
                parent[rx] = ry

        edges = top.select("a1", "a2").collect()
        for r in edges:
            union(r["a1"], r["a2"])
        comps: dict[str, list[str]] = defaultdict(list)
        for r in edges:
            comps[find(r["a1"])]  # touch
        for a in {x for r in edges for x in (r["a1"], r["a2"])}:
            comps[find(a)].append(a)

        clusters = []
        cid = 0
        clustered = set()
        for members in comps.values():
            if len(members) > 1:
                clusters.append(
                    {"cluster_id": cid, "keys": sorted(members), "entropy": 1.0}
                )
                clustered.update(members)
                cid += 1
        leftovers = sorted(set(all_attrs) - clustered)
        clusters.append(
            {
                "cluster_id": cid,
                "keys": leftovers,
                "entropy": 1.0,
                "name": DEFAULT_CLUSTER_NAME,
            }
        )
        return clusters

    @staticmethod
    def cluster_entropies(
        tokens: DataFrame, clusters: list[dict], normalize: bool = False
    ) -> list[dict]:
        """Shannon entropy (log2) of each attribute's token distribution
        averaged per cluster (attribute_clustering.py:263-313). The
        reference computes entropy over *token occurrence counts*
        grouped by attribute; tokens here are (attr_key, token) distinct
        rows so the per-token count is 1 and entropy = log2(#tokens) —
        matching the Python path, which dedups tokens per profile
        before counting (attribute_clustering.py:141-156 counts
        occurrences across profiles). We therefore recount from the
        non-distinct relation the caller passes in.
        """
        counts = tokens.groupBy("attr_key", "token").agg(
            F.count("*").alias("c")
        )
        per_attr = counts.groupBy("attr_key").agg(
            F.sum("c").alias("total"),
            F.sum(F.col("c") * F.log2("c")).alias("sum_clog"),
        )
        # H = log2(total) - sum(c*log2(c))/total
        ent = per_attr.select(
            "attr_key",
            (F.log2("total") - F.col("sum_clog") / F.col("total")).alias("H"),
            F.log2("total").alias("Hmax"),
        ).collect()
        h = {
            r["attr_key"]: (
                (r["H"] / r["Hmax"]) if normalize and r["Hmax"] else r["H"]
            )
            for r in ent
        }
        out = []
        for c in clusters:
            vals = [h.get(k, 0.0) for k in c["keys"]]
            e = sum(vals) / len(vals) if vals else 1.0
            out.append({**c, "entropy": float(e)})
        return out

    @staticmethod
    def cluster_similar_attributes(
        profiles: DataFrame,
        num_hashes: int = 128,
        target_threshold: float = 0.5,
        max_factor: float = 1.0,
        compute_entropy: bool = True,
        normalize_entropy: bool = False,
        seed: int = 1234,
    ) -> list[dict]:
        """End-to-end BLAST attribute clustering
        (attribute_clustering.py:95-328). Returns KeysCluster-like
        dicts consumable by Blocking.create_blocks_clusters."""
        # (attr_key, token), attr_key = '{source_id}_{attr}'
        # (attribute_clustering.py:127-140)
        tokens_all = profiles.select(
            F.concat(F.col("source_id"), F.lit("_"), F.col("attr")).alias(
                "attr_key"
            ),
            F.explode(F.split(F.lower(F.col("value")), TOKEN_SPLIT_RE)).alias(
                "token"
            ),
        ).where(F.length("token") > 0)
        # the attribute list and the signatures both read the distinct
        # tokens: one lazy checkpoint, freed with `tokens`
        tokens = tokens_all.distinct().localCheckpoint(eager=False)
        all_attrs = [r["attr_key"] for r in tokens.select("attr_key").distinct().collect()]
        sigs = AttributeClustering.signatures(tokens, num_hashes, seed)
        edges = AttributeClustering.similarity_edges(
            sigs, num_hashes, target_threshold
        )
        top = AttributeClustering.top_edges(edges, max_factor)
        clusters = AttributeClustering.connected_clusters(top, all_attrs)
        if compute_entropy:
            clusters = AttributeClustering.cluster_entropies(
                tokens_all, clusters, normalize_entropy
            )
        return clusters
