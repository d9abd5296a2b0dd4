"""Attribute clustering via MinHash/LSH — BLAST step 1.

Reference parity: python/sparker/attribute_clustering.py:95-328 and
scala/.../LSH.scala (seed 1234, 128 hashes, target threshold 0.5,
entropy on — BLAST.ipynb defaults).

One Spark query, collected once (``signature_table``):

  1. tokens per source-qualified attribute, counted per
     (attribute, token)
  2. one aggregate per attribute: the MinHash signature over its
     distinct tokens (seeded affine permutations, L1/L3) and the
     Shannon entropy of its token-occurrence counts,
     H = log2(Σc) − Σc·log2(c)/Σc, with Hmax = log2(Σc) (L8)

Then on the driver, over those #attributes rows:

  3. LSH banding -> candidate pairs of attributes from different
     sources (L4)
  4. similarity = signature agreement ratio (L5)
  5. per-attribute top edges (sim >= max * max_factor) (L6)
  6. connected components -> KeysCluster list with canonical ids: real
     clusters ordered by their smallest member key, the default
     cluster last (L7)
  7. per-cluster mean entropy (L8)

Size bound: the collected table holds #attributes × num_hashes longs
and two doubles per attribute — about 1 KB per attribute at 128
hashes. The reference broadcasts the same signature map
(attribute_clustering.py:161-162) and runs connected components on
the driver (networkx, :240-261).
"""

from __future__ import annotations

from collections import defaultdict
from itertools import combinations
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparker_spark.blocking.strategies import TOKEN_SPLIT_RE
from sparker_spark.graph import ConnectedComponents
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


class SignatureTable(NamedTuple):
    """Per-attribute MinHash signatures and token entropies, one row per
    attribute key, sorted by key."""

    keys: list[str]
    sigs: np.ndarray  # (len(keys), num_hashes) int64
    entropy: list[float]  # H
    max_entropy: list[float]  # Hmax = log2(#token occurrences)


class AttributeClustering:
    @staticmethod
    def signature_table(
        profiles: DataFrame, num_hashes: int = 128, seed: int = 1234
    ) -> SignatureTable:
        """The one Spark query of the clustering, collected once."""
        # (attr_key, token), attr_key = '{source_id}_{attr}'
        # (attribute_clustering.py:127-140)
        counts = (
            profiles.select(
                F.concat(F.col("source_id"), F.lit("_"), F.col("attr")).alias(
                    "attr_key"
                ),
                F.explode(F.split(F.lower(F.col("value")), TOKEN_SPLIT_RE)).alias(
                    "token"
                ),
            )
            .where(F.length("token") > 0)
            .groupBy("attr_key", "token")
            .agg(F.count("*").alias("c"))
            .withColumn("h31", F.expr(SPARK_HASH60.format(x="token")) % MERSENNE_31)
        )
        coeffs = minhash_coefficients(num_hashes, seed)
        per_attr = counts.groupBy("attr_key").agg(
            F.array(*[F.min(F.expr(minhash_expr(a, b))) for a, b in coeffs]).alias(
                "sig"
            ),
            F.sum("c").alias("total"),
            F.sum(F.col("c") * F.log2("c")).alias("sum_clog"),
        )
        rows = sorted(
            per_attr.select(
                "attr_key",
                "sig",
                (F.log2("total") - F.col("sum_clog") / F.col("total")).alias("H"),
                F.log2("total").alias("Hmax"),
            ).collect(),
            key=lambda r: r["attr_key"],
        )
        return SignatureTable(
            [r["attr_key"] for r in rows],
            np.array([r["sig"] for r in rows], dtype=np.int64).reshape(
                len(rows), num_hashes
            ),
            [r["H"] for r in rows],
            [r["Hmax"] for r in rows],
        )

    @staticmethod
    def similarity_edges(
        table: SignatureTable, target_threshold: float
    ) -> list[tuple[str, str, float]]:
        """LSH banding -> cross-source candidate pairs (a1 < a2) ->
        signature-agreement similarity (calc_similarity,
        attribute_clustering.py:77-93: fraction of equal signature
        positions), sorted by (a1, a2)."""
        keys, sigs = table.keys, table.sigs
        num_hashes = sigs.shape[1]
        # cross-source only (attribute_clustering.py:214-227): compare
        # source prefixes of the qualified names
        source = [k.split("_", 1)[0] for k in keys]
        cand = set()
        for start, length in band_chunks(num_hashes, target_threshold):
            buckets = defaultdict(list)
            for i, band in enumerate(sigs[:, start : start + length]):
                buckets[band.tobytes()].append(i)
            for members in buckets.values():
                cand.update(
                    (i, j)
                    for i, j in combinations(members, 2)
                    if source[i] != source[j]
                )
        if not cand:
            return []
        # keys are sorted, so i < j is a1 < a2
        i, j = np.array(sorted(cand)).T
        sim = (sigs[i] == sigs[j]).sum(axis=1) / float(num_hashes)
        return [(keys[a], keys[b], float(s)) for a, b, s in zip(i, j, sim)]

    @staticmethod
    def top_edges(
        edges: list[tuple[str, str, float]], max_factor: float = 1.0
    ) -> list[tuple[str, str, float]]:
        """Per attribute keep neighbors with sim >= max_sim * max_factor,
        ties included (attribute_clustering.py:229-237)."""
        directed = edges + [(a2, a1, sim) for a1, a2, sim in edges]
        best: dict[str, float] = {}
        for a1, _, sim in directed:
            best[a1] = max(best.get(a1, sim), sim)
        return [e for e in directed if e[2] >= best[e[0]] * float(max_factor)]

    @staticmethod
    def connected_clusters(
        top: list[tuple[str, str, float]], all_attrs: list[str]
    ) -> list[dict]:
        """Connected components of the top-edge graph
        (attribute_clustering.py:240-261 uses networkx) as KeysCluster
        dicts with canonical ids: components ordered by their smallest
        member key, then the default cluster of every other attribute."""
        keys = sorted(all_attrs)
        index = {k: i for i, k in enumerate(keys)}
        pairs = [(index[a1], index[a2]) for a1, a2, _ in top]
        # {node: smallest index of its component}; the smallest node
        # itself is absent (graph._driver_components)
        root = ConnectedComponents._driver_components(pairs)
        linked = {n for pair in pairs for n in pair}
        comps: dict[int, list[str]] = defaultdict(list)
        for node in sorted(linked):
            comps[root.get(node, node)].append(keys[node])
        clusters = [
            {"cluster_id": cid, "keys": comps[r], "entropy": 1.0}
            for cid, r in enumerate(sorted(comps))
        ]
        clusters.append(
            {
                "cluster_id": len(clusters),
                "keys": [k for i, k in enumerate(keys) if i not in linked],
                "entropy": 1.0,
                "name": DEFAULT_CLUSTER_NAME,
            }
        )
        return clusters

    @staticmethod
    def clusters_from_table(
        table: SignatureTable,
        target_threshold: float = 0.5,
        max_factor: float = 1.0,
        compute_entropy: bool = True,
        normalize_entropy: bool = False,
    ) -> list[dict]:
        """The driver half of the clustering: banding, similarity, top
        edges, components and cluster entropy over a collected table."""
        edges = AttributeClustering.similarity_edges(table, target_threshold)
        top = AttributeClustering.top_edges(edges, max_factor)
        clusters = AttributeClustering.connected_clusters(top, table.keys)
        if compute_entropy:
            # mean attribute entropy per cluster
            # (attribute_clustering.py:263-313); an empty cluster keeps 1.0
            h = {
                k: (H / Hmax) if normalize_entropy and Hmax else H
                for k, H, Hmax in zip(table.keys, table.entropy, table.max_entropy)
            }
            for c in clusters:
                if c["keys"]:
                    c["entropy"] = sum(h[k] for k in c["keys"]) / len(c["keys"])
        return clusters

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
        return AttributeClustering.clusters_from_table(
            AttributeClustering.signature_table(profiles, num_hashes, seed),
            target_threshold,
            max_factor,
            compute_entropy,
            normalize_entropy,
        )
