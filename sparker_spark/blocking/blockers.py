"""Block building.

Reference parity: python/sparker/blockers.py:81-113
(Blocking.create_blocks) and scala/.../TokenBlocking.scala:35-79.

The reference materializes ``RDD[BlockClean|BlockDirty]`` objects whose
``profiles`` field nests per-source id sets (objects.py:90-198). This
engine keeps blocks *fully exploded* — the shape every downstream
operator (purging, filtering, pair enumeration) actually consumes::

    assignments(block_id LONG, key STRING, profile_id LONG, source_id INT)
    meta(block_id LONG, key STRING, block_size LONG, num_sources INT,
         comparisons LONG, entropy DOUBLE, cluster_id INT)

Comparison counts replicate the reference exactly:
  * dirty (1 source):  n·(n−1)            (objects.py:188-192 — NOT halved)
  * clean (k sources): Σ_{i<j} n_i·n_j =  ((Σn)² − Σn²)/2
                                           (objects.py:127-143)

Block filters replicate blockers.py:106-111: drop singleton blocks;
clean-clean additionally requires ≥2 non-empty sources.

Dense block ids: the reference uses zipWithIndex (blockers.py:111,
partition-order dependent); we rank distinct keys with the distributed
two-phase ranker (sparker_spark/ranking.py: range repartition +
per-partition rank + offsets) — deterministic, hash-checkable, and
never a single-partition window. The ranking is over the *distinct
key* relation (one row per surviving block), not the exploded
assignments, so it is proportional to #blocks, not #rows. With
assign_ids=False the id is ``xxhash64(key)`` — no ranking shuffle at
all, at the cost of a 64-bit birthday collision bound (safe below
~1e8 distinct keys; see the inline note) since downstream operators
join on block_id.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparker_spark.blocking.strategies import BlockingKeysStrategies
from sparker_spark.ranking import global_rank_count
from sparker_spark.session import bounded_broadcast


@dataclass
class BlockCollection:
    """A blocking collection: exploded assignments + per-block meta.

    ``num_blocks`` is not set by users: it is an upper bound on the
    number of rows of ``meta`` (#blocks), or None when no stage knows
    one. ``Blocking.blocks_from_keys`` sets it to the exact count that
    its dense-id ranking collects anyway (``global_rank_count``);
    cluster blocking, purging and filtering's rebuild only drop blocks,
    so they pass it through. Hash ids (``assign_ids=False``), LSH,
    incremental and hand-built collections leave it None. Only the
    joins against the block index read it
    (:func:`sparker_spark.session.bounded_broadcast`), to broadcast the
    index when it fits; no result depends on it."""

    assignments: DataFrame  # (block_id, key, profile_id, source_id)
    meta: DataFrame  # (block_id, key, block_size, num_sources, comparisons, entropy, cluster_id)
    clean: bool  # True = clean-clean (multi-source), False = dirty
    num_blocks: int | None = None  # upper bound on #blocks, see above


def comparisons_expr(clean: bool):
    """Column expr for a block's comparison count given per-block
    aggregates ``block_size`` (Σn) and ``sum_sq`` (Σn²)."""
    if clean:
        return ((F.col("block_size") * F.col("block_size") - F.col("sum_sq")) / 2).cast(
            "long"
        )
    return (F.col("block_size") * (F.col("block_size") - F.lit(1))).cast("long")


class Blocking:
    @staticmethod
    def blocks_from_keys(
        keys: DataFrame,
        clean: bool = False,
        assign_ids: bool = True,
    ) -> BlockCollection:
        """Invert (profile → keys) to blocks and compute per-block stats.

        ``keys``: (profile_id, source_id, key) distinct rows. Blocks
        get entropy 1.0 and cluster_id -1; loose-schema blocking
        (:meth:`create_blocks_clusters`) sets its own.
        """
        if clean:
            # per (key, source) profile counts -> per-key stats: the
            # two-level aggregate yields Σn, Σn² and the non-empty
            # source-group count that clean-clean comparisons need.
            per_source = keys.groupBy("key", "source_id").agg(
                F.count("*").alias("n")
            )
            stats = per_source.groupBy("key").agg(
                F.sum("n").alias("block_size"),
                F.sum(F.col("n") * F.col("n")).alias("sum_sq"),
                F.count("*").alias("num_sources"),
            )
            stats = stats.where(
                (F.col("block_size") > 1) & (F.col("num_sources") > 1)
            )
        else:
            # Dirty ER ignores source structure entirely (reference
            # BlockDirty keeps ONE profile set, objects.py:90-105), so
            # the per-source level buys nothing — one groupBy(key)
            # replaces the two-shuffle aggregate on the hottest ingest
            # path. num_sources is reported as 1 by definition of the
            # dirty model regardless of source_id values.
            stats = (
                keys.groupBy("key")
                .agg(F.count("*").alias("block_size"))
                .withColumn(
                    "sum_sq", F.col("block_size") * F.col("block_size")
                )
                .withColumn("num_sources", F.lit(1).cast("long"))
                .where(F.col("block_size") > 1)
            )

        meta = stats.withColumn("comparisons", comparisons_expr(clean))

        num_blocks = None
        if assign_ids:
            # Distributed dense ids: global_rank (range repartition +
            # per-partition rank + offsets) — identical values to a
            # 1-based row_number() OVER (ORDER BY key) but never a
            # single-partition window. Proportional to #blocks.
            meta, num_blocks = global_rank_count(meta, ["key"], out="block_id")
            meta = meta.withColumn("block_id", (F.col("block_id") + 1).cast("long"))
        else:
            # xxhash64(key) ids: one 64-bit hash per distinct key. The
            # birthday bound puts the first expected collision near
            # 2^32 ≈ 4.3e9 distinct keys (p≈0.5); below ~1e8 blocks the
            # collision probability is < 3e-4. A collision would merge
            # two blocks and perturb weights, so callers at the multi-
            # billion-key scale should keep assign_ids=True (dense ids
            # via the distributed ranker) — that path has no collision
            # risk and is the default.
            meta = meta.withColumn("block_id", F.xxhash64("key"))

        meta = meta.withColumn("entropy", F.lit(1.0)).withColumn(
            "cluster_id", F.lit(-1)
        )

        meta = meta.select(
            "block_id",
            "key",
            "block_size",
            "num_sources",
            "comparisons",
            "entropy",
            "cluster_id",
        )

        assignments = keys.join(
            bounded_broadcast(meta.select("block_id", "key"), num_blocks), "key"
        ).select("block_id", "key", "profile_id", "source_id")

        return BlockCollection(
            assignments=assignments, meta=meta, clean=clean, num_blocks=num_blocks
        )

    @staticmethod
    def create_blocks(
        profiles: DataFrame,
        clean: bool = False,
        keys_to_exclude=None,
        attributes_to_exclude=None,
        blocking_method=BlockingKeysStrategies.token_blocking,
        assign_ids: bool = True,
        **kwargs,
    ) -> BlockCollection:
        """End-to-end: profiles -> keys -> blocks (blockers.py:81-113)."""
        keys = blocking_method(
            profiles,
            attributes_to_exclude=attributes_to_exclude,
            keys_to_exclude=keys_to_exclude,
            **kwargs,
        )
        return Blocking.blocks_from_keys(keys, clean=clean, assign_ids=assign_ids)

    @staticmethod
    def _cluster_qualified_tokens(
        profiles: DataFrame,
        clusters: list,
        keys_to_exclude=None,
        attributes_to_exclude=None,
        exclude_default_cluster: bool = False,
    ):
        """Shared front half of cluster (loose-schema) blocking: the
        (profile_id, source_id, attr, token, cluster_id) relation with
        each token mapped to its attribute cluster, plus the cluster
        entropy map. Used by create_blocks_clusters and its _debug
        twin."""
        from sparker_spark.blocking.strategies import (
            TOKEN_SPLIT_RE,
            _base_values,
        )

        default_cluster_id = max(c["cluster_id"] for c in clusters) if clusters else 0
        entries = {}
        entropy_by_cluster = {}
        for c in clusters:
            entropy_by_cluster[int(c["cluster_id"])] = float(c.get("entropy", 1.0))
            for k in c["keys"]:
                entries[k] = int(c["cluster_id"])

        # typed, so that an empty map (no attribute clustered, e.g. no
        # profiles) still resolves
        mapping = F.create_map(
            *[x for k, v in entries.items() for x in (F.lit(k), F.lit(v))]
        ).cast("map<string,int>")

        values = _base_values(profiles, attributes_to_exclude)
        toks = values.select(
            "profile_id",
            "source_id",
            "attr",
            F.explode(F.split(F.col("value"), TOKEN_SPLIT_RE)).alias("token"),
        ).where(F.length("token") > 0)
        if keys_to_exclude:
            toks = toks.where(~F.col("token").isin(list(keys_to_exclude)))

        qualified = toks.withColumn(
            "cluster_id",
            F.coalesce(
                mapping[F.concat(F.col("source_id"), F.lit("_"), F.col("attr"))],
                F.lit(default_cluster_id),
            ),
        )
        if exclude_default_cluster:
            qualified = qualified.where(F.col("cluster_id") != default_cluster_id)
        return qualified, entropy_by_cluster

    @staticmethod
    def create_blocks_clusters_debug(
        profiles: DataFrame,
        clusters: list,
        clean: bool = False,
        keys_to_exclude=None,
        attributes_to_exclude=None,
        exclude_default_cluster: bool = False,
        cluster_name_separator: str = "_",
        assign_ids: bool = True,
    ) -> tuple[BlockCollection, DataFrame]:
        """Cluster blocking + provenance relation — parity with
        scala/.../TokenBlocking.scala:81-178 (createBlocksClusterDebug),
        which returns blocks plus token -> (profile -> contributing
        attributes). The reference collects that map to the driver;
        here it stays a DataFrame ``debug(key, profile_id, attrs
        ARRAY<STRING>)`` (one row per cluster-suffixed token ×
        profile, attrs = the source-qualified attribute names whose
        values produced the token — pre-filter, singletons included,
        like the reference)."""
        qualified, _ = Blocking._cluster_qualified_tokens(
            profiles,
            clusters,
            keys_to_exclude,
            attributes_to_exclude,
            exclude_default_cluster,
        )
        debug = (
            qualified.select(
                F.concat(
                    F.col("token"), F.lit(cluster_name_separator), F.col("cluster_id")
                ).alias("key"),
                "profile_id",
                F.concat(
                    F.col("source_id"), F.lit(cluster_name_separator), F.col("attr")
                ).alias("attr_key"),
            )
            .groupBy("key", "profile_id")
            .agg(F.array_sort(F.collect_set("attr_key")).alias("attrs"))
        )
        coll = Blocking.create_blocks_clusters(
            profiles,
            clusters,
            clean=clean,
            keys_to_exclude=keys_to_exclude,
            attributes_to_exclude=attributes_to_exclude,
            exclude_default_cluster=exclude_default_cluster,
            cluster_name_separator=cluster_name_separator,
            assign_ids=assign_ids,
        )
        return coll, debug

    @staticmethod
    def create_blocks_clusters(
        profiles: DataFrame,
        clusters: list,
        clean: bool = False,
        keys_to_exclude=None,
        attributes_to_exclude=None,
        exclude_default_cluster: bool = False,
        cluster_name_separator: str = "_",
        assign_ids: bool = True,
    ) -> BlockCollection:
        """Loose-schema (BLAST) blocking — reference blockers.py:8-79,
        TokenBlocking.scala:189-274. Tokens are suffixed with the id of
        the attribute cluster their source attribute belongs to
        (``token{sep}clusterId``); blocks inherit the cluster entropy.

        ``clusters``: list of KeysCluster-like dicts
        ``{"cluster_id": int, "keys": ["{source}_{attr}", ...],
        "entropy": float}`` — tiny (≤ #attributes), shipped as a literal
        map, exactly the broadcast the reference uses (blockers.py:30).
        """
        qualified, entropy_by_cluster = Blocking._cluster_qualified_tokens(
            profiles,
            clusters,
            keys_to_exclude,
            attributes_to_exclude,
            exclude_default_cluster,
        )

        keys = qualified.select(
            "profile_id",
            "source_id",
            F.concat(
                F.col("token"), F.lit(cluster_name_separator), F.col("cluster_id")
            ).alias("key"),
        ).distinct()

        cluster_entropy = F.create_map(
            *[
                x
                for cid, e in entropy_by_cluster.items()
                for x in (F.lit(f"{cluster_name_separator}{cid}"), F.lit(e))
            ]
        )
        coll = Blocking.blocks_from_keys(keys, clean=clean, assign_ids=assign_ids)
        # block entropy = entropy of the cluster the key belongs to
        meta = coll.meta.drop("entropy", "cluster_id")
        suffix = F.regexp_extract(
            F.col("key"), f"({cluster_name_separator}[0-9]+)$", 1
        )
        cid = F.regexp_extract(F.col("key"), f"{cluster_name_separator}([0-9]+)$", 1)
        meta = meta.withColumn(
            "entropy", F.coalesce(cluster_entropy[suffix], F.lit(1.0))
        ).withColumn("cluster_id", cid.cast("int"))
        return BlockCollection(
            assignments=coll.assignments,
            meta=meta.select(
                "block_id",
                "key",
                "block_size",
                "num_sources",
                "comparisons",
                "entropy",
                "cluster_id",
            ),
            clean=clean,
            num_blocks=coll.num_blocks,
        )
