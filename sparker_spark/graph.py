"""Distributed connected components over a pair/edge relation.

The training-data dedup flow needs "near-dup PAIRS -> dup GROUPS ->
one canonical doc per group": transitive closure over the LSH/SimHash
pair relations (llm/dedup.py). The reference has no graph operator —
its closest analogue is the driver-side union-find used for attribute
clusters (python/sparker/attribute_clustering.py:117-135), which is
fine for #attributes-sized graphs but not for billions of document
nodes. This is the distributed counterpart.

Algorithm: min-label propagation with pointer jumping.

* propagate:   c(u) <- min(c(u), min_{v in N(u)} c(v))
* pointer jump: c(u) <- min(c(u), c(c(u)))

Plain propagation alone needs O(diameter) rounds (fatal on chain-
shaped components); the jump step halves label-chain depth each round,
giving O(log diameter) rounds total — the same reason the classic
MapReduce formulations (large-star/small-star, Kiveris et al. 2014)
aim at logarithmic round counts. Every round is two shuffles on node
keys (a groupBy-min and a self-join) plus a lazy ``localCheckpoint``
to truncate lineage — without truncation an iterative DataFrame plan
grows per round and re-executes from the source. Convergence is
detected with a single scalar aggregate, which also writes the round's
pin: labels are monotone non-increasing, so the label sum strictly
decreases iff any label changed — no per-row diff join.

Every pin in this module is a lazy ``localCheckpoint`` that the
returned frame owns: the first action that reads it writes it, and its
blocks are freed when the frame is collected, so nothing is left in
the session's cache.

Determinism: the result is exactly "component = min node id reachable",
independent of partitioning or iteration interleaving.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparker_spark.session import bounded_broadcast


class ConnectedComponents:
    # Adaptive regime switch (r12): an edge relation at or below this
    # row count is collected (Arrow, two long columns) and solved with
    # driver-side union-find — the same bounded-driver-scalar class as
    # the purge histogram and the WNP broadcast guard (~16 MB at the
    # cap). The near-dup graphs the dedup flows produce are SPARSE
    # (edges ≪ nodes: most documents have no near-dup), so the
    # log-round distributed loop — 4 shuffles + 2 actions per round —
    # was pure fixed overhead on them. Above the cap the unchanged
    # pointer-jumping loop runs: the switch is on EDGE count, which is
    # what actually grows with a 100 TB corpus, and the labels logic
    # is identical (component = min reachable node id) either way.
    DRIVER_UNIONFIND_MAX = 1_000_000

    @staticmethod
    def _driver_components(edge_rows) -> dict[int, int]:
        """Union-find over (u, v) pairs -> {node: min reachable id}.
        Same result as the distributed loop by construction."""
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        for u, v in edge_rows:
            u, v = int(u), int(v)
            ru, rv = find(u), find(v)
            if ru != rv:
                # union by MIN id so every root is its component's min
                lo, hi = (ru, rv) if ru < rv else (rv, ru)
                parent[hi] = lo
        return {n: find(n) for n in parent}

    @staticmethod
    def run(
        edges: DataFrame,
        src: str = "p1",
        dst: str = "p2",
        nodes: DataFrame | None = None,
        max_iter: int = 30,
    ) -> DataFrame:
        """Edges (src, dst) -> (node, component), component = min
        reachable node id.

        ``nodes``: optional single-column relation of node ids to
        include even when isolated (each becomes its own singleton
        component); by default only endpoint nodes appear.
        ``max_iter`` bounds rounds defensively; with pointer jumping
        even a path of 2^30 nodes converges long before 30 rounds.
        """
        e = (
            edges.select(
                F.col(src).cast("long").alias("u"),
                F.col(dst).cast("long").alias("v"),
            )
            .where(F.col("u") != F.col("v"))
        )
        # pin the edge relation: the regime count below writes it, and
        # then either the driver collect or the distributed loop's
        # every round reads it
        e = e.localCheckpoint(eager=False)
        n_edges = e.count()
        if n_edges <= ConnectedComponents.DRIVER_UNIONFIND_MAX:
            spark = e.sparkSession
            comp = ConnectedComponents._driver_components(
                e.toPandas().itertuples(index=False, name=None)
            )
            comp_df = spark.createDataFrame(
                list(comp.items()) or [(None, None)],
                "u LONG, c LONG",
            ).where(F.col("u").isNotNull())
            node_rel = e.select("u").unionByName(
                e.select(F.col("v").alias("u"))
            )
            if nodes is not None:
                node_rel = node_rel.unionByName(
                    nodes.select(
                        F.col(nodes.columns[0]).cast("long").alias("u")
                    )
                )
            return (
                node_rel.distinct()
                .join(F.broadcast(comp_df), "u", "left")
                .select(
                    F.col("u").alias("node"),
                    F.coalesce("c", "u").alias("component"),
                )
                # lazy checkpoint: multi-leg consumers (sizes +
                # canonical join) reuse the first materialization,
                # matching the distributed path's checkpointed labels
                .localCheckpoint(eager=False)
            )
        und = (
            e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        node_rel = und.select("u")
        if nodes is not None:
            node_rel = node_rel.unionByName(
                nodes.select(F.col(nodes.columns[0]).cast("long").alias("u"))
            )
        # seed labels with the direct-neighborhood min (one aggregation)
        # instead of identity — saves a full propagate+jump round on
        # every input, since round 1 would otherwise just compute this
        nbr_min0 = und.groupBy("u").agg(F.min("v").alias("nv"))
        labels = (
            node_rel.distinct()
            .join(nbr_min0, "u", "left")
            .select("u", F.least("u", F.coalesce("nv", "u")).alias("c"))
            .localCheckpoint(eager=False)
        )
        prev_sum = labels.agg(F.sum("c")).first()[0]
        for _ in range(max_iter):
            nbr = (
                und.join(
                    labels.select(F.col("u").alias("v"), F.col("c").alias("nc")),
                    "v",
                )
                .groupBy("u")
                .agg(F.min("nc").alias("nc"))
            )
            l1 = labels.join(nbr, "u", "left").select(
                "u", F.least("c", F.coalesce("nc", "c")).alias("c")
            )
            # pointer jump: label(u) -> label(label(u)). label(u) is
            # always itself a node id, so the self-join is total except
            # where u already carries its component min.
            jump = l1.select(F.col("u").alias("c"), F.col("c").alias("cc"))
            l2 = l1.join(jump, "c", "left").select(
                "u", F.least("c", F.coalesce("cc", "c")).alias("c")
            )
            new_labels = l2.localCheckpoint(eager=False)
            new_sum = new_labels.agg(F.sum("c")).first()[0]
            labels = new_labels
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
        return labels.select(
            F.col("u").alias("node"), F.col("c").alias("component")
        )

    @staticmethod
    def canonical_groups(
        edges: DataFrame,
        src: str = "p1",
        dst: str = "p2",
        nodes: DataFrame | None = None,
    ) -> DataFrame:
        """(node, component, cluster_size, is_canonical): the keep-one-
        per-dup-group projection — canonical = the component's min id."""
        cc = ConnectedComponents.run(edges, src, dst, nodes)
        sizes = cc.groupBy("component").agg(
            F.count("*").cast("long").alias("cluster_size")
        )
        return cc.join(sizes, "component").select(
            "node",
            "component",
            "cluster_size",
            (F.col("node") == F.col("component")).alias("is_canonical"),
        )


class PageRank:
    @staticmethod
    def run(
        edges: DataFrame,
        damping: float = 0.85,
        iterations: int = 5,
        undirected: bool = True,
        ndigits: int = 6,
    ) -> DataFrame:
        """Fixed-iteration PageRank over an edge list (p1, p2):
        pr_{t+1}(v) = (1-d)/N + d·Σ_{u->v} pr_t(u)/outdeg(u).

        Each iteration is one join + one hash aggregate over the edge
        relation — the standard scale-out plan (no driver state, no
        per-node Python). ``undirected`` mirrors each edge so the walk
        is symmetric (the near-dup graph case). Determinism: every
        iteration's scores are rounded to ``ndigits + 4`` decimals
        before the next propagation, so the fixed point of the
        computation — and therefore the oracle replay — is exact
        regardless of aggregation order, and the final output rounds
        to ``ndigits``. Dangling nodes (no out-edges) keep only the
        teleport term, matching the simple formulation the oracle
        replays. Output: (node, pagerank)."""
        from sparker_spark.rounding import rnd

        d = float(damping)
        if undirected:
            directed = edges.select(
                F.col("p1").alias("src"), F.col("p2").alias("dst")
            ).unionByName(
                edges.select(F.col("p2").alias("src"), F.col("p1").alias("dst"))
            )
        else:
            directed = edges.select(
                F.col("p1").alias("src"), F.col("p2").alias("dst")
            )
        directed = directed.distinct().localCheckpoint(eager=False)
        nodes = (
            directed.select(F.col("src").alias("node"))
            .unionByName(directed.select(F.col("dst").alias("node")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # writes both pins, and bounds every node-sized build side below
        n = nodes.count()
        if n == 0:  # empty graph: nothing to rank
            return nodes.select(
                F.col("node"), F.lit(0.0).alias("pagerank")
            )
        # out-degrees are loop-invariant: pin the node-sized relation
        # once instead of re-deriving it from the edge relation inside
        # every iteration's plan
        outdeg = bounded_broadcast(
            directed.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .localCheckpoint(eager=False),
            n,
        )
        base = (1.0 - d) / n
        inter_digits = ndigits + 4
        # initial score via the same floor-formula rounding the oracle
        # uses (Python's round() is banker's — would diverge at .5)
        scale = float(10 ** inter_digits)
        import math

        pr = nodes.withColumn(
            "pr", F.lit(math.floor((1.0 / n) * scale + 0.5) / scale)
        )
        for _ in range(int(iterations)):
            # per-SOURCE contribution first: rnd(pr/deg) is a pure
            # function of the source node, so computing it on the
            # node-sized pr ⋈ outdeg relation and then attaching it to
            # the edges yields bit-identical per-edge terms while the
            # edge relation is joined once per iteration instead of
            # twice (guide §2.4 — the old plan walked the edge
            # relation through two shuffled joins per round)
            per_src = pr.join(outdeg, pr.node == outdeg.src).select(
                "src",
                rnd(F.col("pr") / F.col("deg"), inter_digits)
                .cast("decimal(30,12)")
                .alias("c"),
            )
            contrib = (
                directed.join(bounded_broadcast(per_src, n), "src")
                .select(F.col("dst").alias("node"), "c")
                .groupBy("node")
                # exact DECIMAL sum of pre-rounded terms: aggregation
                # order cannot change the total (same trick as Decay)
                .agg(F.sum("c").cast("double").alias("in_sum"))
            )
            pr = nodes.join(
                bounded_broadcast(contrib, n), "node", "left"
            ).select(
                "node",
                rnd(
                    F.lit(base) + F.lit(d) * F.coalesce("in_sum", F.lit(0.0)),
                    inter_digits,
                ).alias("pr"),
            )
            pr = pr.localCheckpoint(eager=False)
        return pr.select("node", rnd("pr", ndigits).alias("pagerank"))

    @staticmethod
    def duck_sql(
        edges_cte: str,
        damping: float = 0.85,
        iterations: int = 5,
        ndigits: int = 6,
    ) -> str:
        """Unrolled-CTE DuckDB replay of run(undirected=True) over an
        edge CTE named ``e(p1, p2)``."""
        d = float(damping)
        inter = ndigits + 4
        parts = [
            f"e AS ({edges_cte})",
            "dir AS (SELECT p1 AS src, p2 AS dst FROM e"
            " UNION SELECT p2, p1 FROM e)",
            "nodes AS (SELECT DISTINCT src AS node FROM dir"
            " UNION SELECT DISTINCT dst FROM dir)",
            "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM (SELECT DISTINCT node FROM nodes))",
            "outdeg AS (SELECT src, count(*) AS deg FROM dir GROUP BY src)",
            f"pr0 AS (SELECT node, round(1.0 / n, {inter}) AS pr"
            " FROM (SELECT DISTINCT node FROM nodes) CROSS JOIN nn)",
        ]
        for t in range(int(iterations)):
            parts.append(
                f"c{t} AS (SELECT dir.dst AS node,"
                f" CAST(sum(CAST(round(pr{t}.pr / outdeg.deg, {inter})"
                f" AS DECIMAL(30,12))) AS DOUBLE) AS in_sum"
                f" FROM dir JOIN pr{t} ON dir.src = pr{t}.node"
                f" JOIN outdeg ON dir.src = outdeg.src GROUP BY dir.dst)"
            )
            parts.append(
                f"pr{t + 1} AS (SELECT nodes.node,"
                f" round((1.0 - {d!r}) / nn.n"
                f" + {d!r} * COALESCE(c{t}.in_sum, 0.0), {inter}) AS pr"
                f" FROM (SELECT DISTINCT node FROM nodes) nodes"
                f" CROSS JOIN nn LEFT JOIN c{t} ON nodes.node = c{t}.node)"
            )
        return (
            "WITH " + ",\n".join(parts)
            + f"\nSELECT node, round(pr, {ndigits}) AS pagerank"
            f" FROM pr{int(iterations)}"
        )


class Triangles:
    """Exact triangle enumeration over an undirected edge relation —
    the classic two-join plan with the degree-ordering optimization.

    Listing triangles by joining the raw edge list three ways
    enumerates every triangle 6 times and lets high-degree hubs
    dominate the intermediate join (Σ deg² wedges). Orienting each
    edge from its LOWER-degree endpoint to the higher (ties by id)
    first — the standard "degree ordering" trick — makes every
    triangle appear exactly once and bounds the wedge count by
    Σ out_deg², where out-degrees are at most O(sqrt(|E|)) for any
    graph. Both joins are plain equi-joins (shuffle/broadcast by
    Catalyst), so the plan scales out like any join.
    """

    @staticmethod
    def orient(edges: DataFrame) -> DataFrame:
        """(lo, hi) with lo the endpoint of smaller (degree, id)."""
        und = edges.select(
            F.col("p1").alias("a"), F.col("p2").alias("b")
        ).unionByName(
            edges.select(F.col("p2").alias("a"), F.col("p1").alias("b"))
        )
        deg = und.groupBy("a").agg(F.count("*").alias("deg"))
        d1 = deg.select(F.col("a").alias("p1"), F.col("deg").alias("deg1"))
        d2 = deg.select(F.col("a").alias("p2"), F.col("deg").alias("deg2"))
        e = edges.select("p1", "p2").join(d1, "p1").join(d2, "p2")
        first_lower = (F.col("deg1") < F.col("deg2")) | (
            (F.col("deg1") == F.col("deg2")) & (F.col("p1") < F.col("p2"))
        )
        return e.select(
            F.when(first_lower, F.col("p1")).otherwise(F.col("p2")).alias("lo"),
            F.when(first_lower, F.col("p2")).otherwise(F.col("p1")).alias("hi"),
        )

    @staticmethod
    def enumerate(edges: DataFrame) -> DataFrame:
        """All triangles of the undirected graph ``edges(p1, p2)`` as
        (p1, p2, p3) with p1 < p2 < p3, each exactly once."""
        # materialize the input once: orient references it three times
        # (degree union + the join back) and the wedge/closure joins
        # reference the orientation three more — left lazy, an
        # expensive upstream (e.g. a MinHash-LSH pair pipeline)
        # re-runs per reference (measured 13.1 s -> 3.4 s for the
        # sf0.1 near-dup triangle query).
        edges = edges.localCheckpoint(eager=False)
        o = Triangles.orient(edges).localCheckpoint(eager=False)
        # wedges around the ordered orientation: lo -> m1, lo -> m2
        w = (
            o.select(F.col("lo").alias("x"), F.col("hi").alias("m1"))
            .join(o.select(F.col("lo").alias("x"), F.col("hi").alias("m2")), "x")
            .where(F.col("m1") < F.col("m2"))
        )
        # close the wedge with the oriented edge between m1 and m2
        # (either orientation survives the degree ordering)
        closing = o.select(
            F.col("lo").alias("m1"), F.col("hi").alias("m2")
        ).unionByName(
            o.select(F.col("hi").alias("m1"), F.col("lo").alias("m2"))
        )
        tri = w.join(closing, ["m1", "m2"])
        return tri.select(
            F.least("x", "m1", "m2").alias("p1"),
            F.array_sort(F.array("x", "m1", "m2"))[1].alias("p2"),
            F.greatest("x", "m1", "m2").alias("p3"),
        )
