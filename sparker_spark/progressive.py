"""Progressive ER: PPS and GSPSN (SURVEY §2.9).

Reference parity: python/sparker/progressive.py:7-281 (PPS), :283-400
(GSPSN) — Simonini et al., "Schema-agnostic Progressive Entity
Resolution" (arXiv:1905.06385).

Progressive emission is inherently a driver-pull iterator (SURVEY §4);
the reference keeps driver PriorityQueues fed from broadcast-index
mapPartitions jobs. Here the weighted edge relation is a pinned
DataFrame and every refill is a distributed window top-k over a
mini-batch of profiles — no O(max_id) arrays, no broadcast block index.
"""

from __future__ import annotations

from queue import PriorityQueue

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparker_spark.blocking.blockers import BlockCollection
from sparker_spark.metablocking.pruning_utils import WeightTypes
from sparker_spark.metablocking.weights import EdgeWeighting


class PPS:
    """Progressive Profile Scheduling (progressive.py:7-281).

    Protocol-compatible with the reference: ``initialize()`` then
    repeated ``get_next()`` returning (-weight, p1, p2)-ordered best
    comparisons, (-1, -1, -1) when exhausted. Defaults k=20,
    mini_batch=40 (progressive.py:72-73).
    """

    def __init__(
        self,
        blocks: BlockCollection,
        profile_blocks_filtered: DataFrame,
        weight_type: str = WeightTypes.CBS,
        use_entropy: bool = False,
        k: int = 20,
        mini_batch: int = 40,
    ):
        self.blocks = blocks
        self.pbf = profile_blocks_filtered
        self.weight_type = weight_type
        self.use_entropy = use_entropy
        self.k = k + 1  # reference keeps k+1 (progressive.py:103)
        self.mini_batch = mini_batch
        self.comparison_queue: PriorityQueue = PriorityQueue()
        self._top1_iter = None
        self._profile_iter = None
        self._edges = None

    @staticmethod
    def init_frame(edges: DataFrame) -> DataFrame:
        """Distributed first pass (progressive.py:12-70): per profile
        its duplication likelihood (mean neighbor weight) and top-1
        comparison (ties -> smallest neighbor id). ``edges``: the
        src<dst half graph (src, dst, weight)."""
        return edges.groupBy("src").agg(
            F.avg("weight").alias("likelihood"),
            F.max(F.struct(F.col("weight"), (-F.col("dst")).alias("nd"))).alias(
                "top"
            ),
        )

    def initialize(self):
        """First pass (progressive.py:12-70 + initialize :214-232):
        per profile, its top-1 comparison (among larger-id neighbors)
        and its duplication likelihood (mean neighbor weight).

        PAGED driver surface: the init frame stays DISTRIBUTED
        (localCheckpoint) and feeds two globally-sorted
        ``toLocalIterator`` streams — the phase-0 top-1 run ordered
        exactly as the old full-queue drain popped it (weight desc,
        src, dst), and the likelihood-ordered profile run that the
        mini-batch refills consume. The driver never holds more than
        one page + one prefetched sort partition, where the previous
        design collected O(#profiles) rows into two PriorityQueues and
        grew an O(#emitted) dedup set — a driver OOM at 1B profiles.
        Emission order is bit-identical: a sorted stream pulled in
        pages pops in the same total order as a fully-materialized
        priority queue (same argument as GSPSN's paged get_next)."""
        ctx = EdgeWeighting.weighted_edges(
            self.blocks, self.pbf, self.weight_type, self.use_entropy
        )
        # first_step=False enumeration: only dst > src (no self-loops)
        self._edges = (
            ctx.edges.where(F.col("src") < F.col("dst"))
            .select("src", "dst", "weight")
            .localCheckpoint(eager=False)
        )
        # pin once, distributed; both sorted streams below re-read the
        # pinned rows instead of re-running the group-by per stream
        init = PPS.init_frame(self._edges).localCheckpoint(eager=False)
        self._top1_iter = (
            init.select(
                "src",
                F.col("top.weight").alias("weight"),
                (-F.col("top.nd")).cast("long").alias("dst"),
            )
            .where(F.col("weight") > 0)
            .orderBy(F.col("weight").desc(), F.col("src").asc(), F.col("dst").asc())
            .toLocalIterator(prefetchPartitions=True)
        )
        self._profile_iter = (
            init.select("src", "likelihood")
            .orderBy(F.col("likelihood").desc(), F.col("src").asc())
            .toLocalIterator(prefetchPartitions=True)
        )
        self._pull_top1_page()

    def _pull_top1_page(self) -> bool:
        """Next ``mini_batch`` rows of the phase-0 top-1 run into the
        comparison queue. Stream order == queue pop order, so paging
        is observation-free."""
        n = 0
        for r in self._top1_iter:
            self.comparison_queue.put((-r["weight"], r["src"], int(r["dst"])))
            n += 1
            if n >= self.mini_batch:
                break
        return n > 0

    def _refill(self):
        # phase 0 first: drain the globally-sorted top-1 run page by
        # page before any likelihood-batch refill (the old design had
        # the whole run pre-loaded in the comparison queue)
        if self._top1_iter is not None:
            if self._pull_top1_page():
                return True
            self._top1_iter = None
        if self._profile_iter is None:  # initialize() not called
            return False
        batch = []
        for r in self._profile_iter:
            batch.append(r["src"])
            if len(batch) >= self.mini_batch:
                break
        if not batch:
            return False
        w = Window.partitionBy("src").orderBy(
            F.col("weight").desc(), F.col("dst").asc()
        )
        # rn=1 with weight>0 is exactly the pair phase 0 already
        # emitted for this src (same tie order as init_frame's
        # max(struct(weight, -dst))) — excluding it here replaces the
        # old ever-growing `emitted` set: a refill touches each src
        # once, and pair keys include src, so no other collision
        # exists.
        top = (
            self._edges.where(F.col("src").isin(batch))
            .withColumn("rn", F.row_number().over(w))
            .where(
                (F.col("rn") <= self.k)
                & ~((F.col("rn") == 1) & (F.col("weight") > 0))
            )
            .select("src", "dst", "weight")
            .collect()
        )
        for r in top:
            self.comparison_queue.put((-r["weight"], r["src"], r["dst"]))
        return bool(top)

    def get_next(self):
        """Best remaining comparison as (p1, p2, weight), or
        (-1, -1, -1) when exhausted (progressive.py:234-280)."""
        while self.comparison_queue.empty():
            if not self._refill():
                return (-1, -1, -1)
        neg_w, p1, p2 = self.comparison_queue.get()
        return (p1, p2, -neg_w)

    def __iter__(self):
        while True:
            nxt = self.get_next()
            if nxt == (-1, -1, -1):
                return
            yield nxt


class GSPSN:
    """Global Sorted-neighborhood Progressive (progressive.py:283-400).

    (token, profile) pairs globally sorted by token; positions via
    row_number; neighbors within ±max_window_size positions weighted by
    Jaccard of window co-occurrence counts — a *range self-join* in
    DataFrame form instead of the reference's broadcast position index.
    Tie order within a token: profile_id ascending (the reference's
    zipWithIndex order is partition-dependent; documented determinism
    choice).
    """

    def __init__(self, keys: DataFrame, max_window_size: int = 3,
                 separator_id: int = -1, mini_batch: int = 1000):
        """keys: (profile_id, key) blocking keys (non-distinct ok);
        separator_id >= 0 enables the clean-clean cross-source rule
        (progressive.py:337-339). ``mini_batch``: driver-pull page
        size — emission fetches successive distributed top-k pages
        instead of collecting the whole comparison set (the reference
        collects everything into one PriorityQueue,
        progressive.py:387-394)."""
        self.keys = keys
        self.w = max_window_size
        self.separator_id = separator_id
        self.mini_batch = mini_batch
        self.queue: PriorityQueue = PriorityQueue()
        self._comparisons: DataFrame | None = None
        self._rows_iter = None
        self._exhausted = False

    def compute_comparisons(self) -> DataFrame:
        from sparker_spark.ranking import global_rank

        # global sorted-neighborhood positions: distributed global rank
        # (range partition + per-partition offsets), not a
        # single-partition window — same positions, scalable plan
        positions = global_rank(
            self.keys.select("profile_id", "key"), ["key", "profile_id"], out="pos"
        )
        W_ = self.w
        # Banded equi-join instead of a raw range predicate: a pure
        # |pos_a − pos_b| <= w join is a nested-loop plan (O(n²) —
        # fatal at scale). With bucket = pos div w, every in-window
        # partner lives in an adjacent bucket, so probing 3 buckets
        # turns it into a shuffled hash join; the range check remains
        # as a residual filter.
        bucket = F.floor(F.col("pos") / W_)
        a = positions.select(
            F.col("profile_id").alias("pa"), F.col("pos").alias("pos_a")
        ).withColumn(
            "bucket",
            F.explode(
                F.array(
                    F.floor(F.col("pos_a") / W_) - 1,
                    F.floor(F.col("pos_a") / W_),
                    F.floor(F.col("pos_a") / W_) + 1,
                )
            ),
        )
        b = positions.select(
            F.col("profile_id").alias("pb"),
            F.col("pos").alias("pos_b"),
            bucket.alias("bucket"),
        )
        pairs = (
            a.join(b, "bucket")
            .where(
                (F.col("pos_b") >= F.col("pos_a") - W_)
                & (F.col("pos_b") <= F.col("pos_a") + W_)
                & (F.col("pos_b") != F.col("pos_a"))
            )
            .where(F.col("pb") < F.col("pa"))
        )
        if self.separator_id >= 0:
            pairs = pairs.where(
                (F.col("pb") <= self.separator_id)
                & (F.col("pa") > self.separator_id)
            )
        cbs = pairs.groupBy("pa", "pb").agg(F.count("*").alias("cbs"))
        counts = positions.groupBy("profile_id").agg(
            F.count("*").alias("n_pos")
        )
        return (
            cbs.join(
                counts.select(
                    F.col("profile_id").alias("pa"), F.col("n_pos").alias("na")
                ),
                "pa",
            )
            .join(
                counts.select(
                    F.col("profile_id").alias("pb"), F.col("n_pos").alias("nb")
                ),
                "pb",
            )
            .select(
                F.col("pb").alias("p1"),
                F.col("pa").alias("p2"),
                (
                    F.col("cbs") / (F.col("na") + F.col("nb") - F.col("cbs"))
                ).alias("weight"),
            )
        )

    def initialize(self):
        """Pin the comparison relation and pull the first page.
        Pages stream from one globally-sorted local iterator (see
        _refill), so the driver never holds more than one page beyond
        what it already emitted and a full drain is one sort + one
        scan."""
        self._comparisons = self.compute_comparisons().localCheckpoint(
            eager=False
        )
        self._rows_iter = None
        self._exhausted = False
        self._refill()

    def _refill(self) -> bool:
        """Pull the next ``mini_batch`` rows from ONE globally-sorted
        pass over the comparison relation. ``toLocalIterator`` streams
        the range-partitioned sort output partition-by-partition in
        order, so a full drain costs one sort + one scan — the
        keyset-cursor predecessor re-filtered and re-sorted the pinned
        relation once per page (O(pages × scan)). Emission order is
        the identical total order (weight desc, p1, p2), so page size
        remains observation-free."""
        if self._exhausted or self._comparisons is None:
            return False
        if self._rows_iter is None:
            self._rows_iter = (
                self._comparisons.orderBy(F.col("weight").desc(), "p1", "p2")
                .toLocalIterator(prefetchPartitions=True)
            )
        n = 0
        for r in self._rows_iter:
            self.queue.put((-r["weight"], r["p1"], r["p2"]))
            n += 1
            if n >= self.mini_batch:
                break
        if n == 0:
            self._exhausted = True
            return False
        return True

    def get_next(self):
        if self.queue.empty() and not self._refill():
            return (-1, -1, -1)
        neg_w, p1, p2 = self.queue.get()
        return (p1, p2, -neg_w)
