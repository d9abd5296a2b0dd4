"""Meta-blocking edge weighting.

Reference parity: python/sparker/common_node_pruning.py (calc_cbs
:104-146, calc_weights :149-263, compute_statistics :56-101).

The reference enumerates each profile's neighborhood from a
driver-collected broadcast block index inside mapPartitions with
O(max_id) dense Python arrays per partition — its documented
scalability cliff (the whole filtered block collection must fit on the
driver AND in every Python worker). This engine replaces that with the
classic relational form: a self-equi-join of the exploded
(block, profile) assignments on block_id followed by a hash aggregate.
When the caller knows Σ block_size and it fits, the membership side is
broadcast (the reference's broadcast index, without the driver
collect); otherwise Catalyst picks shuffle-hash/sort-merge, AQE splits
skewed block_ids, Tungsten spills — none of which the reference can
do. That enumeration
lives in one place, ``_shared_block_pairs``, which also feeds the GSMB
features (feature_generator.py) and the block-collection PC/PQ
(evaluation.py); each weight formula is defined once, in
``EdgeWeighting._weights``.

Output: the *directed* edge relation ``edges(src, dst, weight, cbs)``
(both orientations). Directed matters for parity: WNP/CNP thresholds
average each node's full neighborhood (wnp.py:192-229 runs with
first_step=True), and the EJS formula is orientation-dependent
(common_node_pruning.py:217-248). Pruners take the ``src < dst`` half.

ARCS (reference semantics, not the published formula): both reference
trees (common_node_pruning.py:185-201, CommonNodePruning.scala:236-258)
divide the CBS count by comparisons(b) for EVERY block b of the SOURCE
profile — the division sits inside the block loop, so the weight is
cbs / Π_{b∈blocks(src)} comparisons(b), asymmetric in src and
dependent on non-shared blocks. We implement exactly that (Π via
exp(Σ ln), see the ARCS entry of ``_weights``) because parity with the
reference is the contract here; the meta-blocking papers' published
ARCS — Σ over *shared* blocks of 1/comparisons(b) — is a different
quantity and is NOT what this module computes. The oracle query
`er_arcs_edges` pins the reference semantics.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparker_spark.blocking.blockers import BlockCollection
from sparker_spark.metablocking.pruning_utils import WeightTypes
from sparker_spark.session import bounded_broadcast, shuffle_partitions

EPS = 0.00000000001  # EJS epsilon guard, common_node_pruning.py:218,228


def _shared_block_pairs(
    blocks: BlockCollection,
    sums: dict[str, Column] | None = None,
    num_blocks: int | None = None,
    num_members: int | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """The one enumeration of co-occurring profile pairs: every edge
    weight, ``all_weights``, the GSMB features and the block-collection
    PC/PQ aggregate over the blocks two profiles share.

    ``sums`` maps a name to a per-block Column over ``blocks.meta``;
    each is summed over the shared blocks as ``<name>_sum``. Returns
    ``(half, loops)``:

    - ``half (src, dst, cbs, <name>_sum...)``: each co-occurring pair
      once, src < dst. Dirty ER compares everything in a block;
      clean-clean only across sources (pruning_utils.py:29-53
      get_all_neighbors).
    - ``loops``: dirty ER's self-loops, the same columns with
      src == dst (None for clean-clean). calc_cbs's enumeration guard
      is `(profile_id < neighbor_id) or first_step`
      (common_node_pruning.py:139), so with first_step=True the
      profile accumulates itself (cbs = #blocks). WNP/CNP thresholds,
      WEP's global mean and EJS statistics are all computed over that
      self-inclusive neighborhood; final edge sets never contain
      self-loops.

    ``num_blocks``: caller-supplied count of surviving blocks (an
    optimizer hint, not a semantic knob). A dirty collection with
    <= 63 blocks — the post-purge/filter mega-block regime, where
    every block is near-universal and the pair aggregate is the
    bottleneck — takes the bitmask plan, which replaces the
    shuffle+agg entirely. Everything else takes the block self-join.

    ``num_members``: caller-supplied Σ block_size, the exact number of
    membership rows (an optimizer hint too). Plan shape of the block
    self-join: the per-block sums ride a join against
    ``blocks.meta`` bounded by ``num_blocks``, and the ``dst`` side of
    the self-join is the membership relation bounded by
    ``num_members``; each is broadcast when its bound says it fits
    (:func:`~sparker_spark.session.bounded_broadcast`), so the
    enumeration shuffles only on the pair key. Without a bound the plan
    is Catalyst's: it shuffles every membership on ``bid``, and AQE at
    best turns the join into a broadcast read from that shuffle's
    output.
    """
    sums = sums or {}
    if (
        num_blocks is not None
        and 0 < num_blocks <= 63  # 0 blocks: general path (an empty
        # create_map is not a valid literal)
        and not blocks.clean
    ):
        return _bitmask_pairs(blocks, sums)
    a = blocks.assignments.select(
        F.col("block_id").alias("bid"),
        F.col("profile_id").alias("src"),
        F.col("source_id").alias("src_source"),
    )
    if sums:
        # ride the per-block values along on one side of the self-join
        # (assignment-sized) instead of joining meta onto the Σ size²
        # enumerated relation
        a = a.join(
            bounded_broadcast(
                blocks.meta.select(
                    F.col("block_id").alias("bid"),
                    *[c.alias(name) for name, c in sums.items()],
                ),
                num_blocks,
            ),
            "bid",
        )
    b = bounded_broadcast(
        blocks.assignments.select(
            F.col("block_id").alias("bid"),
            F.col("profile_id").alias("dst"),
            F.col("source_id").alias("dst_source"),
        ),
        num_members,
    )
    # Every shared-block aggregate is SYMMETRIC in (p, q), so only the
    # src < dst half is enumerated: the filter runs inside the join's
    # codegen stage, BEFORE the pair-key exchange, halving shuffled
    # rows and aggregation input on the hot path of every weight and
    # pruning query.
    if blocks.clean:
        cond = (F.col("src_source") != F.col("dst_source")) & (
            F.col("src") < F.col("dst")
        )
    else:
        cond = F.col("src") < F.col("dst")
    aggs = [F.count("*").cast("double").alias("cbs")] + [
        F.sum(name).alias(f"{name}_sum") for name in sums
    ]
    # Repartition the raw enumeration by the pair key BEFORE the
    # aggregation. The join output is clustered by bid, and a pair
    # occurs exactly once per shared block — so a map-side partial
    # aggregate over bid-partitioned data reduces ~nothing while its
    # hash map grows with the partition's ROW count (for mega-block
    # skew that is GBs per task: the GC-thrash path). Hash-clustering
    # on (src, dst) first bounds aggregation memory by
    # groups-per-partition, costs the same shuffled bytes the useless
    # partial output did, and Catalyst elides the post-agg exchange
    # since the distribution is satisfied.
    half = (
        a.join(b, "bid")
        .where(cond)
        .select("src", "dst", *sums)
        .repartition("src", "dst")
        .groupBy("src", "dst")
        .agg(*aggs)
    )
    if blocks.clean:
        return half, None
    # self-loops are per-profile aggregates of the assignment relation
    # — no enumeration needed
    loops = (
        a.groupBy("src")
        .agg(*aggs)
        .select("src", F.col("src").alias("dst"), *half.columns[2:])
    )
    return half, loops


def _bitmask_pairs(
    blocks: BlockCollection, sums: dict[str, Column]
) -> tuple[DataFrame, DataFrame]:
    """Mega-block plan of :func:`_shared_block_pairs`: <= 63 surviving
    blocks (dirty ER) — block membership per profile fits ONE long
    bitmask (63, not 64: bit 63 of a signed long is the sign bit and
    1 << 63 is not a representable positive literal).

    The general plan must shuffle the Σ size² enumeration on the pair
    key and hash-aggregate it; with masks every shared-block aggregate
    is computable on any single enumerated row: cbs(p, q) =
    bit_count(m_p & m_q), and each sum unrolls into <= 63 conditional
    adds over the driver-collected per-block constants (a bounded
    scalar, same class as the purge histogram). Same output as the
    general plan; self-loops are (p, p) over m_p alone.
    """
    rows = blocks.meta.select(
        "block_id", "block_size", *[c.alias(name) for name, c in sums.items()]
    ).collect()
    bit_map = F.create_map(
        *[F.lit(v) for i, r in enumerate(rows) for v in (r["block_id"], 1 << i)]
    )
    asg = blocks.assignments.select(
        F.col("block_id").alias("bid"), F.col("profile_id").alias("pid")
    ).withColumn("bit", bit_map[F.col("bid")])
    # pin BEFORE counting: the count writes the pin, so the mask
    # aggregation runs once, and both tiers below consume masks 2-3×
    # (distributed per-executor blocks — #profiles rows never touch
    # the driver)
    masks = (
        asg.groupBy("pid")
        .agg(F.expr("bit_or(bit)").alias("mask"))
        .localCheckpoint(eager=False)
    )
    n_profiles = masks.count()

    def aggregates(m: str) -> list[Column]:
        """cbs and the sums over the blocks whose bits are set in m."""
        out = [F.expr(f"bit_count({m})").cast("double").alias("cbs")]
        for name in sums:
            terms = [
                F.when(F.expr(f"({m} >> {i}) & 1") == 1, F.lit(float(r[name])))
                .otherwise(F.lit(0.0))
                for i, r in enumerate(rows)
            ]
            out.append(reduce(operator.add, terms).alias(f"{name}_sum"))
        return out

    # Two enumeration tiers, chosen by measured work:
    #   block-join: Σ size(b)² enumerated rows, one survivor per pair
    #     (lowest-shared-block filter);
    #   mask nested-loop: n²/2 candidate rows over the n-row mask
    #     relation.
    # Near-universal blocks make Σ size² ≈ B·n² — up to B× the nested
    # loop's work for the SAME Θ(n²) output, so when n² is smaller the
    # quadratic loop IS the cheaper plan (it is output-optimal: this
    # regime's co-occurrence relation is itself quadratic). Everywhere
    # else the block-join wins by orders of magnitude and remains the
    # scale-out plan.
    if n_profiles * n_profiles < sum(r["block_size"] ** 2 for r in rows):
        # AQE coalesces the tiny mask aggregate to ONE partition; left
        # as-is the n²/2 loop (and everything downstream of it) would
        # run single-task. Re-spread the STREAM side so the loop
        # parallelizes; the build side stays compact for the broadcast.
        a_m = masks.repartition(shuffle_partitions(masks.sparkSession)).select(
            F.col("pid").alias("src"), F.col("mask").alias("m1")
        )
        b_m = masks.select(F.col("pid").alias("dst"), F.col("mask").alias("m2"))
        pairs = a_m.crossJoin(b_m).where(
            (F.col("src") < F.col("dst")) & (F.expr("m1 & m2") != 0)
        )
    else:
        am = asg.join(masks, "pid").select(
            "bid", F.col("pid").alias("src"), "bit", F.col("mask").alias("m1")
        )
        bm = asg.join(masks, "pid").select(
            "bid", F.col("pid").alias("dst"), F.col("mask").alias("m2")
        )
        pairs = am.join(bm, "bid").where(
            (F.col("src") < F.col("dst"))
            # emit once: only from the lowest shared block
            & (F.expr("(m1 & m2) & -(m1 & m2)") == F.col("bit"))
        )
    half = pairs.withColumn("m12", F.expr("m1 & m2")).select(
        "src", "dst", *aggregates("m12")
    )
    loops = masks.select(
        F.col("pid").alias("src"), F.col("pid").alias("dst"), *aggregates("mask")
    )
    return half, loops


def _mirror(half: DataFrame) -> DataFrame:
    """The other orientation of every row: src and dst swapped."""
    return half.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), *half.columns[2:]
    )


def _directed(base: DataFrame) -> DataFrame:
    """Both orientations from a src <= dst base relation (the
    undirected half plus any dirty self-loops)."""
    return base.unionByName(_mirror(base.where(F.col("src") < F.col("dst"))))


def _both_orientations(half: DataFrame, loops: DataFrame | None) -> DataFrame:
    """The directed relation of :func:`_shared_block_pairs`' output:
    the half, its mirror, then any dirty self-loops."""
    directed = half.unionByName(_mirror(half))
    return directed if loops is None else directed.unionByName(loops)


def _entropy_sum(use_entropy: bool) -> dict[str, Column] | None:
    """The per-block value entropy-boosted weights sum over shared
    blocks (as ``entropy_sum``)."""
    return {"entropy": F.col("entropy")} if use_entropy else None


@dataclass
class EdgeContext:
    """Everything a pruner needs: the directed weighted edges plus the
    scalars the reference collects (#blocks, Σ block sizes, #edges)."""

    edges: DataFrame  # (src LONG, dst LONG, cbs DOUBLE, weight DOUBLE)
    weight_type: str
    num_blocks: int
    # Σ block_size: an upper bound on #profiles that pruners use for
    # broadcast guards instead of running an aggregate
    total_block_size: int
    # the (profile_id, block_id) membership relation the edges were
    # built from
    profiles: DataFrame
    num_edges: int | None = None  # only computed for EJS
    _materialized: bool = False
    # For SYMMETRIC weight types (w(src,dst) == w(dst,src): CBS, JS,
    # ECBS, chi²), the canonical storage is the src <= dst base
    # relation (undirected half + dirty self-loops); ``edges`` is then
    # a view = base ∪ mirror(base half). ARCS/EJS are asymmetric in
    # (src, dst) and keep the full directed relation.
    _base: DataFrame | None = None

    def materialize(self) -> "EdgeContext":
        """Pin the edge relation once before multi-consumer pruning.
        Every pruner reads ``edges`` from several plan legs
        (thresholds / top-k / the p1<p2 half), and Spark re-runs the
        Σ size² co-occurrence enumeration + shuffle for each leg —
        exchange reuse does not survive AQE re-optimization across
        those subtrees. The pin is a lazy ``localCheckpoint`` that the
        context owns: its first reader (the threshold aggregate, the
        top-k or the global mean) writes it, and every later leg reads
        it, so pinning costs no job of its own (pinning cut the sf0.1
        mega-block WNP from 34 s to 16 s). For symmetric weight types
        only the src <= dst BASE is pinned — half the rows of the
        directed relation — and the mirror is a cheap map over the
        pinned data. Idempotent."""
        if not self._materialized:
            if self._base is not None:
                self._base = self._base.localCheckpoint(eager=False)
                self.edges = _directed(self._base)
            else:
                self.edges = self.edges.localCheckpoint(eager=False)
            self._materialized = True
        return self

    def half(self) -> DataFrame:
        """The undirected `p1 < p2` half (emit-once convention,
        common_node_pruning.py:139)."""
        src_rel = self._base if self._base is not None else self.edges
        return src_rel.where(F.col("src") < F.col("dst")).select(
            F.col("src").alias("p1"), F.col("dst").alias("p2"), "weight"
        )


class EdgeWeighting:
    @staticmethod
    def co_occurrence(
        blocks: BlockCollection,
        use_entropy: bool = False,
        num_blocks: int | None = None,
    ) -> DataFrame:
        """Directed co-occurrence pairs with shared-block aggregates:
        (src, dst, cbs[, entropy_sum]) — both orientations of every
        co-occurring pair plus dirty ER's self-loops.

        ``num_blocks``: the optimizer hint of
        :func:`_shared_block_pairs` (<= 63 dirty blocks take the
        bitmask plan).
        """
        half, loops = _shared_block_pairs(
            blocks, _entropy_sum(use_entropy), num_blocks
        )
        return _both_orientations(half, loops)

    @staticmethod
    def arcs_log_denominator(blocks: BlockCollection) -> DataFrame:
        """Per-profile Σ ln(comparisons) over the profile's surviving
        blocks — the log of the reference's ARCS denominator.

        The reference's ARCS comparisons(b) is NOT the block's
        meta-level comparison count for clean-clean collections: it is
        the PRODUCT of the per-source profile counts
        (common_node_pruning.py:195-196 ``np.prod``), which equals
        n1·n2 (= the pairwise count) for two sources but diverges for
        k >= 3 (n1·n2·n3 vs n1n2+n1n3+n2n3). Computed here as
        Σ_i ln n_i per block from the assignment relation — exact in
        the log domain where ARCS consumes it. Dirty keeps the
        meta-level lb·(lb−1) (common_node_pruning.py:193-194)."""
        if blocks.clean:
            ln_comp = (
                blocks.assignments.groupBy("block_id", "source_id")
                .agg(F.count("*").alias("n"))
                .groupBy("block_id")
                .agg(F.sum(F.log(F.col("n").cast("double"))).alias("ln_comp"))
            )
        else:
            ln_comp = blocks.meta.select(
                "block_id",
                F.log(F.col("comparisons").cast("double")).alias("ln_comp"),
            )
        return (
            blocks.assignments.select("block_id", "profile_id")
            .join(ln_comp, "block_id")
            .groupBy("profile_id")
            .agg(F.sum("ln_comp").alias("logden"))
        )

    @staticmethod
    def profile_num_blocks(profile_blocks_filtered: DataFrame) -> DataFrame:
        """|B(p)| per profile — reference profile_blocks_size_index
        (built from the *filtered* profile blocks, before the
        zero-comparison block drop: notebooks/Main.scala:117)."""
        return profile_blocks_filtered.groupBy("profile_id").agg(
            F.count("*").alias("num_blocks")
        )

    @staticmethod
    def weighted_edges(
        blocks: BlockCollection,
        profile_blocks_filtered: DataFrame,
        weight_type: str = WeightTypes.CBS,
        use_entropy: bool = False,
    ) -> EdgeContext:
        """Build the directed weighted edge relation for any of the six
        weight types (common_node_pruning.py:149-263)."""
        if weight_type not in WeightTypes.ALL:
            raise ValueError(f"invalid weight type: {weight_type}")

        sizes = blocks.meta.agg(
            F.count("*").alias("n"), F.sum("block_size").alias("s")
        ).first()
        num_blocks = sizes["n"]  # len(block_index)
        # Symmetric weights (w(src,dst) == w(dst,src)) are computed on
        # the src <= dst base relation only — half the enumeration
        # output ever gets weighted/materialized; the directed view
        # mirrors it. ARCS (src-sided denominator) and EJS (asymmetric
        # denominator + stats pre-pass over the directed relation)
        # keep the full directed build.
        symmetric = weight_type in (
            WeightTypes.CBS,
            WeightTypes.JS,
            WeightTypes.ECBS,
            WeightTypes.CHI_SQUARE,
        )
        half, loops = _shared_block_pairs(
            blocks, _entropy_sum(use_entropy), num_blocks, sizes["s"]
        )
        if symmetric:
            co = half if loops is None else half.unionByName(loops)
        else:
            co = _both_orientations(half, loops)
        e, num_edges = EdgeWeighting._with_profile_stats(
            co, blocks, profile_blocks_filtered, [weight_type]
        )
        weight = EdgeWeighting._weights(
            num_blocks, num_edges, F.col("entropy_sum") if use_entropy else None
        )[weight_type]
        weighted = e.select(
            "src", "dst", "cbs", weight.cast("double").alias("weight")
        )
        return EdgeContext(
            edges=_directed(weighted) if symmetric else weighted,
            weight_type=weight_type,
            num_blocks=num_blocks,
            total_block_size=sizes["s"] or 0,
            profiles=profile_blocks_filtered,
            num_edges=num_edges,
            _base=weighted if symmetric else None,
        )

    @staticmethod
    def all_weights(
        blocks: BlockCollection, profile_blocks_filtered: DataFrame
    ) -> DataFrame:
        """All six weight types in ONE enumeration pass.

        The per-type ``weighted_edges`` builds are independent pipelines
        — calling all six repeats the Σ size² co-occurrence enumeration
        shuffle six times. When a user wants the full weight matrix
        (comparing pruning schemes, feature generation, weight-scheme
        selection), this computes it with exactly one enumeration +
        one per-profile-stats join tree: the marginal cost of each
        extra weight is a column expression, not a shuffle.

        Returns the DIRECTED relation
        ``(src, dst, cbs, js, ecbs, log_arcs, chi2, ejs)`` where
        ``log_arcs`` is the log-domain reference-ARCS weight
        (ln cbs − Σ ln comparisons over the SOURCE profile's blocks —
        see the ARCS note in the module docstring; the linear-domain
        weight underflows for block-rich profiles).

        Reference parity: each column equals the corresponding
        ``weighted_edges(weight_type)`` output
        (common_node_pruning.py:149-263); pinned by the
        ``er_all_weight_edges`` oracle and tests.
        """
        num_blocks = blocks.meta.count()
        e, num_edges = EdgeWeighting._with_profile_stats(
            EdgeWeighting.co_occurrence(blocks, num_blocks=num_blocks),
            blocks,
            profile_blocks_filtered,
            WeightTypes.ALL,
        )
        w = EdgeWeighting._weights(num_blocks, num_edges)
        cbs = F.col("cbs")
        return e.select(
            "src",
            "dst",
            cbs.alias("cbs"),
            w[WeightTypes.JS].cast("double").alias("js"),
            w[WeightTypes.ECBS].cast("double").alias("ecbs"),
            (F.log(cbs) - F.col("src_logden")).cast("double").alias("log_arcs"),
            w[WeightTypes.CHI_SQUARE].cast("double").alias("chi2"),
            w[WeightTypes.EJS].cast("double").alias("ejs"),
        )

    @staticmethod
    def _with_profile_stats(
        co: DataFrame,
        blocks: BlockCollection,
        profile_blocks_filtered: DataFrame,
        weight_types: list[str],
    ) -> tuple[DataFrame, int | None]:
        """Join onto the co-occurrence relation the per-profile
        quantities ``weight_types`` read: |B(src)| and |B(dst)| (every
        type but CBS), the source's ARCS log-denominator, and EJS's
        distinct-neighbor counts of both endpoints. Returns the joined
        relation and EJS's global distinct-edge count (None without
        EJS)."""
        num_edges = None
        if WeightTypes.EJS in weight_types:
            # stats pre-pass (compute_statistics :56-101): per-profile
            # distinct-neighbor counts + global distinct edge count.
            # NOTE the reference's compute_statistics carries a reset
            # bug — its cleanup loop zeroes local_weights[i] for
            # i in range(neighbors_number) instead of
            # local_weights[neighbors[i]] (common_node_pruning.py:
            # 94-95) — so neighbor flags leak across the profiles of a
            # partition and its statistics are partition-order-
            # dependent. This engine computes the intended exact
            # statistics (tests/test_multi3_parity.py pins parity with
            # the reference formula fed corrected stats).
            # co is consumed by three legs (the edge join, the stats
            # aggregate, the distinct-edge count) — pin it once (the
            # count writes the pin) so the enumeration shuffle doesn't
            # run three times.
            co = co.localCheckpoint(eager=False)
            per_profile = co.groupBy("src").agg(F.count("*").alias("e_cnt"))
            num_edges = co.where(F.col("src") < F.col("dst")).count()
        e = co
        if set(weight_types) != {WeightTypes.CBS}:
            # CBS is the raw co-occurrence count — |B(p)| never enters
            # the formula, so the CBS edge dump stays a pure
            # enumerate→aggregate plan without these two joins.
            sizes = EdgeWeighting.profile_num_blocks(profile_blocks_filtered)
            e = e.join(
                sizes.select(
                    F.col("profile_id").alias("src"),
                    F.col("num_blocks").alias("src_blocks"),
                ),
                "src",
            ).join(
                sizes.select(
                    F.col("profile_id").alias("dst"),
                    F.col("num_blocks").alias("dst_blocks"),
                ),
                "dst",
            )
        if WeightTypes.ARCS in weight_types:
            logden = EdgeWeighting.arcs_log_denominator(blocks)
            e = e.join(
                logden.select(
                    F.col("profile_id").alias("src"),
                    F.col("logden").alias("src_logden"),
                ),
                "src",
            )
        if WeightTypes.EJS in weight_types:
            e = e.join(
                per_profile.select(F.col("src"), F.col("e_cnt").alias("src_edges")),
                "src",
                "left",
            ).join(
                per_profile.select(
                    F.col("src").alias("dst"), F.col("e_cnt").alias("dst_edges")
                ),
                "dst",
                "left",
            )
        return e, num_edges

    @staticmethod
    def _weights(
        num_blocks: int, num_edges: int | None = None, ent: Column | None = None
    ) -> dict[str, Column]:
        """Every weight formula (calc_weights, common_node_pruning.py:
        149-263) over the relation :meth:`_with_profile_stats` builds;
        EJS only when ``num_edges`` is given. ``ent``: the shared-block
        entropy sum the weights are boosted by (None: no boost)."""
        cbs = F.col("cbs")
        src_blocks = F.col("src_blocks")
        dst_blocks = F.col("dst_blocks")
        B = F.lit(float(num_blocks))

        def boost(w):
            return w if ent is None else w * ent

        js = cbs / (src_blocks + dst_blocks - cbs)
        weights = {
            # calc_weights leaves CBS counts untouched (entropy is
            # accumulated but unused for CBS in the reference).
            WeightTypes.CBS: cbs,
            WeightTypes.JS: boost(js),
            WeightTypes.ECBS: boost(
                cbs * F.log10(B / src_blocks) * F.log10(B / dst_blocks)
            ),
            # Reference ARCS (both Python common_node_pruning.py:185-201
            # and Scala CommonNodePruning.scala:236-258) divides the CBS
            # count by comparisons(b) for EVERY block b of the SOURCE
            # profile — not 1/comparisons summed over shared blocks as
            # in the meta-blocking papers. weight(src,dst) =
            # cbs / Π_{b∈blocks(src)} comparisons(b), asymmetric in
            # src. Π via exp(Σ ln) — one agg + join instead of a
            # per-profile loop; underflow for block-rich profiles
            # matches the reference's repeated-division underflow (→0).
            # Documented deviations: entropy (reference multiplies
            # entropies[dst] once per src block — ent^{|blocks(src)|};
            # we multiply once) and >2-source clean comparisons
            # (reference uses Π per-source sizes; our meta stores
            # pairwise cross-comparisons — identical for ≤2 sources).
            WeightTypes.ARCS: boost(cbs * F.exp(-F.col("src_logden"))),
            WeightTypes.CHI_SQUARE: boost(
                EdgeWeighting._chi_square(cbs, dst_blocks, src_blocks, B)
            ),
        }
        if num_edges is not None:
            E = F.lit(float(num_edges))
            e_src = F.coalesce(F.col("src_edges").cast("double"), F.lit(0.0)) + EPS
            e_dst = F.coalesce(F.col("dst_edges").cast("double"), F.lit(EPS))
            # the reference swallows math errors (log of non-positive,
            # zero division) into weight 0 via try/except
            # (common_node_pruning.py:233-246); the denominator guard
            # reproduces that without relying on engine NaN semantics
            if ent is not None:
                # parity with the reference's (quirky) entropy
                # bracketing, common_node_pruning.py:232-239
                arg = E / e_dst * F.log10(E / e_src)
                ejs = F.when(arg > 0, (js * ent) * F.log10(arg)).otherwise(0.0)
            else:
                den = e_dst * F.log10(E / e_src)
                ejs = F.when(den > 0, js * F.log10(E / den)).otherwise(0.0)
            weights[WeightTypes.EJS] = F.coalesce(ejs, F.lit(0.0))
        return weights

    @staticmethod
    def _chi_square(cbs, dst_blocks, src_blocks, total_blocks):
        """2x2 chi-square, exactly common_node_pruning.py:6-35.

        Contingency cells: [cbs, dst-cbs; src-cbs, B-(dst+src-cbs)],
        row totals [dst, B-dst], column totals [src, B-src].
        """
        c00 = cbs
        c01 = dst_blocks - cbs
        c10 = src_blocks - cbs
        c11 = total_blocks - (dst_blocks + src_blocks - cbs)
        r0 = dst_blocks
        r1 = total_blocks - dst_blocks
        k0 = src_blocks
        k1 = total_blocks - src_blocks

        def term(obs, row_total, col_total):
            expected = (row_total * col_total) / total_blocks
            return F.pow(obs - expected, F.lit(2.0)) / expected

        return (
            term(c00, r0, k0)
            + term(c01, r0, k1)
            + term(c10, r1, k0)
            + term(c11, r1, k1)
        )
