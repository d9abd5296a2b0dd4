"""Feature generation for Generalized Supervised Meta-Blocking.

Reference parity: python/sparker/feature_generator.py:13-249. The
reference builds five driver-collected broadcast indexes plus a
per-partition dense-array pass; every one of them is a per-profile
aggregate here, joined into the pair relation — no driver state.

Features per co-occurring pair (p1 < p2), matching
feature_generator.py:155-176 exactly (natural log):

  cfibf      = cbs · ln(B/|B(p1)|) · ln(B/|B(p2)|)
  raccb      = max(Σ_{b shared} 1/comparisons(b), 1e-6)
               — per the GSMB paper. Documented deviation: the
               reference adds only the FIRST shared block (the +=
               guards on cbs==1, feature_generator.py:148-151) in
               nondeterministic set order; same for rs.
  js         = cbs / (redundant(p1) + redundant(p2) − cbs)
  numCompP1/2= non-redundant comparisons (distinct neighbors; for
               dirty ER this includes the reference's self-neighbor,
               calc_profiles_stats:42-48 has no self-exclusion)
  rs         = Σ_{b shared} 1/size(b)
  aejs       = js₁ · ln(T/comp(p1)) · ln(T/comp(p2)),
               js₁ = cbs/(|B(p1)|+|B(p2)|−cbs), T = Σ comparisons
  nrs        = rs / (invsize(p1) + invsize(p2) − rs)
  wjs        = raccb / (invcomp(p1) + invcomp(p2) − raccb)
  is_match   = groundtruth label (optional)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparker_spark.blocking.blockers import BlockCollection
from sparker_spark.metablocking.weights import _shared_block_pairs

# the reference's feature schema is float32 (feature_generator.py:
# 233-245); every feature is computed in double and cast at the end
FEATURE_TYPE = "float"


class FeatureGenerator:
    @staticmethod
    def generate_features(
        blocks: BlockCollection,
        groundtruth: DataFrame | None = None,
        id_map: DataFrame | None = None,
    ) -> DataFrame:
        """blocks: the (filtered) block collection. groundtruth:
        optional (p1, p2) engine-id pairs. id_map: optional
        (profile_id, original_id) to emit original ids like the
        reference's convert_ids=True."""
        meta = blocks.meta.select("block_id", "block_size", "comparisons")
        asg = blocks.assignments.select("block_id", "profile_id", "source_id")

        # ---- per-profile indexes (feature_generator.py:96-118) ----
        pb = asg.join(meta, "block_id")
        per_profile = pb.groupBy("profile_id").agg(
            F.count("*").alias("num_blocks"),
            F.sum(1.0 / F.col("block_size")).alias("inv_size_sum"),
            F.sum(F.col("comparisons").cast("double")).alias("comp_sum"),
            F.sum(1.0 / F.col("comparisons")).alias("inv_comp_sum"),
        )

        totals = blocks.meta.agg(
            F.count("*").alias("b"),
            F.sum("comparisons").alias("t"),
            F.sum("block_size").alias("s"),
        ).first()
        num_blocks_total = totals["b"]
        total_comparisons = totals["t"] or 0

        # ---- pair relation with shared-block aggregates ----
        # The pair enumeration is the dominant cost (Σ size(b)² rows);
        # it runs ONCE: the per-pair aggregates come straight out of
        # it, and the per-profile redundant/non-redundant stats
        # (calc_profiles_stats :13-57) are derived from the aggregated
        # half-edge relation below instead of a second enumeration.
        half, _ = _shared_block_pairs(
            blocks,
            {
                "inv_comp": 1.0 / F.col("comparisons"),
                "inv_size": 1.0 / F.col("block_size"),
            },
            num_blocks_total,
            totals["s"],
        )
        # three plan legs consume this relation (the feature join
        # plus both symmetrized halves of the stats derivation);
        # materialize once so the pair enumeration never re-runs per
        # leg (exchange reuse does not survive AQE re-optimization
        # across subtrees)
        pairs = half.select(
            F.col("src").alias("p1"),
            F.col("dst").alias("p2"),
            "cbs",
            F.col("inv_comp_sum").alias("raccb_raw"),
            F.col("inv_size_sum").alias("rs"),
        ).localCheckpoint(eager=False)

        # redundant/non-redundant comparison stats, derived by
        # symmetrizing the half-edge relation (each unordered pair
        # contributes cbs to both endpoints — exactly the directed
        # neighborhood co_occurrence would enumerate). Dirty ER's
        # self-inclusive neighborhood (the self-loops of
        # weights._shared_block_pairs) adds num_blocks / +1 per
        # profile; both quantities are integer-valued so the
        # derivation is exact. Catalyst
        # reuses the pairs shuffle exchange between this branch and
        # the main pair relation.
        sym = pairs.select(F.col("p1").alias("pid"), "cbs").unionByName(
            pairs.select(F.col("p2").alias("pid"), "cbs")
        )
        stats = sym.groupBy("pid").agg(
            F.sum("cbs").alias("red_n"), F.count("*").alias("nonred_n")
        )

        dirty_red = F.lit(0.0) if blocks.clean else F.col("num_blocks").cast("double")
        dirty_nonred = F.lit(0) if blocks.clean else F.lit(1)

        def side(name):
            return (
                per_profile.join(stats, per_profile.profile_id == stats.pid, "left")
                .select(
                    F.col("profile_id").alias(name),
                    F.col("num_blocks").alias(f"nb_{name}"),
                    F.col("inv_size_sum").alias(f"invsize_{name}"),
                    F.col("comp_sum").alias(f"comp_{name}"),
                    F.col("inv_comp_sum").alias(f"invcomp_{name}"),
                    (F.coalesce("red_n", F.lit(0.0)) + dirty_red).alias(f"red_{name}"),
                    (F.coalesce("nonred_n", F.lit(0)) + dirty_nonred).alias(
                        f"nonred_{name}"
                    ),
                )
            )

        e = pairs.join(side("p1"), "p1").join(side("p2"), "p2")

        B = F.lit(float(num_blocks_total))
        T = F.lit(float(total_comparisons))
        cbs = F.col("cbs")
        raccb = F.greatest(F.col("raccb_raw"), F.lit(1.0e-6))
        js = cbs / (F.col("red_p1") + F.col("red_p2") - cbs)
        cfibf = cbs * F.log(B / F.col("nb_p1")) * F.log(B / F.col("nb_p2"))
        js1 = cbs / (F.col("nb_p1") + F.col("nb_p2") - cbs)
        aejs = js1 * F.log(T / F.col("comp_p1")) * F.log(T / F.col("comp_p2"))
        nrs = F.col("rs") / (
            F.col("invsize_p1") + F.col("invsize_p2") - F.col("rs")
        )
        wjs = raccb / (F.col("invcomp_p1") + F.col("invcomp_p2") - raccb)

        out = e.select(
            "p1",
            "p2",
            cfibf.cast(FEATURE_TYPE).alias("cfibf"),
            raccb.cast(FEATURE_TYPE).alias("raccb"),
            js.cast(FEATURE_TYPE).alias("js"),
            F.col("nonred_p1").cast("long").alias("numCompP1"),
            F.col("nonred_p2").cast("long").alias("numCompP2"),
            F.col("rs").cast(FEATURE_TYPE).alias("rs"),
            aejs.cast(FEATURE_TYPE).alias("aejs"),
            nrs.cast(FEATURE_TYPE).alias("nrs"),
            wjs.cast(FEATURE_TYPE).alias("wjs"),
        )

        if groundtruth is not None:
            gt = groundtruth.select("p1", "p2").withColumn("is_match", F.lit(1))
            out = out.join(gt, ["p1", "p2"], "left").fillna({"is_match": 0})
        else:
            out = out.withColumn("is_match", F.lit(None).cast("int"))

        if id_map is not None:
            m1 = id_map.select(
                F.col("profile_id").alias("p1"), F.col("original_id").alias("o1")
            )
            m2 = id_map.select(
                F.col("profile_id").alias("p2"), F.col("original_id").alias("o2")
            )
            out = (
                out.join(m1, "p1")
                .join(m2, "p2")
                .drop("p1", "p2")
                .withColumnRenamed("o1", "p1")
                .withColumnRenamed("o2", "p2")
            )
        return out
