"""Stage profile of pipeline_blast_e2e in a quiet window (r13, VERDICT
ask #5): time each stage of the chain cumulatively — attribute
clustering (one Spark aggregate, then LSH and components on the
driver), cluster blocking, purge, filter, chi²+entropy weighting, WNP
— so the 11 s pipeline cost is attributed, not guessed. Reps are
clean-JVM-warm (clearCache + gc between reps), matching bench.py's
protocol.
Usage: python tools/profile_blast.py [reps=3]
"""

from __future__ import annotations

import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main():
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3

    from pyspark.sql import functions as F

    from sparker_spark.entry_ext import (
        CHI2_DIVIDER,
        _canonical_clusters,
        _cluster_blocks,
    )
    from sparker_spark.entry_r9 import BLAST_FILTER_R, BLAST_PURGE_SMOOTH
    from sparker_spark.filters import BlockFiltering, BlockPurging
    from sparker_spark.metablocking.pruning_utils import (
        ComparisonTypes,
        ThresholdTypes,
        WeightTypes,
    )
    from sparker_spark.metablocking.weights import EdgeWeighting
    from sparker_spark.metablocking.wnp import WNP
    from sparker_spark.rounding import rnd
    from sparker_spark.session import get_spark

    spark = get_spark(
        app_name="profile_blast", master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )
    spark.sparkContext.setLogLevel("ERROR")

    def run(rep):
        spark.catalog.clearCache()
        gc.collect()
        marks = [("t0", time.time())]

        def mark(name):
            marks.append((name, time.time()))

        spark.sparkContext.setJobDescription("blast: attribute clustering")
        clusters = _canonical_clusters(spark, SF_DIR)
        mark("attr_clustering (one aggregate + driver LSH)")

        spark.sparkContext.setJobDescription("blast: cluster blocking")
        blocks = _cluster_blocks(spark, SF_DIR)
        blocks.meta.count()
        mark("cluster_blocks meta")

        spark.sparkContext.setJobDescription("blast: purge")
        purged = BlockPurging.block_purging(blocks, BLAST_PURGE_SMOOTH)
        purged.meta.count()
        mark("purge")

        spark.sparkContext.setJobDescription("blast: filter")
        _, pb_filtered, rebuilt = BlockFiltering.block_filtering_quick(
            purged, BLAST_FILTER_R
        )
        rebuilt.meta.count()
        mark("filter (filtered profile blocks pinned)")

        spark.sparkContext.setJobDescription("blast: chi2+entropy weighting")
        ctx = EdgeWeighting.weighted_edges(
            rebuilt, pb_filtered, WeightTypes.CHI_SQUARE, use_entropy=True
        )
        spark.sparkContext.setJobDescription("blast: WNP prune + count")
        kept = WNP.prune(
            ctx, ThresholdTypes.AVG, ComparisonTypes.OR,
            chi2divider=CHI2_DIVIDER,
        )
        n = kept.select("p1", "p2", rnd("weight", 6).alias("weight")).count()
        mark("weight+WNP+count")
        spark.sparkContext.setJobDescription(None)

        total = marks[-1][1] - marks[0][1]
        print(f"rep{rep}: total={total:.2f}s rows={n}")
        for (pn, pt), (cn, ct) in zip(marks, marks[1:]):
            print(f"  {cn}: {ct - pt:.2f}s")
        # count clusters derivation sub-jobs on first rep only
        return total

    for i in range(reps):
        run(i)


if __name__ == "__main__":
    main()
