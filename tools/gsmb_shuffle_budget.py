"""Measure — not argue — the gsmb pipeline's shuffle volume, and
validate the cluster-budget FORMULA against it (r10 verdict ask #6).

The σ-size² feature enumeration dominates gsmb's shuffle: after
purging+filtering, every block of size s emits s·(s−1)/2 candidate
pairs, each a (p1, p2, 9 doubles) row that crosses at least one
shuffle boundary. The budget formula:

    P           = Σ_blocks s·(s−1)/2          (block-size distribution)
    shuffle_GB  ≈ P · bytes_per_pair           (calibrated once)
    per-executor = shuffle_GB / E              (uniform block hashing)

This tool runs pipeline_gsmb_e2e at one or more SF dirs with the
Spark event log on, sums the ACTUAL task-level shuffle read/write and
spill bytes from the event log, computes P from the same blocking
stack, and emits one JSON record per SF (gsmb_shuffle_budget.json) so
SCALING.md can quote measured-vs-predicted instead of an estimate.

Usage: python tools/gsmb_shuffle_budget.py [sf_dir ...]
  default: bench.py's SF_DIR, sf0.1 unless SPARK_GRAFT_SF_DIR names
  another (the pipeline needs both label classes, and sf0.001 and
  sf0.01 hold no exact-duplicate document)
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EVDIR = "/tmp/gsmb_events"


def _sum_eventlog(path: str) -> dict:
    sw = sr = spill_mem = spill_disk = 0
    with open(path) as f:
        for line in f:
            if '"SparkListenerTaskEnd"' not in line:
                continue
            ev = json.loads(line)
            m = ev.get("Task Metrics") or {}
            w = m.get("Shuffle Write Metrics") or {}
            r = m.get("Shuffle Read Metrics") or {}
            sw += w.get("Shuffle Bytes Written", 0)
            sr += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
            spill_mem += m.get("Memory Bytes Spilled", 0)
            spill_disk += m.get("Disk Bytes Spilled", 0)
    return {
        "shuffle_write_bytes": sw,
        "shuffle_read_bytes": sr,
        "memory_spill_bytes": spill_mem,
        "disk_spill_bytes": spill_disk,
    }


def _pair_count(spark, sf_dir: str) -> tuple[int, int]:
    """(P, n_blocks) after purging+filtering — the block-size
    distribution term of the budget formula, computed from the same
    stack the pipeline runs."""
    from pyspark.sql import functions as F

    from sparker_spark.blocking.blockers import Blocking
    from sparker_spark.entry import FILTER_R, _doc_keys_unigram
    from sparker_spark.entry_ext import GSMB_SMOOTH
    from sparker_spark.filters import BlockFiltering, BlockPurging

    keys = _doc_keys_unigram(spark, sf_dir)
    blocks = Blocking.blocks_from_keys(keys, clean=False, assign_ids=False)
    purged = BlockPurging.block_purging(blocks, GSMB_SMOOTH)
    _, _, rebuilt = BlockFiltering.block_filtering_quick(purged, FILTER_R)
    row = rebuilt.meta.agg(
        F.sum(
            (F.col("block_size") * (F.col("block_size") - 1) / 2).cast(
                "long"
            )
        ).alias("p"),
        F.count("*").alias("nb"),
    ).first()
    return int(row["p"] or 0), int(row["nb"] or 0)


def main() -> None:
    from bench import SF_DIR, pipeline_gsmb_e2e
    from sparker_spark.session import get_spark

    sf_dirs = sys.argv[1:] or [SF_DIR]

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    records = []
    for sf_dir in sf_dirs:
        os.makedirs(EVDIR, exist_ok=True)
        import shutil

        shutil.rmtree(EVDIR, ignore_errors=True)
        os.makedirs(EVDIR, exist_ok=True)
        spark = get_spark(
            app_name=f"gsmb_budget_{os.path.basename(sf_dir)}",
            master=f"local[{cpus}]",
            shuffle_partitions=int(cpus),
            extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{EVDIR}",
                "spark.eventLog.compress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")

        t0 = time.time()
        rows = pipeline_gsmb_e2e(spark, sf_dir).count()
        wall = round(time.time() - t0, 1)
        pairs, n_blocks = _pair_count(spark, sf_dir)
        spark.stop()
        time.sleep(2)  # event log flush
        # Spark 4 writes a rolling event-log DIRECTORY (eventlog_v2_*)
        logs = [
            p
            for p in glob.glob(EVDIR + "/**/*", recursive=True)
            if os.path.isfile(p) and "events_" in os.path.basename(p)
        ] or [p for p in glob.glob(EVDIR + "/*") if os.path.isfile(p)]
        metrics: dict = {}
        for lg in logs:
            m = _sum_eventlog(lg)
            for k, v in m.items():
                metrics[k] = metrics.get(k, 0) + v
        rec = {
            "sf_dir": sf_dir,
            "wall_sec": wall,
            "rows": rows,
            "sigma_pairs": pairs,
            "n_blocks": n_blocks,
            **metrics,
            "bytes_per_pair_write": round(
                metrics.get("shuffle_write_bytes", 0) / max(1, pairs), 2
            ),
            "cpus": int(cpus),
        }
        records.append(rec)
        print(json.dumps(rec), file=sys.stderr)
    out = os.path.join(REPO, "gsmb_shuffle_budget.json")
    with open(out, "w") as f:
        json.dump({"records": records}, f, indent=1)
        f.write("\n")
    print(json.dumps({"records": records}))


if __name__ == "__main__":
    main()
