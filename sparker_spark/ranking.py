"""Scalable global ranking.

``row_number() OVER (ORDER BY ...)`` with no partition key collapses
the whole relation into ONE partition (Spark warns "No Partition
Defined for Window operation") — fine at test scale, fatal at 100 TB.

``global_rank`` produces the identical dense 0-based rank with a
distributed plan: range-repartition on the sort key (total order
across partitions), rank locally per partition, then add each
partition's cumulative row-count offset (a tiny driver-side list —
#partitions entries, same class of scalar as a purging threshold).
``global_cumsum`` and ``global_topk`` share that range-offset core
(:func:`_range_offsets`).

Where the local rank is computed: BEFORE the checkpoint, in the
range-shuffled partitions themselves — ``sortWithinPartitions`` on the
key, then ``monotonically_increasing_id() − (partition id << 33)``,
which is the row's 0-based position in its sorted partition. The
stored rows carry their rank, so reading a ranked relation is a scan
plus one map lookup: no ``Window.partitionBy(_pid)`` and so no
``Exchange hashpartitioning(_pid)`` per read. The running sums of
``global_cumsum`` and ``global_topk``'s boundary cut still window over
``_pid`` after the checkpoint.

The result is bit-identical to the single-partition window for any
total ordering (ties impossible when the sort key set is unique per
row): range partition boundaries only decide WHERE a row is ranked,
never its rank.

Materialization: the range-partitioned input is pinned with a lazy
``localCheckpoint`` that the returned DataFrame owns — nothing is
registered with the session's cache, there is nothing for a caller to
release, and the checkpointed partitions are freed when the result is
garbage-collected.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _range_offsets(
    df: DataFrame, key: list[Column], total: Column, local_rank: bool = False
) -> tuple[DataFrame, dict, Column]:
    """Range-partition ``df`` on ``key`` and tag each row with its
    partition id ``_pid`` (and, with ``local_rank``, its 0-based rank
    within the partition as ``_local``). Returns the pinned
    partitions, the ``{_pid: (start, end)}`` running-``total`` span of
    every non-empty partition, and each row's partition start as a
    column."""
    parts = df.repartitionByRange(*key)
    if local_rank:
        # monotonically_increasing_id = (partition index << 33) + row
        # number within the partition, so over a sorted partition the
        # difference is the local rank
        parts = parts.sortWithinPartitions(*key).withColumn(
            "_local",
            F.monotonically_increasing_id()
            - F.shiftleft(F.spark_partition_id().cast("long"), 33),
        )
    parts = parts.withColumn("_pid", F.spark_partition_id()).localCheckpoint(
        eager=False
    )
    # The checkpoint is load-bearing: range boundaries are fixed at
    # shuffle time, and both the collected spans and every later read
    # of `parts` see the same stored partitions, so the offsets stay
    # consistent with the rows they are added to.
    rows = parts.groupBy("_pid").agg(total.alias("_t")).collect()
    spans = {}
    acc = 0
    # #partitions rows: sorted on the driver, not with a range sort
    for r in sorted(rows, key=lambda r: r["_pid"]):
        spans[r["_pid"]] = (acc, acc + r["_t"])
        acc += r["_t"]
    # empty input -> no spans; create_map() with zero entries is a
    # VOID-keyed map that fails analysis, so fall back to a 0 literal
    start = (
        F.create_map(
            *[x for pid, (s, _) in spans.items() for x in (F.lit(pid), F.lit(s))]
        )[F.col("_pid")]
        if spans
        else F.lit(0)
    )
    return parts, spans, start


def global_rank(df: DataFrame, cols: list[str], out: str = "pos") -> DataFrame:
    """Add ``out`` = dense 0-based global rank of each row under
    ORDER BY *cols* (which must form a total order — make the last
    column a unique tiebreaker)."""
    return global_rank_count(df, cols, out)[0]


def global_rank_count(
    df: DataFrame, cols: list[str], out: str = "pos"
) -> tuple[DataFrame, int]:
    """:func:`global_rank` plus the relation's exact row count, which
    the collected span map already holds (no extra job)."""
    key = [F.col(c) for c in cols]
    parts, spans, start = _range_offsets(df, key, F.count("*"), local_rank=True)
    ranked = parts.withColumn(out, (start + F.col("_local")).cast("long")).drop(
        "_pid", "_local"
    )
    return ranked, max((e for _, e in spans.values()), default=0)


def global_cumsum(
    df: DataFrame,
    cols: list[str],
    value: str,
    out: str = "cum",
    descending: bool = False,
) -> DataFrame:
    """Add ``out`` = inclusive running sum of ``value`` under ORDER BY
    *cols* — the distributed twin of
    ``sum(v) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)``, which
    Spark would otherwise execute as a single-partition window. Same
    two-phase scheme as :func:`global_rank`: range-repartition on the
    sort key, per-partition windowed sums, plus each partition's
    cumulative total collected as a tiny driver-side list. ``cols``
    must form a total order per row group (rows with equal keys land
    in one partition, so their relative cumsum order within the key is
    partition-local — pass unique keys, e.g. a histogram's level
    column).
    """
    key = [F.col(c).desc() if descending else F.col(c) for c in cols]
    parts, _, start = _range_offsets(df, key, F.sum(value))
    w = (
        Window.partitionBy("_pid")
        .orderBy(*key)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        parts.withColumn("_local", F.sum(value).over(w))
        .withColumn(out, start + F.col("_local"))
        .drop("_pid", "_local")
    )


def global_topk(
    df: DataFrame,
    order: list[tuple[str, bool]],
    k: int,
) -> DataFrame:
    """Exactly the first ``k`` rows of ``df`` under ORDER BY *order*
    (list of ``(column, descending)``; the full key must form a total
    order — make the last columns a unique tiebreaker), without a
    global sort and without ever shipping k rows to the driver (unlike
    ``orderBy().limit(k)``, whose TakeOrderedAndProject merges every
    partition's top-k heap driver-side — k here can be a constant
    fraction of the input).

    Plan: range-repartition on the key (total order ACROSS partitions),
    collect per-partition row counts (a #partitions-sized list), then
    keep every partition wholly below the k-boundary AS IS — no sort —
    and sort only the single boundary partition to cut it at
    ``k - preceding``. Equal keys land in one partition, so the kept
    SET is exactly the rank-< k set of the total order.
    """
    if k <= 0:
        return df.limit(0)
    key = [F.col(c).desc() if d else F.col(c) for c, d in order]
    parts, spans, _ = _range_offsets(df, key, F.count("*"))
    boundary = [(pid, s) for pid, (s, e) in spans.items() if s < k <= e]
    if not boundary:
        # fewer than k rows: everything survives
        return parts.drop("_pid")
    boundary_pid, preceding = boundary[0]
    whole = parts.where(F.col("_pid") < F.lit(boundary_pid))
    w = Window.partitionBy("_pid").orderBy(*key)
    edge = (
        parts.where(F.col("_pid") == F.lit(boundary_pid))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= F.lit(int(k - preceding)))
        .drop("_rn")
    )
    return whole.unionByName(edge).drop("_pid")
