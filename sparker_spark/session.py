"""SparkSession factory with scale-oriented defaults.

Defaults are tuned for correctness tests on local[*] but every knob is
the one you would also set on a 1000-executor cluster: AQE on (runtime
join-strategy switch + skew-join splitting — token blocks are Zipfian,
see reference old_versions/.../Utilities/CustomPartitioner.scala:9-56
which hand-rolled what AQE now does), Arrow on for the few pandas-UDF
paths, and a shuffle-partition count that AQE coalesces downward.
"""

from __future__ import annotations

import os
import re
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# serializes scoped_conf blocks: session conf is shared by every thread
# that holds the session
_CONF_LOCK = threading.RLock()


def get_spark(
    app_name: str = "sparker_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else 32),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # local-mode driver == the single executor JVM. Default stays
        # small: sessions start fast, and measured suite times at sf0.1
        # are *better* than with a 48g heap (bigger heap = longer minor
        # GC pauses, no spill avoided at this scale). Callers that do
        # need more can export SPARK_DRIVER_MEMORY.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "4g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def shuffle_partitions(spark: SparkSession) -> int:
    """``spark.sql.shuffle.partitions`` as a positive int. The conf is
    free text — values such as "auto" (a Databricks setting) or an
    empty string are not an int — so anything that is not a positive
    integer falls back to ``sparkContext.defaultParallelism``."""
    try:
        par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        par = 0
    return par if par > 0 else spark.sparkContext.defaultParallelism


# JavaUtils.byteStringAs suffixes as binary shifts (a bare number and
# a "b" suffix are bytes)
_BYTE_SHIFTS = {"": 0, "k": 10, "m": 20, "g": 30, "t": 40, "p": 50}


def broadcast_threshold(spark: SparkSession) -> int | None:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes, or None for
    "do not hint". The conf is a byte string ("10485760b", "10MB",
    "10m" or a bare byte count); -1 disables broadcasting, and empty,
    non-positive or unparseable values are None as well."""
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    m = re.fullmatch(r"(-?\d+)([kmgtp]?)b?", str(raw or "").strip().lower())
    if not m:
        return None
    n = int(m.group(1)) << _BYTE_SHIFTS[m.group(2)]
    return n if n > 0 else None


# Spark's default per-value size estimates (DataType.defaultSize) by
# type name; a row adds an 8-byte header (EstimationUtils.getSizePerRow)
_DEFAULT_SIZE = {"integer": 4, "long": 8, "double": 8, "string": 20}


def bounded_broadcast(df: DataFrame, rows: int | None) -> DataFrame:
    """``df`` — a relation with at most ``rows`` rows — as the build
    side of a join: broadcast-hinted when the bound times the
    estimated row width is within ``spark.sql.autoBroadcastJoinThreshold``,
    and left to Catalyst with no bound or no threshold (-1).

    This is the package's one size-aware broadcast rule. Its build
    sides are pins (or projections of pins), and a ``localCheckpoint``
    carries Spark's plan estimate (often gigabytes) rather than its
    size, so Catalyst never broadcasts them on its own; the caller's
    bound is a count it already holds."""
    threshold = broadcast_threshold(df.sparkSession)
    if rows is None or threshold is None:
        return df
    width = 8 + sum(_DEFAULT_SIZE.get(f.dataType.typeName(), 8) for f in df.schema)
    return F.broadcast(df) if rows * width <= threshold else df


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]):
    """Set session confs for the duration of a block and restore them
    after, also on an exception; a key that was unset before is unset
    again. Session conf is global to the session, so blocks from
    different threads run one at a time (interleaved set/restore pairs
    would leave one thread's value behind); blocks nest within a
    thread. Wrap the ACTION, not the DataFrame definition: Spark reads
    most confs when a query runs."""
    with _CONF_LOCK:
        old = {k: spark.conf.get(k, None) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
