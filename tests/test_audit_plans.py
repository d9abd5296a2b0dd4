"""``tools/audit_plans.py``'s plan findings, on live formatted plans."""

import io
import os
import sys
from contextlib import redirect_stdout

from pyspark.sql import functions as F

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from audit_plans import repeated_checkpoint_broadcasts  # noqa: E402


def _formatted(df):
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _index(pinned, name):
    return F.broadcast(
        pinned.select(F.col("id").alias("k"), (F.col("v") + len(name)).alias(name))
    )


def test_one_checkpoint_broadcast_twice_is_reported(spark):
    pinned = spark.range(10).withColumn("v", F.col("id") * 2).localCheckpoint()
    facts = spark.range(100).withColumnRenamed("id", "k")
    df = facts.join(_index(pinned, "a"), "k").join(_index(pinned, "bb"), "k")
    found = repeated_checkpoint_broadcasts(_formatted(df))
    assert len(found) == 1 and list(found.values()) == [2]


def test_one_broadcast_per_checkpoint_is_not_reported(spark):
    first = spark.range(10).withColumn("v", F.col("id") * 2).localCheckpoint()
    second = spark.range(10).withColumn("v", F.col("id") * 3).localCheckpoint()
    facts = spark.range(100).withColumnRenamed("id", "k")
    df = facts.join(_index(first, "a"), "k").join(_index(second, "bb"), "k")
    assert repeated_checkpoint_broadcasts(_formatted(df)) == {}
