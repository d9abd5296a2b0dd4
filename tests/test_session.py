"""shuffle_partitions: the one parser of spark.sql.shuffle.partitions."""

from types import SimpleNamespace

import pytest

from sparker_spark.session import shuffle_partitions


def _stub(value, default_parallelism=6):
    """A session whose conf returns ``value`` for every key."""
    return SimpleNamespace(
        conf=SimpleNamespace(get=lambda key: value),
        sparkContext=SimpleNamespace(defaultParallelism=default_parallelism),
    )


@pytest.mark.parametrize("value", ["auto", "", "0", "-4", None])
def test_unparseable_falls_back_to_default_parallelism(value):
    assert shuffle_partitions(_stub(value)) == 6


def test_integer_value_is_used():
    assert shuffle_partitions(_stub("24")) == 24


def test_live_session(spark):
    assert shuffle_partitions(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
