"""shuffle_partitions and broadcast_threshold: the one parsers of
spark.sql.shuffle.partitions and spark.sql.autoBroadcastJoinThreshold;
scoped_conf: the one scoped setter of session conf; the streaming
state-partition sizing that reads both."""

import sys
import threading
import time
from types import SimpleNamespace

import pytest

from sparker_spark.entry_r5 import _stream_state_partitions
from sparker_spark.session import (
    broadcast_threshold,
    scoped_conf,
    shuffle_partitions,
)


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


KEY = "spark.sparker.test.scoped"


def test_scoped_conf_restores_previous_value(spark):
    spark.conf.set(KEY, "before")
    try:
        with scoped_conf(spark, {KEY: "inside"}):
            assert spark.conf.get(KEY) == "inside"
        assert spark.conf.get(KEY) == "before"
    finally:
        spark.conf.unset(KEY)


def test_scoped_conf_restores_on_exception(spark):
    spark.conf.set(KEY, "before")
    try:
        with pytest.raises(RuntimeError):
            with scoped_conf(spark, {KEY: "inside"}):
                raise RuntimeError("boom")
        assert spark.conf.get(KEY) == "before"
    finally:
        spark.conf.unset(KEY)


def test_scoped_conf_unsets_a_key_unset_before(spark):
    assert spark.conf.get(KEY, None) is None
    with scoped_conf(spark, {KEY: "inside"}):
        assert spark.conf.get(KEY) == "inside"
    assert spark.conf.get(KEY, None) is None


def test_scoped_conf_nests(spark):
    with scoped_conf(spark, {KEY: "outer"}):
        with scoped_conf(spark, {KEY: "inner"}):
            assert spark.conf.get(KEY) == "inner"
        assert spark.conf.get(KEY) == "outer"
    assert spark.conf.get(KEY, None) is None


def test_scoped_conf_serializes_threads():
    """Threads that scope the same key never see each other's value
    inside their block, and the key ends unset. 8 threads on a
    dict-backed conf, with a shortened switch interval so an unguarded
    set/restore pair would interleave."""
    store: dict[str, str] = {}
    conf = SimpleNamespace(
        get=lambda k, default=None: store.get(k, default),
        set=store.__setitem__,
        unset=lambda k: store.pop(k, None),
    )
    session = SimpleNamespace(conf=conf)
    seen_wrong = []

    def work(i):
        for _ in range(50):
            with scoped_conf(session, {KEY: str(i)}):
                time.sleep(0)
                if conf.get(KEY) != str(i):
                    seen_wrong.append(i)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert seen_wrong == []
    assert KEY not in store


def test_stream_state_partitions_sums_nested_files(tmp_path):
    """Staged input is sized from the regular files below the staging
    directories, at any depth; Spark's marker and checksum files and
    the directory entries themselves do not count."""
    stage = tmp_path / "stage"
    (stage / "date=1").mkdir(parents=True)
    (stage / "part-0.parquet").write_bytes(b"x" * 15)
    (stage / "date=1" / "part-1.parquet").write_bytes(b"x" * 20)
    (stage / "_SUCCESS").write_bytes(b"")
    (stage / ".part-0.parquet.crc").write_bytes(b"x" * 100)
    other = tmp_path / "other"
    other.mkdir()
    (other / "part-2.parquet").write_bytes(b"x" * 6)
    # 41 bytes at 10 a partition, under the session's cap of 64
    n = _stream_state_partitions(
        _stub("64"), str(stage), str(other), bytes_per_partition=10
    )
    assert n == 5
    assert _stream_state_partitions(_stub("3"), str(stage), bytes_per_partition=10) == 3


@pytest.mark.parametrize(
    "value, expected",
    [
        ("10485760b", 10485760),  # how Spark renders the default
        ("10MB", 10 << 20),
        (" 10mb ", 10 << 20),
        ("10 MB", None),  # Spark rejects inner spaces too
        ("10m", 10 << 20),
        ("64kb", 64 << 10),
        ("1g", 1 << 30),
        ("4096", 4096),
        ("-1", None),  # broadcasting disabled
        ("0", None),
        ("", None),
        (None, None),
        ("ten", None),
        ("1.5MB", None),
    ],
)
def test_broadcast_threshold_parses_byte_strings(value, expected):
    assert broadcast_threshold(_stub(value)) == expected


def test_broadcast_threshold_live_session(spark):
    with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "2MB"}):
        assert broadcast_threshold(spark) == 2 << 20
    with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        assert broadcast_threshold(spark) is None
