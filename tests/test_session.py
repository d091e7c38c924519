"""The session conf table: in effect on a built session, and re-applied by
tune_session to a session the program did not build."""

from __future__ import annotations

import pytest

from ai_service_ocr_grading_handler_spark.session import (
    SQL_CONFS,
    _driver_memory,
    get_spark,
    tune_session,
)

# a value other than the table's for each entry
_ALTERED = {"true": "false", "2048": "512", "UTC": "America/Los_Angeles"}


def test_conf_table_in_effect(spark):
    for k, v in SQL_CONFS.items():
        assert spark.conf.get(k) == v, k


def test_tune_session_restores_table_and_sizes_shuffle(spark):
    fixture_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for k, v in SQL_CONFS.items():
            spark.conf.set(k, _ALTERED[v])
        spark.conf.set("spark.sql.shuffle.partitions", "7")

        assert tune_session(spark) is spark
        for k, v in SQL_CONFS.items():
            assert spark.conf.get(k) == v, k
        want = max(spark.sparkContext.defaultParallelism, 32)
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(want)
    finally:
        for k, v in SQL_CONFS.items():
            spark.conf.set(k, v)
        spark.conf.set("spark.sql.shuffle.partitions", fixture_parts)


def test_driver_memory_host_sized_and_overridable(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    mem = _driver_memory()
    assert mem.endswith("m") and 0 < int(mem[:-1]) <= 24 << 10
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3072m")
    assert _driver_memory() == "3072m"


def test_get_spark_rejects_nonpositive_cpus():
    with pytest.raises(ValueError):
        get_spark(cpus=0)
