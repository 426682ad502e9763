"""SparkSession defaults must fit the host the session runs on."""

import os

from pyspark.sql import SparkSession

from ahrd_spark.session import get_spark


def _builder_options(monkeypatch, **kw) -> dict:
    """The options ``get_spark`` hands the builder, without starting a JVM."""
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )
    return get_spark(master="local[1]", **kw)


def _gb(setting: str) -> int:
    assert setting.endswith("g"), setting
    return int(setting[:-1])


def test_default_driver_heap_fits_host_memory(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    heap = _gb(_builder_options(monkeypatch)["spark.driver.memory"])
    host = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert 1 <= heap and heap << 30 < host


def test_explicit_driver_memory_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert _builder_options(monkeypatch)["spark.driver.memory"] == "3g"
