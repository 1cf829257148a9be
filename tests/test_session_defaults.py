"""Engine defaults of ``get_spark()``: the driver heap (a quarter of the
host's memory, capped at 48g, with ``SPARK_DRIVER_MEM`` taking
precedence) and the codegen cache size it puts on the builder.

Starts no JVM — a fixed default larger than the host (the old 48g on a
16 GB machine) gets the shared test JVM OOM-killed partway through a suite
run, so the rule is pinned here where it fails fast.
"""

from types import SimpleNamespace

from clickhouse_provider_spark import session
from clickhouse_provider_spark.session import driver_memory, host_memory_bytes

GIB = 2**30


def test_quarter_of_memory_below_the_cap(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert driver_memory(16 * GIB) == "4096m"
    assert driver_memory(191 * GIB) == f"{191 * 1024 // 4}m"


def test_cap_is_48g_at_or_above_192_gb(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert driver_memory(192 * GIB) == "49152m"  # 48g
    assert driver_memory(1024 * GIB) == "49152m"


def test_spark_driver_mem_takes_precedence(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert driver_memory(16 * GIB) == "3g"
    assert driver_memory(1024 * GIB) == "3g"
    assert driver_memory() == "3g"


def test_default_fits_this_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    heap = driver_memory()
    host = host_memory_bytes()
    assert host > 0
    assert heap.endswith("m")
    assert 0 < int(heap[:-1]) * 2**20 <= host // 4


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records every conf."""

    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, master):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))


def test_codegen_cache_is_set_on_the_builder(monkeypatch):
    """``spark.sql.codegen.cache.maxEntries`` is a static conf, so only the
    builder can set it; 1000 is at least twice the largest measured
    working set (491 classes for a backfill round)."""
    builder = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    monkeypatch.setenv("SPARK_SUBMIT_OPTS", "-Xss16m")
    session.get_spark()
    assert builder.conf["spark.sql.codegen.cache.maxEntries"] == "1000"
    assert session.CODEGEN_CACHE_ENTRIES >= 2 * 491
