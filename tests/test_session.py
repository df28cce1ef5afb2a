"""Session sizing and the session settings the operators read."""

from __future__ import annotations

import os

from processo_etl_spark import session


def test_broadcast_threshold_bytes_reads_typed_value(spark):
    """The threshold comes back in bytes however it was typed: a suffixed
    "64m" is 64 MiB (``int(spark.conf.get(...))`` cannot parse it), -1
    stays disabled, and a plain integer is itself."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        for typed, want in (("64m", 67108864), ("-1", -1), ("12345", 12345)):
            spark.conf.set(key, typed)
            assert session.broadcast_threshold_bytes(spark) == want, typed
    finally:
        spark.conf.set(key, old)


def test_driver_heap_fits_physical_memory(spark, monkeypatch):
    """Without ``$SPARK_DRIVER_MEMORY`` the driver heap is sized from the
    machine (60 % of physical memory), so it can never outgrow it."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    if "SPARK_DRIVER_MEMORY" not in os.environ:
        runtime = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
        assert runtime.maxMemory() <= phys
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert session.driver_memory() == f"{int(phys * 0.6) // (1024 * 1024)}m"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    assert session.driver_memory() == "2g"
