"""SparkSession factory.

Local mode is a single JVM with N executor threads; on a real cluster the
same settings hold except memory sizing moves to executor configs.  All
knobs here are chosen for the 100 TB design point and merely *also* work
at test scale:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast).
- ``spark.sql.shuffle.partitions`` ~ cores locally; on a cluster AQE's
  coalescing makes the initial number mostly a ceiling.
- Session timezone pinned to UTC so timestamp semantics are deterministic
  and match the DuckDB oracle (naive-UTC).
- Arrow enabled for any pandas interchange (Pandas UDFs, toPandas).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory() -> str:
    """``$SPARK_DRIVER_MEMORY``, else 60 % of this machine's physical
    memory in MiB.  In local mode the driver heap holds every executor
    thread's working set; a heap sized past physical memory gets the
    process killed by the OS instead of making Spark spill to disk."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{int(phys * 0.6) // (1024 * 1024)}m"


def broadcast_threshold_bytes(spark: SparkSession) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes, as the planner
    reads it.  ``spark.conf.get`` returns the value as it was typed
    (``"64m"``), which ``int()`` cannot parse.  ≤ 0 means broadcasting
    is disabled."""
    return int(spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold())


def get_spark(
    app_name: str = "processo_etl_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores.  On a real
    cluster, drop the ``master`` call and submit with ``spark-submit``;
    everything else is identical.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or os.cpu_count() or 4
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Whole-stage-codegen COMPILE cache (r15): the default 100
        # entries thrash on any long-lived session running this
        # engine's registry (37 headline / 296 registered queries hold
        # far more distinct codegen units), so every re-run recompiled
        # its evicted stages on the driver — measured 6.7 s → 4.4 s on
        # the in-suite pagerank steady pass alone (REST: zero GC delta,
        # task time ≈ wall, pure per-stage compile serialization).
        # 2000 entries ≈ a few tens of MB of compiled classes; sized to
        # the registry, not to this machine.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
