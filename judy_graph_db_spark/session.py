"""SparkSession factory tuned for this engine.

Local-mode defaults match the driver harness (local[32], 128 GiB, where the
driver heap is 48g; a smaller host gets ~60% of its memory); the same
settings translate to cluster mode — AQE on, shuffle partitions sized to the
parallelism, Arrow enabled for the Pandas-UDF slow path, UTC timestamps so
results hash-match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """48g, or about 60% of this host's physical memory when that is
    less, so a long local run cannot grow its heap until the kernel kills
    the JVM."""
    try:
        mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (AttributeError, ValueError, OSError):
        return "48g"
    return f"{min(48 * 1024, mib * 6 // 10)}m"


def get_spark(app_name: str = "judy_graph_db_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # let the planner pick shuffled-hash over sort-merge when its size
        # conditions hold (build side under autoBroadcastJoinThreshold ×
        # shuffle partitions): removes the per-round Sorts from the
        # iterative join family. Adopted on the r15 isolated A/B —
        # connected_components 1.35×, closure_doubling 1.30×,
        # pagerank 1.14× vs scc −5% (OPTIMIZATION_r15.md "Config
        # experiments"); AQE skew handling still applies to SHJ, and a
        # deployment can override via SPARK_GRAFT_EXTRA_CONF.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # the driver's parquet files carry TIMESTAMP(NANOS) columns, which
        # Spark's vectorized reader rejects; read them as long nanos and
        # convert in the view loader (sources/tpch_graph.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    # SPARK_GRAFT_EXTRA_CONF="spark.x=y;spark.a=b": conf overrides without
    # code edits — the r15 isolated config A/Bs (preferSortMergeJoin,
    # shuffle codec) run through this, and a cluster deployment can inject
    # its own values the same way. Empty by default so the driver's bench
    # measures the unchanged configuration.
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for kv in filter(None, extra.split(";")):
        k, _, v = kv.partition("=")
        builder = builder.config(k.strip(), v.strip())
    return builder.getOrCreate()
