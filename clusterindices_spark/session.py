"""SparkSession builder for local runs (tests, bench, tools).

The driver harness constructs its own session for ``__spark_entry__``; queries
in this package must therefore not rely on session-level config (they are
written ANSI-safe: guarded division via nullif/when, F.get instead of
element_at, no lossy casts).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """SPARK_DRIVER_MEM, else min(8g, a quarter of physical memory): two
    sessions side by side must not drive the host into its OOM killer."""
    if "SPARK_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "8g"
    return f"{min(8 << 10, ram // 4 >> 20)}m"


def get_spark(app_name: str = "clusterindices-spark", cpus: int | str | None = None) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "8")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", _driver_memory())
        .getOrCreate()
    )
