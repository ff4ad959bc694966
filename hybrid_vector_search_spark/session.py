"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what a cluster deployment would set per-executor;
the scale-relevant knobs (AQE, shuffle partitions, Arrow) are the same ones a
1000-executor deployment would tune — only the numbers change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half of physical memory, capped at 48g: a heap the host can hold (the
    kernel OOM-kills a JVM whose heap outgrows RAM) that still leaves room
    for the Python workers. ``SPARK_GRAFT_DRIVER_MEM`` overrides it."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(48 * 1024, phys_mb // 2)}m"


def get_spark(app_name: str = "hybrid_vector_search_spark") -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Scale notes (100 TB deployment):
    - AQE on: runtime shuffle-partition coalescing + skew-join splitting means
      we do not hand-tune ``spark.sql.shuffle.partitions`` per query.
    - Arrow on: every Pandas-UDF boundary (NumPy KNN kernel, multimodal
      decode) moves columnar batches, not pickled rows.
    - UTC session timezone: deterministic timestamp semantics across engines
      (the DuckDB oracle also runs in UTC).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
