"""SparkSession factory tuned for this engine.

Local test mode is ``local[$SPARK_GRAFT_CPUS]`` (default: the
machine's CPU count, see ``default_cpus``), with a driver heap of
``$SPARK_GRAFT_DRIVER_MEM`` (default: 16g, capped at a share of
physical memory, see ``default_driver_memory``). The same
settings are the right defaults on a real cluster: AQE for runtime
re-planning and skew joins, Arrow for every Pandas-UDF exchange, and
shuffle partitions sized to the parallelism at hand rather than the
200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Share of physical memory the default driver heap may take. In local
# mode the driver JVM also runs every task, and beside it sit the
# Python driver and its workers: a heap near RAM lets the collector
# grow it until the kernel's OOM killer ends the JVM (a 16g heap on a
# 15 GB machine was killed at 13 GB resident, mid test suite).
HEAP_SHARE_OF_RAM = 0.4
MAX_DEFAULT_HEAP_MB = 16 * 1024


def physical_memory_bytes() -> int | None:
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        return None


def default_driver_memory() -> str:
    """Driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: 16g, or
    ``HEAP_SHARE_OF_RAM`` of physical memory when that is less."""
    total = physical_memory_bytes()
    if not total:
        return f"{MAX_DEFAULT_HEAP_MB}m"
    return f"{min(MAX_DEFAULT_HEAP_MB, int(total * HEAP_SHARE_OF_RAM) >> 20)}m"


def default_cpus() -> int:
    """Local parallelism when ``SPARK_GRAFT_CPUS`` is unset: the CPUs
    this process may run on (what ``nproc`` prints)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity call on this platform
        return os.cpu_count() or 1


def get_spark(app_name: str = "llm_map_reduce_summarizer_spark") -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or default_cpus())
    # Python workers must import this package even when the driver runs
    # from another cwd (UDF closures reference module helpers). Local
    # mode: inherit via PYTHONPATH. Real cluster: ship a wheel via
    # --py-files / pip-installed images instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # legacy testdata stored events.ts as TIMESTAMP(NANOS); read as
        # long and normalize in the loader (sources/tables.py handles
        # nanos-long, TIMESTAMP_NTZ, and plain TIMESTAMP generations)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # Spark 4 otherwise records a Python call site (several extra
        # Py4J round trips) on every Column/DataFrame call; the cost of
        # turning it off is that analysis errors lose that context
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
