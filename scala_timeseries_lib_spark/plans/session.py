"""SparkSession construction with scale-oriented defaults.

Single place where shuffle/AQE/Arrow settings are pinned so every job
(tests, bench, spark-submit entry points) runs with the same physical plan
behavior. Designed for a multi-executor cluster; in this sandbox the master
defaults to ``local[$SPARK_GRAFT_CPUS]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .._env import env_int, env_str

__all__ = ["get_spark", "DEFAULT_SHUFFLE_PARTITIONS"]

DEFAULT_SHUFFLE_PARTITIONS = env_int("SPARK_GRAFT_SHUFFLE", 32)


def _default_driver_mem() -> str:
    """Size the local-mode JVM to the box (guide §5).

    In ``local[*]`` mode the driver JVM IS every executor: all task
    execution memory, the SQL cache, and every broadcast live in this one
    heap. The old fixed ``8g`` default was measured memory-starved once
    inputs reach ~10^6 input rows / ~10^7 exploded pieces (sf1.0 1m
    rollup: 20.5 s spilling at 8g -> ~3 s with a fitted heap on the same
    box; the tier chain 42.6 s -> 12.8 s). Oversizing costs too: at 50g,
    G1's grown young generation added a consistent ~0.1 s to every tiny
    query (measured A/B at sf0.1). Default to 1/8 of physical RAM clamped
    to [8g, 32g] -- adaptive to the machine, sized so the largest
    single-query working set measured (the x48 amplified tier, ~300M
    cached points ~= 10 GiB live) fits without spill while GC latency
    stays flat; override with $SPARK_GRAFT_DRIVER_MEM (a JVM size such as
    ``12g``; anything else warns and keeps this default). On a real cluster
    the driver does no data work and the submitted --driver-memory wins."""
    try:
        phys_gib = (
            os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        ) >> 30
        default = f"{min(max(8, int(phys_gib / 8)), 32)}g"
    except (ValueError, OSError, AttributeError):
        default = "8g"
    return env_str("SPARK_GRAFT_DRIVER_MEM", default, r"\d+[kmgt]?")


def _default_master() -> str:
    """``local[$SPARK_GRAFT_CPUS]``: a positive core count, ``*`` (every
    core) when unset or malformed."""
    return f"local[{env_str('SPARK_GRAFT_CPUS', '*', r'[1-9][0-9]*')}]"


def get_spark(
    master: str | None = None,
    app_name: str = "scala_timeseries_lib_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with AQE + Arrow enabled.

    Scale rationale:
    - AQE re-plans shuffles at runtime: coalesces small partitions and splits
      skewed ones (hot series keys / hot domains are expected in web data).
    - Arrow self-destruct + pandas UDF batching keep the Python kernel path
      zero-copy where possible.
    - shuffle partitions default to the core count here; on a real cluster
      AQE's coalescing makes a high initial value cheap.
    """
    builder = (
        SparkSession.builder.master(master or _default_master())
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.selfDestruct.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", _default_driver_mem())
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # ship the package to Python workers (the spark-submit --py-files story);
    # without this, Arrow-UDF kernels fail to unpickle on workers whenever the
    # driver's sys.path trick isn't inherited
    from .packaging import ship_package

    ship_package(spark)
    return spark
