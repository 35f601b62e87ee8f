"""SparkSession factory.

Local test shape: one JVM, ``local[N]`` threads. Production shape: a
1000-executor cluster over ~100 TB of Parquet. The config below is chosen
so the *same logical plans* scale: AQE for runtime re-planning (partition
coalescing + skew-join splitting), shuffle partitions sized by env,
UTC session timezone (the reference stores tz-naive timestamps —
aeon/dj_pipeline/acquisition.py:233,487), Arrow for the Pandas-UDF path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# At 100 TB the shuffle-partition count is set by the cluster manager /
# AQE target size, not this local default. Locally we match core count.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _default_driver_memory() -> str:
    """A quarter of physical RAM, capped at 16 GB. A local JVM heap
    larger than the host lets one oversized job grow the JVM until the
    OS kills it, taking the session down; within RAM the job fails
    alone with a Java OutOfMemoryError."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        return "16g"
    return f"{max(1024, min(16 * 1024, (ram // 4) >> 20))}m"


def get_spark(
    app_name: str = "aeon_mecha_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Every knob here is scale-motivated, not a local hack:

    - ``adaptive.enabled`` — AQE re-plans at runtime: coalesces small
      shuffle partitions, converts to broadcast joins when a side turns
      out small, and splits skewed partitions (device/experiment keys in
      the reference workload are highly skewed — one camera stream is
      ~70x a feeder stream, BASELINE.md "Stream cardinality").
    - ``autoBroadcastJoinThreshold`` 64 MB — the reference's dimension
      tables (experiment, device, config, sync-model catalogs) are tiny
      relative to stream tables; broadcast them aggressively.
    - ``files.maxPartitionBytes`` 128 MB — one task per row-group-ish
      split so a 100 TB scan parallelizes to ~800k tasks, not 100k
      oversized ones.
    - ``parquet.compression.codec`` zstd — the reference measured −60%
      size and +20% end-to-end speed from zstd compression of
      intermediates (SPEC_ZARR_INTERMEDIATES.md:40-57); the workload is
      I/O bound, so compression is a throughput win.
    - session TZ UTC — parity with the reference's tz-naive timestamps
      and with the DuckDB oracle.
    """
    cpus = _DEFAULT_CPUS
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # push COUNT/MIN/MAX with no filters down to parquet footers —
        # planning counts (derive_sample_fraction, continuous-aggregate
        # watermarks) become metadata reads instead of table scans
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
