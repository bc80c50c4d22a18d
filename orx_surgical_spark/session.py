"""SparkSession factory.

Defaults are tuned for the test/bench environment (single JVM,
``local[N]``) but every knob scales to a real cluster: AQE handles
runtime re-planning (partition coalescing, skew joins, dynamic
broadcast), shuffle partitions default to core count locally and should
be raised to ~2-3x total cores on a cluster, and Arrow is enabled for
the few Pandas-UDF paths (model inference, multimodal decode).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def shuffle_partitions_for_bytes(input_bytes: int, floor: int = 4) -> int:
    """Size ``spark.sql.shuffle.partitions`` to the data, not a constant.

    Policy: one shuffle partition per ~32 MB of (compressed) input,
    clamped to [floor, 8192]. At bench scale (tens of MB) this collapses
    to a handful of partitions — scheduling 32+ tiny reduce tasks costs
    more than the work itself (measured ~30% of bench wall). At 100 TB
    the same rule lands near Spark's ~128 MB-uncompressed-per-partition
    sweet spot and AQE coalescing trims the remainder. CPU-bound narrow
    stages (hashing, shingling) are widened independently via
    ``sources.readers.ensure_min_partitions``, so a small shuffle count
    never serializes them.
    """
    return max(floor, min(8192, input_bytes // (32 << 20) + floor))


def driver_memory_for_box(
    cap_mb: int = 48 * 1024, meminfo: str = "/proc/meminfo"
) -> str:
    """Driver heap as a Spark size string: 60% of physical RAM
    (``MemTotal``), capped at ``cap_mb``; the cap itself when MemTotal
    can't be read (no ``/proc``).

    A heap sized past RAM keeps growing before GC pressure kicks in, and
    the kernel OOM-kills the JVM instead of Spark spilling (a 48g heap on
    a 15 GB, 4-core box died at ~13-15 GB RSS); 60% leaves room for the
    JVM's off-heap memory, the Python workers and the OS.
    """
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_mb = int(line.split()[1]) // 1024  # reported in kB
                    return f"{min(cap_mb, total_mb * 6 // 10)}m"
    except (OSError, ValueError, IndexError):
        pass
    return f"{cap_mb}m"


def get_spark(
    app_name: str = "orx-surgical-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with scale-aware defaults.

    Environment overrides: ``SPARK_GRAFT_CPUS`` (threads for local
    master), ``SPARK_GRAFT_DRIVER_MEM`` (else :func:`driver_memory_for_box`).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        # local mode: ~#cores; a 200-partition default just adds task
        # overhead at test scale and AQE coalesces the rest.
        shuffle_partitions = int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)
    if driver_memory is None:
        driver_memory = (
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or driver_memory_for_box()
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        # DuckDB-oracle comparison requires naive-UTC timestamp semantics.
        .config("spark.sql.session.timeZone", "UTC")
        # Classic (non-ANSI) semantics: invalid casts yield null, matching
        # the reference's pd.to_numeric(errors='coerce') (SURVEY §2-B2).
        .config("spark.sql.ansi.enabled", "false")
        # Spark has no nanosecond timestamp type; read TIMESTAMP(NANOS)
        # parquet columns as raw int64 and convert at load (sources.readers).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Read parquet timestamp-without-TZ columns as session-TZ TIMESTAMP,
        # not TIMESTAMP_NTZ (NTZ rejects unix_millis/withWatermark); with
        # the UTC session TZ the instants match DuckDB's read byte-for-byte.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
