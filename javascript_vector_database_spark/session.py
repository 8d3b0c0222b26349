"""SparkSession factory tuned for this engine.

Local mode is a stand-in for a multi-executor cluster: every knob below is
chosen so the same code scales to a 1000-executor cluster reading ~100 TB —
AQE for runtime re-planning + skew joins, shuffle partitions sized to the
machine (cluster: ~2-3x total cores), Arrow for the few pandas-UDF paths,
UTC session timezone so results compare bit-for-bit against the DuckDB
oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def shuffle_partitions_or_default(spark: SparkSession) -> int:
    """Integer value of ``spark.sql.shuffle.partitions``, falling back to
    the cluster's default parallelism when the conf is non-numeric (some
    platforms set it to "auto").  The single guard shared by every
    operator that range-partitions explicitly (rank/skyline/dedup)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


#: the driver heap asked for where the machine has room for it
DRIVER_MEMORY_CAP_MIB = 24 * 1024


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` when $SPARK_GRAFT_DRIVER_MEM is unset: 24g,
    or half of the machine's MemTotal where that is less, so one driver
    leaves room for a second process beside it.  Where ``meminfo`` can't
    be read, 24g."""
    try:
        with open(meminfo) as f:
            fields = dict(line.split(":", 1) for line in f if ":" in line)
        half_mib = int(fields["MemTotal"].split()[0]) // 2048  # kB -> MiB
    except (OSError, KeyError, ValueError, IndexError):
        half_mib = DRIVER_MEMORY_CAP_MIB
    return f"{min(DRIVER_MEMORY_CAP_MIB, half_mib)}m"


def get_spark(
    app_name: str = "javascript-vector-database-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) or 32; the
    driver memory to $SPARK_GRAFT_DRIVER_MEM or ``default_driver_memory()``.

    The builder configs take full effect only when this call launches
    the JVM.  If a SparkContext already runs in this process, or the
    driver was started by spark-submit, ``getOrCreate`` reuses it: the
    master, driver memory and ``spark.driver.extraJavaOptions``
    (``-Xlog:disable`` included, so JVM log lines may reach stdout) keep
    the values that launch chose, and only runtime SQL configs are
    applied to the reused session.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # test parquet is written with isAdjustedToUTC=false in some rounds;
        # read those as TIMESTAMP (LTZ) — the engine's time operators
        # (unix_micros, session_window vs DuckDB naive) are TIMESTAMP-typed.
        # load_table() also normalizes per-scan for foreign sessions.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        # managed-table warehouse (bucketed-table layouts) lives in /tmp,
        # never inside the repo checkout
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"
            ),
        )
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        # JVM unified logging writes [warning][gc,alloc] lines to STDOUT
        # (observed: a GCLocker retry warning landed in front of bench.py's
        # one-JSON-line output); disable it so the driver contract's stdout
        # stays machine-parseable under memory pressure
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-Xlog:disable"),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
