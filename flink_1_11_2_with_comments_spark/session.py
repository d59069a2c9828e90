"""SparkSession factory.

Mirrors the reference's TableEnvironment bootstrap
(flink-table/flink-table-api-java/.../TableEnvironmentImpl.java:663)
as a plain SparkSession with scale-aware defaults:

- AQE on (runtime re-plan ≈ Blink's cost-based + mini-batch tuning,
  but adaptive): coalesces small shuffle partitions, rewrites skewed
  joins, converts to broadcast when runtime stats allow.
- ``spark.sql.shuffle.partitions`` is the core count, with no floor
  (``shuffle_width``). AQE coalesces batch shuffles anyway, but Spark
  fixes each streaming query's state-store count from this width at
  the query's first batch, and every store writes and commits its own
  delta file per micro-batch: one store per core runs in one wave.
  On a real cluster this is overridden per deployment.
- UTC session timezone so naive timestamps compare exactly against
  the DuckDB oracle.
- Arrow enabled: every Pandas-UDF operator in streaming/ and
  pipeline/ rides vectorized Arrow batches, not per-row pickling.
- Host-sized defaults: ``local[N]`` uses the CPUs this process may
  run on (``os.sched_getaffinity``) and the driver heap is three
  quarters of the host's ``MemTotal`` in whole GiB, at least 1g and
  at most 16g. ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM``
  override them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_cpus() -> int:
    """CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def driver_mem(mem_total_kib: int) -> str:
    """Three quarters of ``mem_total_kib`` in whole GiB, 1g to 16g."""
    return f"{max(1, min(16, mem_total_kib * 3 // 4 // 2**20))}g"


def shuffle_width(cpus: str) -> str:
    """Default shuffle width for ``local[cpus]``: the core count, or
    the host's CPUs when ``cpus`` is not a number (``*``)."""
    return cpus if cpus.isdigit() else str(host_cpus())


def host_mem_total_kib() -> int:
    with open("/proc/meminfo") as f:
        return next(int(line.split()[1]) for line in f
                    if line.startswith("MemTotal:"))


DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(host_cpus())


def get_spark(app_name: str = "flink_1_11_2_with_comments_spark",
              cpus: str | int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the tuned local session.

    On a production cluster every ``local[...]``/memory setting here
    is superseded by spark-submit conf; the semantic settings
    (timezone, ANSI-adjacent behavior, AQE) are the ones that travel.
    """
    cpus = str(cpus or CPUS)
    shuffle = str(shuffle_partitions or shuffle_width(cpus))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or driver_mem(host_mem_total_kib()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
        # robustness across testdata generations: if events.ts is ever
        # parquet TIMESTAMP(NANOS) again, read it as long (Spark has no
        # nanosecond timestamps) — catalog._convert_nano_ts converts.
        # The current layout is TIMESTAMP(MICROS, isAdjustedToUTC=false),
        # which reads as TIMESTAMP_NTZ and bypasses this setting.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
