"""Hive catalog connector — SURVEY §2.1 (the warehouse bridge).

Reference: flink-connectors/flink-connector-hive (HiveCatalog,
HiveTableSource/Sink) — Flink's bridge to a Hive metastore-backed
warehouse. Spark's equivalent is built in: ``enableHiveSupport()``
backs the session catalog with a Hive metastore (embedded Derby when
no remote metastore URI is configured), and ``saveAsTable`` /
``spark.table`` / ``INSERT INTO`` speak to it natively.

Constraint worth documenting: Hive support must be chosen when the
FIRST SparkSession of the JVM is built — ``getOrCreate`` on a live
non-Hive session returns it unchanged. The package therefore keeps
Hive off by default (the driver owns the shared session) and exposes
this factory for deployments that want the warehouse catalog;
tests/test_hive.py exercises the real path in a subprocess JVM.

At 100 TB the Hive catalog is the partition authority: partitioned
``saveAsTable`` registers one metastore partition per value, and a
filtered read prunes to the matching partitions (PartitionFilters in
the scan) instead of listing the whole table — the same contract the
reference's HiveTableSource implements with
SupportsPartitionPushDown.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..session import CPUS, shuffle_width


def hive_spark(warehouse_dir: str, metastore_dir: str,
               app_name: str = "hive_catalog",
               cpus: int | str = CPUS) -> SparkSession:
    """A Hive-catalog SparkSession over an embedded Derby metastore.

    Must run in a JVM with no prior SparkSession (see module doc).
    ``javax.jdo...ConnectionURL`` pins the metastore to
    ``metastore_dir`` so concurrent tests never share Derby state.
    Cores and shuffle width follow the shared session's defaults
    (``session.CPUS``, ``session.shuffle_width``).
    """
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.warehouse.dir", warehouse_dir)
        .config("javax.jdo.option.ConnectionURL",
                f"jdbc:derby:;databaseName={metastore_dir};create=true")
        .config("spark.sql.shuffle.partitions", shuffle_width(str(cpus)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .enableHiveSupport()
        .getOrCreate())


def save_partitioned_table(df: DataFrame, table: str,
                           partition_cols: list[str],
                           fmt: str = "parquet") -> None:
    """Register ``df`` as a partitioned table in the Hive catalog
    (HiveTableSink analogue: one metastore partition per value)."""
    (df.write.mode("overwrite").format(fmt)
     .partitionBy(*partition_cols).saveAsTable(table))


def table_partitions(spark: SparkSession, table: str) -> list[str]:
    """SHOW PARTITIONS — proves the metastore tracks the layout
    (HiveCatalog.listPartitions analogue)."""
    return [r[0] for r in spark.sql(f"SHOW PARTITIONS {table}").collect()]


def is_hive_catalog(spark: SparkSession) -> bool:
    """True when the session catalog is Hive-backed."""
    return spark.conf.get("spark.sql.catalogImplementation", "") == "hive"


def partition_pruned_plan(spark: SparkSession, table: str,
                          predicate: str) -> str:
    """Physical plan text of a partition-filtered scan — callers assert
    PartitionFilters reached the scan node."""
    df = spark.table(table).where(predicate)
    return df._jdf.queryExecution().executedPlan().toString()


def _default_dirs(base: str) -> tuple[str, str]:
    return (os.path.join(base, "warehouse"), os.path.join(base, "metastore"))
