"""Hive catalog connector, exercised for real — SURVEY §2.1.

enableHiveSupport must be chosen at first-session construction, so
the real path runs in a SUBPROCESS JVM (clean session), mirroring how
the reference's HiveCatalog ITCases spin a dedicated embedded
metastore per suite. The parent asserts on the child's printed
markers, keeping the shared test session untouched.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = textwrap.dedent("""
    import os, sys
    sys.path.insert(0, {repo!r})
    os.chdir({workdir!r})  # derby.log etc. stay in the tmpdir
    from flink_1_11_2_with_comments_spark.sources.hive import (
        hive_spark, is_hive_catalog, partition_pruned_plan,
        save_partitioned_table, table_partitions)
    from flink_1_11_2_with_comments_spark.session import (
        CPUS, shuffle_width)
    from pyspark.sql import functions as F

    spark = hive_spark({warehouse!r}, {metastore!r})
    assert is_hive_catalog(spark), "session is not Hive-backed"
    # the shared session's core count and shuffle width, not a fixed 8
    assert spark.sparkContext.master == f"local[{{CPUS}}]", (
        spark.sparkContext.master, CPUS)
    width = spark.conf.get("spark.sql.shuffle.partitions")
    assert width == shuffle_width(CPUS), (width, CPUS)
    print("SIZING_OK")

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    df = orders.withColumn("o_year", F.year("o_orderdate"))
    save_partitioned_table(df, "orders_hive", ["o_year"])

    parts = table_partitions(spark, "orders_hive")
    assert len(parts) >= 2, f"expected >=2 partitions, got {{parts}}"
    assert all(p.startswith("o_year=") for p in parts), parts
    print("PARTITIONS_OK", len(parts))

    back = spark.table("orders_hive")
    assert back.count() == orders.count(), "row count mismatch"
    total = back.agg(F.sum("o_totalprice")).collect()[0][0]
    expect = orders.agg(F.sum("o_totalprice")).collect()[0][0]
    assert abs(total - expect) < 1e-6, (total, expect)
    print("ROUNDTRIP_OK")

    # partition pruning: the filtered scan must carry PartitionFilters
    yr = int(parts[0].split("=")[1])
    plan = partition_pruned_plan(spark, "orders_hive", f"o_year = {{yr}}")
    assert "PartitionFilters" in plan and "o_year" in plan, plan
    pruned = spark.table("orders_hive").where(F.col("o_year") == yr)
    per_year = df.where(F.col("o_year") == yr)
    assert pruned.count() == per_year.count()
    print("PRUNING_OK")

    # INSERT INTO through the catalog (HiveTableSink append path)
    spark.sql(
        "INSERT INTO orders_hive "
        "SELECT o_orderkey + 1000000, o_custkey, o_orderstatus, "
        "o_totalprice, o_orderdate, o_orderpriority, 2099 AS o_year "
        "FROM orders_hive LIMIT 5")
    assert spark.table("orders_hive").count() == orders.count() + 5
    assert any(p == "o_year=2099"
               for p in table_partitions(spark, "orders_hive"))
    print("INSERT_OK")
    spark.stop()
""")


def test_hive_catalog_roundtrip_subprocess():
    with tempfile.TemporaryDirectory(prefix="hive_") as base:
        script = _CHILD.format(
            repo=REPO, workdir=base,
            warehouse=os.path.join(base, "warehouse"),
            metastore=os.path.join(base, "metastore"))
        proc = subprocess.run(
            [sys.executable, "-c", script],
            capture_output=True, text=True, timeout=300)
        out = proc.stdout
        assert proc.returncode == 0, (
            f"hive subprocess failed\nstdout:\n{out}\n"
            f"stderr:\n{proc.stderr[-4000:]}")
        for marker in ("SIZING_OK", "PARTITIONS_OK", "ROUNDTRIP_OK",
                       "PRUNING_OK", "INSERT_OK"):
            assert marker in out, f"missing {marker}\n{out}"
