"""The per-file parquet schema cache behind ``catalog.load_table``.

The reference resolves a table's schema once, at registration
(Catalog.java:51). Here the first read of a file infers it, and every
later read of the same unchanged file under the same inference confs
passes it to the reader: no schema-inference job, same schema, same
rows.
"""

from __future__ import annotations

import datetime as dt
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import TimestampNTZType

from flink_1_11_2_with_comments_spark import catalog
from flink_1_11_2_with_comments_spark.catalog import (TPCH_TABLES,
                                                      TableEnvironment,
                                                      load_table)

from .conftest import SF_SMOKE as SF


def _jobs_started(spark, action) -> int:
    """Spark jobs started while ``action()`` runs, counted by job group."""
    sc = spark.sparkContext
    group = f"catalog-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_cold_and_warm_loads_agree(spark):
    catalog._SCHEMAS.clear()
    for name in TPCH_TABLES:
        cold = load_table(spark, SF, name)
        warm = load_table(spark, SF, name)
        assert cold.schema == warm.schema, name
        assert cold.schema == catalog._convert_nano_ts(
            spark.read.parquet(f"{SF}/{name}.parquet"), name).schema, name
        assert cold.collect() == warm.collect(), name


def test_warm_loads_start_no_job(spark):
    load_table(spark, SF, "lineitem")
    TableEnvironment(spark, SF)
    assert _jobs_started(spark, lambda: load_table(spark, SF, "lineitem")) == 0
    assert _jobs_started(spark, lambda: TableEnvironment(spark, SF)) == 0


def test_two_loads_keep_separate_attribute_ids(spark):
    """DataFrames are not cached: a self-join of two loads resolves."""
    a = load_table(spark, SF, "nation").alias("a")
    b = load_table(spark, SF, "nation").alias("b")
    joined = a.join(b, a["n_regionkey"] == b["n_regionkey"])
    assert joined.count() == 5 * 5 * 5


@pytest.mark.parametrize("layout", ["file", "dir"])
def test_rewrite_at_same_path_reads_new_schema(spark, tmp_path, layout):
    path = tmp_path / "t.parquet"
    if layout == "dir":
        path.mkdir()
        path = path / "part-0.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_inference_conf_change_misses_cache(spark):
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    path = f"{SF}/events.parquet"
    before = spark.conf.get(key)
    assert isinstance(load_table(spark, SF, "events").schema["ts"].dataType,
                      TimestampNTZType)
    try:
        spark.conf.set(key, "false")
        inferred = spark.read.parquet(path).schema["ts"].dataType
        assert not isinstance(inferred, TimestampNTZType)
        assert load_table(spark, SF, "events").schema["ts"].dataType == inferred
    finally:
        spark.conf.set(key, before)
    assert isinstance(load_table(spark, SF, "events").schema["ts"].dataType,
                      TimestampNTZType)


def test_merge_schema_change_misses_cache(spark, tmp_path):
    """Unmerged, a directory's schema comes from one footer: never all
    three columns. Merged it has all three, also after an unmerged
    load of the same unchanged directory."""
    key = "spark.sql.parquet.mergeSchema"
    (tmp_path / "t.parquet").mkdir()
    pq.write_table(pa.table({"a": [1], "b": [2]}),
                   tmp_path / "t.parquet" / "part-0.parquet")
    pq.write_table(pa.table({"a": [3], "c": [4]}),
                   tmp_path / "t.parquet" / "part-1.parquet")
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert len(load_table(spark, str(tmp_path), "t").columns) == 2
        spark.conf.set(key, "true")
        assert sorted(load_table(spark, str(tmp_path), "t").columns) == [
            "a", "b", "c"]
    finally:
        spark.conf.set(key, before)


def test_nanosecond_timestamps_convert_on_every_load(spark, tmp_path):
    """A TIMESTAMP(NANOS) rowtime infers as long; both the inferring and
    the cached load go through ``_convert_nano_ts``."""
    nanos = [1_700_000_000_123_456_789, 1_700_000_060_000_001_000]
    pq.write_table(pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array(nanos, pa.timestamp("ns")),
    }), tmp_path / "events.parquet")
    first = load_table(spark, str(tmp_path), "events")
    second = load_table(spark, str(tmp_path), "events")
    assert isinstance(first.schema["ts"].dataType, TimestampNTZType)
    assert first.schema == second.schema
    want = [dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=n // 1000)
            for n in nanos]
    assert [r.ts for r in first.orderBy("event_id").collect()] == want
    assert first.collect() == second.collect()
