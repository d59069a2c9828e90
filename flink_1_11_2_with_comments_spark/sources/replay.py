"""Replay a bounded table as an unbounded stream for tests.

The reference's streaming ITCases feed fixed collections through the
streaming runtime element by element with explicit watermarks
(TestData.scala fixtures + harness tests, SURVEY §5.2-5.3). The Spark
analogue: stage the rows as N parquet files and read them back with
maxFilesPerTrigger=1, so each file becomes one micro-batch and the
watermark advances between batches.

Spark's file stream source picks files oldest-modification-first, so
each staged batch gets a strictly increasing mtime — otherwise batch
order (and therefore watermark progression and late-data dropping)
would be nondeterministic.

All N files come from one Spark write (``_stage_batches``): the rows
are tagged with their batch once, sorted by batch and arrival in one
task, and written partitioned by batch, so staging costs one job
however many batches there are.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def replay_as_stream(df: DataFrame, n_batches: int = 4,
                     order_by: str | None = None,
                     base_dir: str | None = None) -> DataFrame:
    """Stage ``df`` as ``n_batches`` files, return a streaming DataFrame.

    order_by: column to sort by before splitting, so micro-batches
    arrive in time order — realistic monotone watermark progression,
    matching the reference's BoundedOutOfOrdernessWatermarks setup.
    Without it, rows are split round-robin (heavily out-of-order
    replay, useful for late-data tests).
    """
    from ..catalog import instant_timestamps

    # stage instants, not NTZ: downstream withWatermark requires
    # TimestampType, and the UTC session makes the cast lossless
    df = instant_timestamps(df)
    spark = df.sparkSession
    base = base_dir or tempfile.mkdtemp(prefix="replay_")
    data_dir = os.path.join(base, "data")
    os.makedirs(data_dir, exist_ok=True)
    _stage_batches(df, data_dir, base, n_batches, order_by,
                   first_index=0, mtime0=time.time() - n_batches - 1)

    return (spark.readStream
            .schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(data_dir))


def write_stream_to_memory(stream_df: DataFrame, name: str,
                           output_mode: str = "append",
                           checkpoint_dir: str | None = None) -> DataFrame:
    """Run a streaming query to completion into an in-memory table.

    processAllAvailable() drains every staged micro-batch
    synchronously — the test-side equivalent of the reference's
    OneInputStreamOperatorTestHarness drive loop.
    Returns the result as a batch DataFrame.

    Timestamp outputs (including window-bound structs) are cast back
    to TIMESTAMP_NTZ so results compare exactly against batch plans
    computed on the naive-typed tables, on any driver OS timezone.
    """
    from ..catalog import naive_timestamps

    stream_df = naive_timestamps(stream_df)
    spark = stream_df.sparkSession
    w = (stream_df.writeStream
         .format("memory")
         .queryName(name)
         .outputMode(output_mode))
    if checkpoint_dir is not None:
        # persistent checkpoint: lets the statestore source read the
        # operator's keyed state back after the query stops (the
        # savepoint-reader path, streaming/scd2.scd2_read_savepoint)
        w = w.option("checkpointLocation", checkpoint_dir)
    q = w.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def extend_replay(df: DataFrame, data_dir: str, n_batches: int = 1,
                  order_by: str | None = None,
                  start_index: int = 1000) -> None:
    """Stage additional batch files into an EXISTING replay directory
    — the restart-recovery scenario: a stopped streaming query is
    resumed from its checkpoint and must pick up exactly the files
    added after the stop (the file source's committed offsets live in
    the checkpoint, the analogue of the reference's
    CheckpointCoordinator offsets). File names and mtimes sort after
    every previously staged batch."""
    from ..catalog import instant_timestamps

    base = tempfile.mkdtemp(prefix="replay_ext_")
    _stage_batches(instant_timestamps(df), data_dir, base, n_batches,
                   order_by, first_index=start_index,
                   mtime0=time.time() + 1)
    shutil.rmtree(base, ignore_errors=True)


def _stage_batches(df: DataFrame, data_dir: str, stage_dir: str,
                   n_batches: int, order_by: str | None,
                   first_index: int, mtime0: float) -> None:
    """Split ``df`` into ``n_batches`` (ntile over ``order_by``, else
    round-robin by row id) and stage batch i as the parquet file
    ``batch_{first_index + i:04d}.parquet`` in ``data_dir``, with
    mtime ``mtime0 + i``: the file source reads oldest first, so mtime
    order is batch order.

    One Spark write stages every batch: a single task sorted by batch
    and then by ``order_by`` (or the row id) writes one file per batch
    (``partitionBy``) through ``stage_dir``, so each file keeps the
    arrival order. A batch that got no rows still gets its own empty
    file, so the replay always has ``n_batches`` micro-batches."""
    if order_by is not None:
        tagged = df.withColumn(
            "__b", F.ntile(n_batches).over(Window.orderBy(order_by)))
        within = order_by
    else:
        tagged = (df.withColumn("__id", F.monotonically_increasing_id())
                  .withColumn("__b",
                              (F.col("__id") % n_batches + 1).cast("int")))
        within = "__id"
    staged = tagged.coalesce(1).sortWithinPartitions("__b", within)
    if order_by is None:
        staged = staged.drop("__id")
    tmp = os.path.join(stage_dir, "stage")
    staged.write.mode("overwrite").partitionBy("__b").parquet(tmp)
    for i in range(1, n_batches + 1):
        batch = os.path.join(tmp, f"__b={i}")
        if not os.path.isdir(batch):  # no rows: stage a schema-only file
            df.limit(0).coalesce(1).write.parquet(batch)
        src = glob.glob(os.path.join(batch, "part-*.parquet"))[0]
        dst = os.path.join(data_dir, f"batch_{first_index + i:04d}.parquet")
        shutil.move(src, dst)
        os.utime(dst, (mtime0 + i, mtime0 + i))
    shutil.rmtree(tmp, ignore_errors=True)
