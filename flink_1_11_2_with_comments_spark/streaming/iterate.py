"""Streaming iterations — DataStream.iterate (DataStream.java:520,
IterativeStream.java): a feedback edge routes part of an operator's
output back into its own input, and elements leave the loop when a
routing condition sends them downstream instead.

Spark mapping: Structured Streaming plans are DAGs — there is no
feedback edge. The emulation routes the feedback through storage:
the loop input is a file-source STREAM over a loop directory; every
micro-batch runs the loop body, splits the result into exit rows
(appended to the output sink) and feedback rows (written BACK into
the loop directory), and the SAME running query picks the feedback
file up as its next micro-batch. One continuously-running streaming
query therefore executes the whole iteration; the driver seeds the
first file and blocks on processAllAvailable(), which returns
exactly when the feedback channel goes silent — the reference's
iteration-termination contract (DataStream.iterate(maxWaitTimeMillis)
ends the loop when no feedback element arrives within the timeout;
quiescence here is the deterministic analogue).

Scale: each micro-batch is a normal distributed batch over the
feedback files (executors do all row work; the driver only observes
query progress), and the loop depth equals the reference's
superstep count, not the data size. The loop directory is a real
shuffle-free channel, but the exit/feedback split moves files with
driver-local ``os.rename``: the loop, output and staging directories
must be on a filesystem the driver mounts and executors write to (a
local or shared POSIX path). An object store would need the split
rewritten as Hadoop FileSystem renames (or copies, where rename is
not atomic). Body transformations are ordinary streaming DataFrame
ops, so Catalyst plans every round.

Flink's canonical iterate example (the minus-one loop from the
DataStream docs) is pinned in tests/test_streaming.py.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def iterate_stream(
    spark: SparkSession,
    seed_df: DataFrame,
    body,
    exit_cond: Column,
    work_dir: str | None = None,
    max_rounds: int = 100,
) -> DataFrame:
    """Run ``body`` (a streaming-DataFrame transform) over ``seed_df``
    with a feedback loop: rows satisfying ``exit_cond`` AFTER the body
    leave the loop; the rest feed back. Returns the batch DataFrame of
    every exited row once the loop has quiesced.

    ``max_rounds`` bounds the feedback depth (IterativeStream has the
    same guard via its wait timeout): a body that never drives rows
    toward the exit raises rather than looping forever. The exit
    condition must be expressible on the body's OUTPUT schema, which
    must equal the loop input schema (the reference requires the
    feedback type to match the iteration input type —
    IterativeStream.closeWith's type check).

    Per-round cost is ONE Spark action (guide §2.4): the micro-batch
    is written once, partitioned by the routing decision, and the
    exit/feedback split happens with driver-side file renames (pure
    metadata ops — the same move a commit protocol does). The
    previous form ran three actions per round (exit write, feedback
    existence probe, feedback write) over a persisted batch; at ~20
    rounds for the halving face that tripled the micro-batch floor
    (measured 9.5 -> 5.5s best-of-3 at sf0.1, rows identical). The
    feedback-quiescence probe is now a directory check: partitioned
    writes emit no directory for an empty branch, so "no __exit=false
    dir" IS the termination signal — no counting job, and no empty
    feedback file that would wake the source for a ghost round.

    The routing column is named ``__exit``; an input schema that
    already has a column of that name raises ``ValueError`` (it would
    be overwritten, stripped by the partitioned write and read back
    as NULL).
    """
    if "__exit" in seed_df.columns:
        raise ValueError(
            "iterate_stream: input schema has a column named '__exit', "
            "which the loop uses to route exit/feedback rows; rename it")
    root = work_dir or tempfile.mkdtemp(prefix="spark_iterate_")
    loop_dir = os.path.join(root, "loop")
    out_dir = os.path.join(root, "out")
    chk = os.path.join(root, "chk")
    os.makedirs(loop_dir, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    schema = seed_df.schema
    seed_df.write.mode("append").parquet(loop_dir)

    rounds = {"n": 0}

    def route(df: DataFrame, epoch_id: int) -> None:
        rounds["n"] = epoch_id + 1
        if epoch_id >= max_rounds:
            raise RuntimeError(
                f"iterate_stream: feedback still active after "
                f"{max_rounds} rounds — body does not converge")
        # Route EVERY row exactly once (IterativeStream routes all
        # elements): a NULL exit condition must not vanish from both
        # branches, so the split is on coalesce(cond, false) — NULL
        # rows land in the feedback branch and keep circulating until
        # the body resolves them (or max_rounds trips).
        decided = F.coalesce(exit_cond, F.lit(False))
        stage = os.path.join(root, f"stage_{epoch_id}")
        (df.withColumn("__exit", decided)
           .write.mode("overwrite").partitionBy("__exit").parquet(stage))
        # partitionBy strips __exit from the data files, so the moved
        # files match the loop schema exactly; epoch-prefixed names
        # keep paths unique (the file source tracks processed paths)
        for branch, dst in (("true", out_dir), ("false", loop_dir)):
            bdir = os.path.join(stage, f"__exit={branch}")
            if os.path.isdir(bdir):
                for i, fpath in enumerate(sorted(
                        glob.glob(os.path.join(bdir, "*.parquet")))):
                    os.rename(fpath, os.path.join(
                        dst, f"e{epoch_id}_{i}_{os.path.basename(fpath)}"))
        shutil.rmtree(stage, ignore_errors=True)

    src = spark.readStream.schema(schema).parquet(loop_dir)
    q = (body(src).writeStream.foreachBatch(route)
         .option("checkpointLocation", chk).start())
    try:
        # blocks until every file — INCLUDING feedback files written
        # by earlier micro-batches — has been processed: the loop
        # runs to quiescence inside this one call
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.read.schema(schema).parquet(out_dir)
    return out
