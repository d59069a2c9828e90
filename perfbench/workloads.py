"""The three workloads. Each runs as a closed loop with one client: the
next operation starts only after the previous one returned all of
its rows.

- ``sql_mix`` and ``pipeline_mix`` call registry queries
  (``queries.all_specs()``) and ``collect()`` every column; the seed
  permutes the query order of each pass.
- ``stream_replay`` stages the events, in a seeded arrival order, as
  micro-batch files and drains two operator queries over them.

An operation is timed from the call into the program until the last
result row is held. Checking, cache release and waiting for listener
events happen outside that time.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

from perfbench import oracle, tracing

SQL_MIX = (
    "tpch_q1", "agg_grouping_sets", "window_session_agg",
    "interval_join_batch", "match_recognize_sql",
)
PIPELINE_MIX = (
    "graph_connected_components", "ann_ivf_lloyd", "dedup_minhash_lsh",
    "text_fingerprint",
)
OP_TIMEOUT_S = 60.0  # an operation slower than this counts as failed

# stream_replay: arrival = ts + delay, delay < MAX_DELAY_S, well inside
# the watermark, so events arrive out of order but none is late. A
# micro-batch costs ~1 s on a 4-core host whatever its size, so two
# files per drain and two drains keep one pass near 5 s.
WATERMARK = "10 minutes"
MAX_DELAY_S = 300.0
MICRO_BATCHES = 2
COUNT_WINDOW = 5


@dataclass
class Op:
    name: str
    seconds: float
    columns: list[str] = field(default_factory=list)
    rows: list = field(default_factory=list)
    error: str | None = None
    stats: dict = field(default_factory=dict)


@dataclass
class Context:
    spark: object
    data_dir: str
    work_dir: str
    seed: int
    tracer: tracing.Tracer
    expected: dict
    traced: bool = False


def _timed_collect(ctx: Context, name: str, build,
                   build_span: str = "queries.build") -> Op:
    """Run ``build()`` then collect every row; in traced passes, split
    planning from the action and tag jobs with a job group."""
    sc, tr = ctx.spark.sparkContext, ctx.tracer
    t0 = time.perf_counter()
    try:
        with tr.span("op"):
            if ctx.traced:
                sc.setJobGroup(f"{tr.trace_id}/build", tr.trace_id)
            with tr.span(build_span):
                df = build()
            if ctx.traced:
                sc.setJobGroup(f"{tr.trace_id}/action", tr.trace_id)
                with tr.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tr.span("spark.action"):
                rows = df.collect()
        seconds = time.perf_counter() - t0
    except Exception as e:  # a failing operation is counted, not fatal
        return Op(name, time.perf_counter() - t0, error=f"{type(e).__name__}: {e}"[:500])
    finally:
        if ctx.traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
    op = Op(name, seconds, list(df.columns), rows)
    if seconds > OP_TIMEOUT_S:
        op.error = f"timed out: {seconds:.1f} s > {OP_TIMEOUT_S} s"
    return op


class BatchMix:
    """Registry queries over the generated tables."""

    def __init__(self, name: str, queries: tuple[str, ...]):
        self.name, self.ops = name, queries
        self.specs: dict = {}

    def prepare(self, ctx: Context) -> None:
        """The tables and their oracles are built once per checkout."""

    def setup(self, ctx: Context) -> None:
        from flink_1_11_2_with_comments_spark import queries
        self.specs = queries.all_specs()

    def run_pass(self, ctx: Context, pass_no: int) -> list[Op]:
        order = list(self.ops)
        random.Random(ctx.seed * 1_000_003 + pass_no).shuffle(order)
        ops = []
        for name in order:
            ctx.tracer.trace_id = f"{self.name}/{pass_no}/{name}"
            fn = self.specs[name].fn
            op = _timed_collect(ctx, name, lambda: fn(ctx.spark, ctx.data_dir))
            op.stats["trace"] = ctx.tracer.trace_id
            # leaked storage is read before the release that hides it
            with ctx.tracer.span("storage.check"):
                op.stats["leaked_rdds"], op.stats["cached_mb"] = tracing.storage(ctx.spark)
                tracing.release(ctx.spark)
            ops.append(op)
        return ops

    def check(self, ctx: Context, op: Op) -> str | None:
        return oracle.diff(oracle.normalize(op.columns, op.rows),
                           ctx.expected[op.name])

    def report(self, passes: list[list[Op]]) -> dict:
        return {}


class StreamReplay:
    """Two operator queries, one at a time, over the replayed events: a
    watermarked tumble window (Spark state) and a per-user count window
    (keyed Python state)."""

    name = "stream_replay"
    ops = ("tumble_window", "count_window")

    def __init__(self):
        self.listener = None
        self.events = None
        self.n_events = 0

    def input_path(self, ctx: Context) -> str:
        return os.path.join(ctx.work_dir, "stream_events.parquet")

    def prepare(self, ctx: Context) -> None:
        """Write this seed's stream and its expected results. The
        benchmark's own work: runs before the set-up clock starts."""
        import duckdb
        import pyarrow.parquet as pq

        from perfbench import datagen
        events = pq.read_table(os.path.join(ctx.data_dir, "events.parquet"))
        stream = datagen.stream_input(events, ctx.seed, MAX_DELAY_S)
        pq.write_table(stream, self.input_path(ctx))
        self.n_events = stream.num_rows
        con = duckdb.connect()
        con.execute(f"CREATE VIEW s AS SELECT * FROM read_parquet('{self.input_path(ctx)}')")
        ctx.expected = {op: oracle.duckdb_result(con, sql)
                        for op, sql in _stream_oracles().items()}
        con.close()

    def setup(self, ctx: Context) -> None:
        from flink_1_11_2_with_comments_spark import catalog
        self.listener = tracing.ProgressListener()
        ctx.spark.streams.addListener(self.listener)
        self.events = catalog.load_table(ctx.spark, ctx.work_dir, "stream_events")

    def run_pass(self, ctx: Context, pass_no: int) -> list[Op]:
        from flink_1_11_2_with_comments_spark.sources import replay
        tr = ctx.tracer
        base = os.path.join(ctx.work_dir, f"replay-{pass_no}")
        tr.trace_id = f"{self.name}/{pass_no}/stage"
        t0 = time.perf_counter()
        if ctx.traced:
            ctx.spark.sparkContext.setJobGroup(f"{tr.trace_id}/build", tr.trace_id)
        try:
            with tr.span("op"):
                stream = replay.replay_as_stream(
                    self.events, n_batches=MICRO_BATCHES, order_by="arrival",
                    base_dir=base)
        except Exception as e:  # counted as a failed operation
            return [Op("stage", time.perf_counter() - t0, error=f"{type(e).__name__}: {e}"[:500],
                       stats={"trace": tr.trace_id, "files": 0})]
        finally:
            if ctx.traced:
                ctx.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        stage = Op("stage", time.perf_counter() - t0)
        stage.stats.update(trace=tr.trace_id,
                           files=len(os.listdir(os.path.join(base, "data"))))
        ops = [stage]
        for op_name in self.ops:
            query = f"{op_name}_{pass_no}"
            tr.trace_id = f"{self.name}/{pass_no}/{op_name}"
            build = _stream_ops()[op_name]
            op = _timed_collect(ctx, op_name, lambda: replay.write_stream_to_memory(
                build(stream), query, output_mode="append"), "streaming.drain")
            op.stats["trace"] = tr.trace_id
            try:
                op.stats["progress"] = self.listener.finished(query)
            except TimeoutError as e:
                op.error = op.error or str(e)
            ctx.spark.catalog.dropTempView(query)
            ops.append(op)
        shutil.rmtree(base, ignore_errors=True)
        return ops

    def check(self, ctx: Context, op: Op) -> str | None:
        if op.name == "stage":
            return None if op.stats["files"] == MICRO_BATCHES else \
                f"staged {op.stats['files']} files, not {MICRO_BATCHES}"
        progress = op.stats.get("progress", [])
        dropped = sum(s.get("numRowsDroppedByWatermark", 0)
                      for p in progress for s in p.get("stateOperators", ()))
        if dropped:
            return f"{dropped} rows dropped as late; the input has none"
        cols, rows = ctx.expected[op.name]
        if op.name == "tumble_window":
            # append mode emits the windows the final watermark closed
            wm = _final_watermark(progress)
            i = cols.index("window_end")
            rows = [r for r in rows if wm is not None and r[i] <= wm]
        return oracle.diff(oracle.normalize(op.columns, op.rows), (cols, rows))

    def report(self, passes: list[list[Op]]) -> dict:
        """The streaming user's view: events per second of draining and
        the latency of micro-batches that carried input."""
        drains = [o for ops in passes for o in ops if o.name != "stage"]
        batches = [p["durationMs"]["triggerExecution"] for o in drains
                   for p in o.stats.get("progress", ()) if p["numInputRows"] > 0]
        drain_s = statistics.median(
            sum(o.seconds for o in ops if o.name != "stage") for ops in passes)
        out = {"microbatches": len(batches)}
        if drain_s > 0:
            out["events_per_s"] = {"value": len(self.ops) * self.n_events / drain_s,
                                   "unit": "events/s"}
        if batches:
            out["microbatch_p50_ms"] = {"value": statistics.median(batches), "unit": "ms"}
        if len(batches) >= 100:
            out["microbatch_p90_ms"] = {"value": percentile(batches, 90), "unit": "ms"}
        return out


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(q / 100 * len(s)) - 1))]


def _final_watermark(progress: list[dict]) -> str | None:
    marks = [p["eventTime"]["watermark"] for p in progress
             if "watermark" in p.get("eventTime", {})]
    if not marks:
        return None
    last = dt.datetime.strptime(marks[-1], "%Y-%m-%dT%H:%M:%S.%fZ")
    return last.isoformat()


def _stream_ops() -> dict:
    from pyspark.sql import functions as F

    from flink_1_11_2_with_comments_spark.streaming import (count_window,
                                                             windows)

    def tumble_window(s):
        return (s.withWatermark("ts", WATERMARK)
                .groupBy(windows.tumble("ts", "1 hour"), "event_type")
                .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
                .select(F.col("window.start").alias("window_start"),
                        F.col("window.end").alias("window_end"),
                        "event_type", "n", "total"))

    def count_win(s):
        return count_window.count_tumbling_window(s, ["user_id"], COUNT_WINDOW,
                                                  "value")

    return {"tumble_window": tumble_window, "count_window": count_win}


def _stream_oracles() -> dict[str, str]:
    return {
        "tumble_window": """
            SELECT time_bucket(INTERVAL 1 hour, ts) AS window_start,
                   time_bucket(INTERVAL 1 hour, ts) + INTERVAL 1 hour AS window_end,
                   event_type, count(*) AS n, sum(value) AS total
            FROM s GROUP BY ALL""",
        "count_window": f"""
            WITH r AS (
              SELECT user_id, value, (row_number() OVER (
                       PARTITION BY user_id ORDER BY arrival) - 1)
                       // {COUNT_WINDOW} AS window_seq
              FROM s)
            SELECT user_id, window_seq, count(*) AS n, sum(value) AS total,
                   min(value) AS vmin, max(value) AS vmax
            FROM r GROUP BY ALL HAVING count(*) = {COUNT_WINDOW}""",
    }


WORKLOADS = {
    "sql_mix": lambda: BatchMix("sql_mix", SQL_MIX),
    "pipeline_mix": lambda: BatchMix("pipeline_mix", PIPELINE_MIX),
    "stream_replay": StreamReplay,
}
