"""Event-time semantics — SURVEY §2.9: timers, late-data dropping,
dynamic session gaps, watermark progression. The harness-test layer
(WindowOperatorTest.java:113 analogue): element-level control over
time, asserting the operator's time behavior."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from flink_1_11_2_with_comments_spark.sources.replay import (
    replay_as_stream, write_stream_to_memory)
from flink_1_11_2_with_comments_spark.streaming.state import keyed_process


BASE_TS = dt.datetime(2024, 1, 1, 0, 0, 0)


def _mk_events(spark, rows):
    # Route naive datetimes through TIMESTAMP_NTZ, then cast to the
    # instant type Spark-side: createDataFrame's direct
    # datetime→TimestampType conversion uses the DRIVER OS timezone,
    # which would shift these wall-clock fixtures under a non-UTC
    # host TZ; the NTZ→TIMESTAMP cast uses the pinned UTC session TZ,
    # so BASE_TS-relative assertions hold on any host.
    df = spark.createDataFrame(
        [(int(i), BASE_TS + dt.timedelta(seconds=s), int(k), float(v))
         for i, (s, k, v) in enumerate(rows)],
        "event_id bigint, ts timestamp_ntz, user_id bigint, value double")
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def test_late_rows_dropped_beyond_watermark(spark):
    """Rows later than the watermark are dropped before stateful ops —
    the allowed-lateness boundary (WindowOperator.java:317: elements
    past maxTimestamp+allowedLateness go to the side output / are
    dropped; Spark has no side output, rows just drop)."""
    # Spark ≥3.4 filters late rows with the PREVIOUS batch's watermark
    # (watermarkForLateEvents lags eviction by one batch), so the
    # late row must arrive two batches after the window expired:
    # batch 1: seconds 0..9 + 30 → eviction watermark 25s
    # batch 2: second 35 (on time) → late-filter watermark now 25s
    # batch 3: second 1 (late → DROPPED) + second 45 (on time)
    b1 = _mk_events(spark, [(s, 1, 1.0) for s in range(10)] + [(30, 1, 1.0)])
    b2 = _mk_events(spark, [(35, 1, 1.0)])
    b3 = _mk_events(spark, [(1, 1, 100.0), (45, 1, 1.0)])
    import tempfile
    base = tempfile.mkdtemp(prefix="late_")

    import glob
    import os
    import shutil
    import time
    data_dir = os.path.join(base, "data")
    os.makedirs(data_dir)
    now = time.time() - 10
    for i, part in enumerate([b1, b2, b3], start=1):
        tmp = os.path.join(base, f"s{i}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(data_dir, f"batch_{i:04d}.parquet")
        shutil.move(src, dst)
        os.utime(dst, (now + i, now + i))

    stream = (spark.readStream.schema(b1.schema)
              .option("maxFilesPerTrigger", 1).parquet(data_dir)
              .withWatermark("ts", "5 seconds"))
    # late-row dropping applies to EVENT-TIME-WINDOWED state: a plain
    # groupBy(key) agg has no event-time notion and late rows still
    # count (documented delta in SCALE.md) — window the aggregation.
    agg = (stream.groupBy(F.window("ts", "10 seconds"), "user_id")
           .agg(F.sum("value").alias("total")))
    got = write_stream_to_memory(agg, "late_out", output_mode="update")
    w0 = (got.where(F.col("window.start") == "2024-01-01 00:00:00")
          .agg(F.max("total")).collect()[0][0])
    # update mode re-emits revisions; the [0,10) window must never
    # have absorbed the late 100.0
    # the [0,10) window saw 10 on-time rows of 1.0; the late 100.0
    # targeting the already-expired window must be dropped (expiry is
    # window.end < watermark — rows late within a live window still
    # count, the allowed-lateness analogue)
    assert w0 == 10.0, w0


def test_event_time_timer_fires(spark):
    """EventTimeTimeout: a key with no new data is invoked once the
    watermark passes its registered timer — KeyedProcessFunction.onTimer
    (KeyedStream.java:354) semantics."""
    b1 = _mk_events(spark, [(0, 1, 1.0), (1, 1, 2.0)])
    b2 = _mk_events(spark, [(60, 2, 5.0)])  # advances watermark past key 1
    import glob
    import os
    import shutil
    import tempfile
    import time
    base = tempfile.mkdtemp(prefix="timer_")
    data_dir = os.path.join(base, "data")
    os.makedirs(data_dir)
    now = time.time() - 10
    for i, part in enumerate([b1, b2], start=1):
        tmp = os.path.join(base, f"s{i}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.move(glob.glob(os.path.join(tmp, "part-*.parquet"))[0],
                    os.path.join(data_dir, f"b{i:04d}.parquet"))
        os.utime(os.path.join(data_dir, f"b{i:04d}.parquet"),
                 (now + i, now + i))

    def fn(key, rows, state):
        if state.timed_out:
            return pd.DataFrame([{"user_id": key[0], "kind": "timer",
                                  "n": state.get("n", 0)}])
        n = state.get("n", 0) + len(rows)
        state.put("n", n)
        # fire once the watermark passes 10s after epoch start
        # (explicit UTC: naive .timestamp() would use the host OS TZ)
        state.register_event_timer(
            int(dt.datetime(2024, 1, 1, 0, 0, 10,
                            tzinfo=dt.timezone.utc).timestamp() * 1000))
        return pd.DataFrame([{"user_id": key[0], "kind": "data", "n": n}])

    stream = (spark.readStream.schema(b1.schema)
              .option("maxFilesPerTrigger", 1).parquet(data_dir)
              .withWatermark("ts", "1 second"))
    out = keyed_process(stream, ["user_id"], fn,
                        "user_id bigint, kind string, n bigint",
                        output_mode="update", timeout="EventTimeTimeout")
    got = write_stream_to_memory(out, "timer_out", output_mode="update")
    rows = {(r.user_id, r.kind): r.n for r in got.collect()}
    assert rows.get((1, "data")) == 2
    assert (1, "timer") in rows, rows  # fired without new key-1 data
    assert rows[(1, "timer")] == 2  # state visible in onTimer


def test_dynamic_session_gap(spark):
    """DynamicEventTimeSessionWindows: per-row gap via a Column —
    'error' events get a 2 s gap, others 20 s."""
    rows = [(0, 1, 1.0), (5, 1, 1.0), (22, 1, 1.0)]
    df = _mk_events(spark, rows) \
        .withColumn("event_type",
                    F.when(F.col("event_id") == 0, "error").otherwise("view"))
    gap = F.when(F.col("event_type") == "error", "2 seconds") \
        .otherwise("20 seconds")
    sess = (df.groupBy(F.session_window("ts", gap), "user_id")
            .agg(F.count("*").alias("n")).collect())
    # event 0 (gap 2s) closes alone; events at 5s and 22s chain via 20s gap
    sizes = sorted(r.n for r in sess)
    assert sizes == [1, 2], sess


def test_watermark_gates_append_emission(spark):
    """Append-mode window emission is watermark-gated: after draining,
    watermark = max(ts) - delay; only windows entirely below it emit
    (EventTimeTriggers.afterEndOfWindow analogue). The still-open
    window holds back."""
    b1 = _mk_events(spark, [(0, 1, 1.0), (50, 2, 1.0)])
    stream = replay_as_stream(b1, n_batches=1)
    agg = (stream.withWatermark("ts", "1 second")
           .groupBy(F.window("ts", "10 seconds"))
           .agg(F.count("*").alias("n")))
    got = write_stream_to_memory(agg, "wm_out", output_mode="append")
    rows = got.collect()
    # watermark = 50-1 = 49s: window [0,10) emits, [50,60) stays open
    assert len(rows) == 1 and rows[0].window.start == BASE_TS


def test_late_data_side_output(spark):
    """sideOutputLateData: rows behind the watermark are tagged and
    divertible instead of silently dropped. Replay splits by event_id
    (shuffled relative to ts), so later batches contain genuinely
    late event times; expected late set recomputed offline from the
    same split."""
    from pyspark.sql import Window as W
    from flink_1_11_2_with_comments_spark.catalog import load_table
    from flink_1_11_2_with_comments_spark.sources.replay import (
        replay_as_stream, write_stream_to_memory)
    from flink_1_11_2_with_comments_spark.streaming.side_output import (
        tag_late_rows)

    events = (load_table(spark, "/root/testdata/sf0.001", "events")
              .where(F.col("user_id") <= 30)
              .withColumn("shuf",
                          F.md5(F.col("event_id").cast("string"))))
    n_batches = 4
    stream = replay_as_stream(events, n_batches=n_batches,
                              order_by="shuf") \
        .withWatermark("ts", "1 minute")
    out = tag_late_rows(stream, ["user_id"], "ts")
    got = write_stream_to_memory(out, "late_out", output_mode="append")

    assert got.count() == events.count()  # nothing silently dropped
    late = {r.event_id for r in got.where("is_late").collect()}
    assert len(late) > 0

    # offline replay simulation: batch b gets ntile(b) by event_id;
    # watermark before batch b = max ts of earlier batches − 1 min.
    w = W.orderBy("shuf")
    tagged = events.withColumn("b", F.ntile(n_batches).over(w))
    rows = tagged.select("event_id", "ts", "b").collect()
    import collections
    max_ts = collections.defaultdict(lambda: None)
    for r in rows:
        cur = max_ts[r.b]
        max_ts[r.b] = r.ts if cur is None or r.ts > cur else cur
    expected_late = set()
    running = None
    for b in range(1, n_batches + 1):
        if running is not None:
            import datetime as dt
            wm = running - dt.timedelta(minutes=1)
            expected_late |= {r.event_id for r in rows
                              if r.b == b and r.ts <= wm}
        m = max_ts[b]
        running = m if running is None or (m and m > running) else running
    assert late == expected_late, (
        len(late), len(expected_late),
        sorted(late ^ expected_late)[:10])


def test_async_lookup_preserves_order_within_partition(spark):
    """AsyncDataStream.orderedWait semantics: the Arrow-batched lookup
    (mapInPandas) emits results in input order within each partition —
    ordered mode needs no extra machinery, unordered is a relaxation."""
    from flink_1_11_2_with_comments_spark.catalog import load_table
    c = (load_table(spark, "/root/testdata/sf0.001", "customer")
         .orderBy("c_custkey")
         .coalesce(1)
         .select("c_custkey", "c_nationkey"))

    def lookup(batches):
        for pdf in batches:
            out = pdf[["c_custkey"]].copy()
            out["r"] = pdf["c_nationkey"] * 2
            yield out

    got = c.mapInPandas(lookup, "c_custkey bigint, r bigint") \
        .collect()
    ids = [r.c_custkey for r in got]
    assert ids == sorted(ids) and len(ids) > 0


def test_triangle_count_known_graph(spark):
    """Triangle counting on a known graph: K4 has 4 triangles; adding
    a pendant edge changes nothing; duplicate/reversed edges dedupe."""
    from flink_1_11_2_with_comments_spark.operators.graph import (
        triangle_count)
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = spark.createDataFrame(
        k4 + [(3, 9), (1, 0), (2, 1)], "src bigint, dst bigint")
    assert triangle_count(edges).collect()[0].n_triangles == 4


def test_connected_components_known_answer(spark):
    """Frontier-delta CC (iterateDelta contract, one pregel call) on a
    chain (worst-case diameter — the frontier shrinks to the label
    wavefront) plus isolated pairs: every node gets the min id of its
    component. Run on a VALUES input, whose stats are known (the
    explicit-width loop edges), and on an RDD-backed one, whose stats
    are unknown (the by-column fallback): same known answer."""
    from flink_1_11_2_with_comments_spark._sizing import (
        _UNKNOWN_STATS, est_bytes)
    from flink_1_11_2_with_comments_spark.operators.graph import (
        connected_components)
    chain = [(i, i + 1) for i in range(10, 18)]
    pairs = [(100, 101), (200, 201), (202, 200)]
    known = spark.sql(
        "SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst "
        "FROM VALUES " + ", ".join(f"({a}, {b})" for a, b in chain + pairs)
        + " AS t(src, dst)")
    unknown = spark.createDataFrame(chain + pairs, "src bigint, dst bigint")
    want = ({(n, 10) for n in range(10, 19)}
            | {(100, 100), (101, 100), (200, 200), (201, 200), (202, 200)})
    assert est_bytes(known) < _UNKNOWN_STATS
    assert est_bytes(unknown) >= _UNKNOWN_STATS
    for df in (known, unknown):
        got = {(r.node, r.component)
               for r in connected_components(df).collect()}
        assert got == want


def _loop_case(spark, name):
    """(the caller's input frame, fn(frame) -> result) for one driver
    loop on a tiny input. Graph inputs are RDD-backed checkpoints,
    whose stats are unknown — the case where a loop that persisted
    its input in place used to unpersist the caller's frame."""
    from flink_1_11_2_with_comments_spark.operators import graph
    from flink_1_11_2_with_comments_spark.pipeline import pca, quality_clf
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6)],
        "src bigint, dst bigint").localCheckpoint()
    start = spark.createDataFrame([(1, 0)], "node bigint, value bigint")
    cases = {
        "pagerank": (edges, lambda e: graph.pagerank(e, iterations=3)),
        "label_propagation": (
            edges, lambda e: graph.label_propagation(e, iterations=3)),
        "hits": (edges, lambda e: graph.hits(e, iterations=2)),
        "connected_components": (edges, graph.connected_components),
        "pregel": (edges, lambda e: graph.pregel(
            e, start, send_msg=F.col("value") + 1, merge_msg=F.min,
            update=F.least, algo="bfs")),
        "k_core_pairs": (
            spark.createDataFrame([(1, 2), (2, 3), (1, 3), (3, 4)],
                                  "a bigint, b bigint").localCheckpoint(),
            lambda p: graph.k_core_pairs(p, k=2)),
        "power_top1": (
            spark.createDataFrame(
                [(i, j, 2.0 if i == j else 1.0 if abs(i - j) == 1 else 0.0)
                 for i in range(1, 4) for j in range(1, 4)],
                "i int, j int, cov double"),
            lambda c: pca.power_top1(c, rounds=3)),
        "logreg_fit": (
            spark.createDataFrame(
                [(1, "en", "a b c a"), (2, "de", "x y z"), (3, "en", "a c"),
                 (4, "de", "y y x")], "doc_id bigint, lang string, text string"),
            lambda d: quality_clf.logreg_fit(d, rounds=2)),
    }
    return cases[name]


@pytest.mark.parametrize("name", [
    "pagerank", "label_propagation", "hits", "connected_components",
    "pregel", "k_core_pairs", "power_top1", "logreg_fit"])
def test_loops_release_own_storage_keep_callers(spark, monkeypatch, name):
    """Storage ownership of every driver loop (operators/graph._Loop):
    after the result is collected the loop has left at most ONE
    persisted RDD behind — its result — having released its round
    checkpoints and the frames it persisted or checkpointed itself;
    and a loop whose round raises leaves none. A cache the CALLER
    holds on the input survives both."""
    from flink_1_11_2_with_comments_spark.operators import graph
    cache = spark._jsparkSession.sharedState().cacheManager()

    def persisted() -> set[int]:
        # ids, not a count: the ContextCleaner may unpersist RDDs of
        # unrelated garbage-collected frames at any time
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next()._1())
        return ids

    frame, run = _loop_case(spark, name)
    frame.persist()
    entries, before = cache.numCachedEntries(), persisted()
    calls = []
    barrier = graph._superstep
    monkeypatch.setattr(graph, "_superstep",
                        lambda df: calls.append(1) or barrier(df))
    try:
        out = run(frame)
        out.collect()
        assert frame.storageLevel.useMemory
        assert cache.numCachedEntries() == entries
    finally:
        frame.unpersist()
    # the caller's own cache is gone now; only the result may remain
    assert len(persisted() - before) <= 1

    def failing(df):
        # the loop's LAST superstep raises: every earlier round and
        # loop-invariant frame already exists
        calls.append(1)
        if len(calls) == n_calls:
            raise RuntimeError("round failed")
        return barrier(df)

    n_calls, calls[:] = len(calls), []
    frame.persist()
    mid = persisted()
    monkeypatch.setattr(graph, "_superstep", failing)
    try:
        with pytest.raises(RuntimeError, match="round failed"):
            run(frame)
        assert frame.storageLevel.useMemory
    finally:
        frame.unpersist()
    assert persisted() - mid == set()


def test_pagerank_plan_depth_constant(spark):
    """The per-round superstep barrier must keep the plan depth
    constant across iterations: at 10 iterations the final plan is a
    scan of the round-10 materialized RDD, not a 10-round join
    lineage (DataSet.iterate contract — superstep results are
    materialized, not replayed; without the barrier the logical tree
    doubles per round and analysis alone OOMs)."""
    from flink_1_11_2_with_comments_spark.operators.graph import pagerank
    edges = spark.createDataFrame(
        [(a, b) for a in range(6) for b in range(6) if a != b][:18],
        "src bigint, dst bigint")
    plans = {}
    for n in (2, 10):
        df = pagerank(edges, iterations=n)
        plans[n] = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plans[10]
    # a growing lineage would make the 10-iter plan many times the
    # 2-iter one; a truncated one is byte-similar
    assert len(plans[10]) < 2 * len(plans[2])


def test_salted_wedge_pairs_cap_invariant(spark):
    """Hub-salted wedge enumeration (Gelly JaccardIndex group-split
    analogue) must return the identical (a, b, center, degree) multiset
    at ANY cap — including caps small enough that a degree-7 hub
    splits into many buckets — and each unordered pair appears exactly
    once per shared center (the pair-once proof in the docstring)."""
    from flink_1_11_2_with_comments_spark.operators.graph import (
        salted_wedge_pairs)
    # one degree-7 hub (center 0), one degree-3 center (100), and a
    # vertex pair sharing BOTH centers (1, 2) to exercise per-center
    # multiplicity
    adj = [(0, v) for v in range(1, 8)] + [(100, 1), (100, 2), (100, 3)]
    df = spark.createDataFrame(adj, "c bigint, v bigint")

    def run(cap):
        rows = salted_wedge_pairs(
            df, center="c", endpoint="v", cap=cap).collect()
        return sorted((r.a, r.b, r.center, r.center_degree) for r in rows)

    expect = sorted(
        [(a, b, 0, 7) for a in range(1, 8) for b in range(1, 8) if a < b]
        + [(a, b, 100, 3) for a in (1, 2, 3) for b in (1, 2, 3) if a < b])
    for cap in (1, 2, 3, 10**9):
        got = run(cap)
        assert got == expect, f"cap={cap}"
        assert all(a < b for a, b, *_ in got)


def test_salted_wedge_block_coverage_property():
    """Property (pure block math, no Spark per example): for ANY
    bucket count nb and ANY bucket assignment, the bucket-pair block
    scheme of operators/graph.salted_wedge_pairs — left row (bucket
    bk) replicates to keys (bk, j>=bk), right row (bucket bk2) to
    keys (i<=bk2, bk2), pair kept when keys match and (i < j or
    va < vb) — covers every unordered pair of distinct values
    EXACTLY once. This is the docstring's pair-once proof, fuzzed."""
    from hypothesis import given, settings, strategies as st

    @given(st.integers(1, 6),
           st.lists(st.integers(0, 10**6), min_size=2, max_size=24,
                    unique=True))
    @settings(max_examples=300, deadline=None)
    def check(nb, values):
        bucket = {v: hash(v) % nb for v in values}
        left = [(v, bucket[v], j) for v in values
                for j in range(bucket[v], nb)]
        right = [(v, i, bucket[v]) for v in values
                 for i in range(0, bucket[v] + 1)]
        seen = {}
        for va, li_, lj in left:
            for vb, ri, rj in right:
                if (li_, lj) == (ri, rj) and (li_ < lj or va < vb):
                    k = (min(va, vb), max(va, vb))
                    seen[k] = seen.get(k, 0) + 1
        expect = {(min(a, b), max(a, b)): 1
                  for a in values for b in values if a < b}
        assert seen == expect, (nb, values)

    check()


def test_pregel_null_inbox_keeps_old_value(spark):
    """Pregel contract (VertexCentricIteration.java:88): compute()
    runs ONLY for vertices that received messages — a quiet vertex
    keeps its value untouched. Pinned with a sum-accumulate update
    (old + msg), which is NOT identity on a null message: under the
    buggy apply-to-everyone formulation a quiet vertex's value would
    go NULL (old + NULL) on the first superstep it sits out."""
    from pyspark.sql import functions as F

    from flink_1_11_2_with_comments_spark.operators.graph import pregel

    # 0 -> 1 -> 2; vertex 0 never receives a message, and after the
    # wave passes vertex 1 sits quiet while 2 still updates
    edges = spark.createDataFrame(
        [(0, 1), (1, 2)], "src bigint, dst bigint")
    initial = spark.createDataFrame(
        [(0, 10.0), (1, 1.0), (2, 1.0)], "node bigint, value double")
    out = pregel(
        edges, initial,
        send_msg=F.col("value"),
        merge_msg=lambda c: F.sum(c),
        update=lambda old, msg: F.coalesce(old, F.lit(0.0)) + msg,
        max_iter=3)
    got = {r.node: r.value for r in out.collect()}
    # superstep 1: 1 += 10 -> 11, 2 += 1 -> 2 (frontier {1,2})
    # superstep 2: 2 += 11 -> 13 (frontier {2}); 0 and 1 quiet
    # superstep 3: nothing (2 has no out-edges) -> converged
    assert got == {0: 10.0, 1: 11.0, 2: 13.0}


def test_k_core_known_graph(spark):
    """k-core on a known graph: K4 plus a pendant vertex, each edge
    once (k_core_pairs' half representation) — the 3-core is exactly
    the K4 (the pendant and its anchor's extra edge peel away), every
    member's within-core degree is 3. Also exercises the carried-count
    convergence loop."""
    from flink_1_11_2_with_comments_spark.operators.graph import (
        k_core_pairs)
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    df = spark.createDataFrame(k4 + [(3, 9)], "a bigint, b bigint")
    got = {(r.node, r.core_degree)
           for r in k_core_pairs(df, k=3).collect()}
    assert got == {(0, 3), (1, 3), (2, 3), (3, 3)}


def test_k_core_pairs_cascade_across_batches(spark):
    """k_core_pairs on a graph whose peel CASCADES one layer per
    round: a 20-vertex path (each peel drops both endpoints below
    k=2, so it takes 10 rounds) attached to nothing, plus a 4-cycle
    that survives as the 2-core. The driver chains 4 peels per count,
    so the cascade crosses at least two batch boundaries (the
    folded-count path); trailing speculative no-op rounds must not
    change the result."""
    from flink_1_11_2_with_comments_spark.operators.graph import (
        k_core_pairs)
    chain = [(i, i + 1) for i in range(1, 20)]         # path 1..20
    cycle = [(30, 31), (31, 32), (32, 33), (30, 33)]   # C4 survives
    pairs = spark.createDataFrame(chain + cycle, "a bigint, b bigint")
    got = {(r.node, r.core_degree)
           for r in k_core_pairs(pairs, k=2).collect()}
    assert got == {(30, 2), (31, 2), (32, 2), (33, 2)}


def test_cooccurrence_pairs_equals_self_join(spark):
    """The one-shuffle grouped pair expansion must produce exactly the
    multiset the self-join build produced (same groups, same a < b
    pairs, duplicates within a group collapsed by the collect_set) —
    including duplicate items in a group and singleton/empty groups."""
    from flink_1_11_2_with_comments_spark.operators.graph import (
        cooccurrence_pairs)
    rows = [(1, 10), (1, 20), (1, 30), (1, 10),  # dup item in group
            (2, 5),                               # singleton: no pairs
            (3, 7), (3, 7),                       # dup-only: no pairs
            (4, 2), (4, 1)]                       # unsorted input
    df = spark.createDataFrame(rows, "g bigint, item bigint")
    got = sorted((r.g, r.a, r.b)
                 for r in cooccurrence_pairs(df, "g", "item").collect())
    b = df.select(F.col("g").alias("g2"), F.col("item").alias("i2"))
    want = sorted((r.g, r.a, r.b) for r in
                  (df.join(b, (df.g == b.g2) & (df.item < b.i2))
                   .select("g", F.col("item").alias("a"),
                           F.col("i2").alias("b")).distinct()).collect())
    assert got == want
    assert (1, 1, 2) not in got and (4, 1, 2) in got


def test_bucketed_cep_keeps_null_keys(spark):
    """_bucketed_apply sub-groups in pandas, whose groupby drops NaN
    keys by default — Spark's groupBy keeps a null-key group, so the
    dispatcher must pass dropna=False or null-keyed events silently
    vanish from CEP output."""
    import datetime as dtm

    from flink_1_11_2_with_comments_spark.streaming.cep import (
        QStep, match_pattern_batch)
    t0 = dtm.datetime(2024, 1, 1)
    rows = [(None, 1, t0, "a"), (None, 2, t0 + dtm.timedelta(seconds=1), "b"),
            (7, 3, t0, "a"), (7, 4, t0 + dtm.timedelta(seconds=1), "b")]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, et string")
    steps = [QStep("x", lambda ev: ev["et"] == "a"),
             QStep("y", lambda ev: ev["et"] == "b")]
    out = match_pattern_batch(
        df, ["user_id"], "ts", steps,
        flag_exprs=[F.col("et") == "a", F.col("et") == "b"])
    got = {(r.user_id, r.x_first_id, r.y_first_id) for r in out.collect()}
    assert got == {(None, 1, 2), (7, 3, 4)}
