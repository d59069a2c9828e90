"""Streaming-execution tests: the same operators the batch oracle
validates, run through Structured Streaming micro-batches.

Mirrors the reference's runtime/stream ITCases + harness tests
(SURVEY §5.2-5.3): replay deterministic fixtures through the real
streaming engine, drain with processAllAvailable, compare against the
batch-computed expectation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_1_11_2_with_comments_spark.catalog import load_table
from flink_1_11_2_with_comments_spark.sources.replay import (
    replay_as_stream, write_stream_to_memory)
from flink_1_11_2_with_comments_spark.streaming import (
    deduplicate, interval_join, session, tumble)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF, "events").cache()


@pytest.fixture(scope="module")
def events_stream_factory(spark, events):
    def make():
        return replay_as_stream(events, n_batches=4, order_by="ts")
    return make


def _sorted_rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_tumble_window_stream(spark, events, events_stream_factory):
    """TUMBLE agg through streaming == the batch computation."""
    stream = events_stream_factory().withWatermark("ts", "10 minutes")
    agg = (stream.groupBy(tumble("ts", "1 hour"), "event_type")
           .agg(F.count("*").alias("n"), F.sum("value").alias("total")))
    got = write_stream_to_memory(agg, "tumble_out", output_mode="complete")

    expected = (events.groupBy(tumble("ts", "1 hour"), "event_type")
                .agg(F.count("*").alias("n"), F.sum("value").alias("total")))
    cols = ["window", "event_type", "n"]
    assert _sorted_rows(got, cols) == _sorted_rows(expected, cols)


def test_tumble_append_mode_respects_watermark(spark, events,
                                               events_stream_factory):
    """Append mode emits only watermark-closed windows — late/open windows
    held back, the same watermark-gated emission as WindowOperator's
    event-time trigger (EventTimeTriggers.java)."""
    stream = events_stream_factory().withWatermark("ts", "10 minutes")
    agg = (stream.groupBy(tumble("ts", "1 hour"))
           .agg(F.count("*").alias("n")))
    got = write_stream_to_memory(agg, "tumble_append", output_mode="append")
    full = (events.groupBy(tumble("ts", "1 hour"))
            .agg(F.count("*").alias("n")))
    got_rows = set(_sorted_rows(got, ["window", "n"]))
    full_rows = set(_sorted_rows(full, ["window", "n"]))
    # emitted windows must be correct, and the final (unclosed) window
    # is the only one allowed to be missing
    assert got_rows.issubset(full_rows)
    missing = full_rows - got_rows
    assert len(missing) <= 1


def test_session_window_stream(spark, events, events_stream_factory):
    """SESSION windows through streaming == batch session_window."""
    stream = events_stream_factory().withWatermark("ts", "10 minutes")
    agg = (stream.groupBy(session("ts", "10 minutes"), "user_id")
           .agg(F.count("*").alias("n")))
    got = write_stream_to_memory(agg, "session_out", output_mode="complete")
    expected = (events.groupBy(session("ts", "10 minutes"), "user_id")
                .agg(F.count("*").alias("n")))
    cols = ["session_window", "user_id", "n"]
    assert _sorted_rows(got, cols) == _sorted_rows(expected, cols)


def test_streaming_dedup_keep_first(spark, events, events_stream_factory):
    """dropDuplicates on a stream keeps exactly one row per key."""
    stream = events_stream_factory()
    got = write_stream_to_memory(
        deduplicate(stream, ["user_id"]), "dedup_out", output_mode="append")
    n_keys = events.select("user_id").distinct().count()
    assert got.count() == n_keys
    assert got.select("user_id").distinct().count() == n_keys


def test_streaming_dedup_within_watermark(spark, events,
                                          events_stream_factory):
    """dropDuplicatesWithinWatermark: bounded dedup state (the TTL'd
    variant — StateTtlConfig / idle-state-retention analogue)."""
    stream = events_stream_factory().withWatermark("ts", "10 minutes")
    got = write_stream_to_memory(
        deduplicate(stream, ["user_id"], within_watermark=True),
        "dedup_wm_out", output_mode="append")
    n_keys = events.select("user_id").distinct().count()
    # state may expire between far-apart events → at least one row per
    # key, never zero, and never fewer than exact dedup
    assert got.select("user_id").distinct().count() == n_keys
    assert got.count() >= n_keys


def test_interval_join_stream(spark, events, events_stream_factory):
    """Stream-stream interval join == batch interval join (inner joins
    emit on match; the time bound sizes the join state exactly like
    RowTimeIntervalJoin's relative-window cleanup)."""
    def sides(df):
        clicks = (df.where(F.col("event_type") == "click")
                  .select(F.col("event_id").alias("click_id"),
                          F.col("user_id").alias("c_uid"),
                          F.col("ts").alias("click_ts")))
        purchases = (df.where(F.col("event_type") == "purchase")
                     .select(F.col("event_id").alias("purchase_id"),
                             F.col("user_id").alias("p_uid"),
                             F.col("ts").alias("purchase_ts")))
        return clicks, purchases

    sc, sp = sides(events_stream_factory())
    sc = sc.withWatermark("click_ts", "10 minutes")
    sp = sp.withWatermark("purchase_ts", "10 minutes")
    joined = interval_join(sc, sp, on=sc.c_uid == sp.p_uid,
                           left_ts="click_ts", right_ts="purchase_ts",
                           lower="0 seconds", upper="30 minutes")
    got = write_stream_to_memory(
        joined.select("click_id", "purchase_id"), "ij_out", "append")

    bc, bp = sides(events)
    expected = interval_join(bc, bp, on=bc.c_uid == bp.p_uid,
                             left_ts="click_ts", right_ts="purchase_ts",
                             lower="0 seconds", upper="30 minutes") \
        .select("click_id", "purchase_id")
    assert (_sorted_rows(got, ["click_id", "purchase_id"])
            == _sorted_rows(expected, ["click_id", "purchase_id"]))


def test_update_mode_group_agg(spark, events, events_stream_factory):
    """Unbounded streaming group agg in update mode — the reference's
    StreamExecGroupAggregate with retraction (GroupAggFunction.java:43);
    Spark re-emits updated rows per micro-batch, final state must equal
    the batch aggregate."""
    stream = events_stream_factory()
    agg = (stream.groupBy("event_type")
           .agg(F.count("*").alias("n")))
    got = write_stream_to_memory(agg, "upd_out", output_mode="update")
    # update mode appends every revision; the latest revision per key
    # must match the batch result
    latest = (got.groupBy("event_type").agg(F.max("n").alias("n")))
    expected = events.groupBy("event_type").agg(F.count("*").alias("n"))
    assert (_sorted_rows(latest, ["event_type", "n"])
            == _sorted_rows(expected, ["event_type", "n"]))


def test_outer_interval_join_stream(spark, events, events_stream_factory):
    """Stream-stream LEFT OUTER interval join: matches equal the batch
    join; null-extended rows appear only for clicks whose join window
    the watermark has closed, and every one of them is a true
    no-match row in the batch result (OuterJoinRecordStateViews /
    StreamExecIntervalJoin outer semantics)."""
    def sides(df):
        clicks = (df.where(F.col("event_type") == "click")
                  .select(F.col("event_id").alias("click_id"),
                          F.col("user_id").alias("c_uid"),
                          F.col("ts").alias("click_ts")))
        purchases = (df.where(F.col("event_type") == "purchase")
                     .select(F.col("event_id").alias("purchase_id"),
                             F.col("user_id").alias("p_uid"),
                             F.col("ts").alias("purchase_ts")))
        return clicks, purchases

    sc, sp = sides(events_stream_factory())
    sc = sc.withWatermark("click_ts", "10 minutes")
    sp = sp.withWatermark("purchase_ts", "10 minutes")
    joined = interval_join(sc, sp, on=sc.c_uid == sp.p_uid,
                           left_ts="click_ts", right_ts="purchase_ts",
                           lower="0 seconds", upper="30 minutes",
                           how="left_outer")
    got = write_stream_to_memory(
        joined.select("click_id", "purchase_id"), "oij_out", "append")

    bc, bp = sides(events)
    expected = interval_join(bc, bp, on=bc.c_uid == bp.p_uid,
                             left_ts="click_ts", right_ts="purchase_ts",
                             lower="0 seconds", upper="30 minutes",
                             how="left_outer") \
        .select("click_id", "purchase_id")

    got_matched = {(r.click_id, r.purchase_id) for r in got.collect()
                   if r.purchase_id is not None}
    exp_matched = {(r.click_id, r.purchase_id) for r in expected.collect()
                   if r.purchase_id is not None}
    assert got_matched == exp_matched
    exp_nulls = {r.click_id for r in expected.collect()
                 if r.purchase_id is None}
    got_nulls = {r.click_id for r in got.collect()
                 if r.purchase_id is None}
    # every emitted null-extension is a true batch no-match (the tail
    # past the final watermark may be withheld — same as the
    # reference's not-yet-cleaned state)
    assert got_nulls <= exp_nulls
    assert len(got_nulls) > 0


def test_unbounded_stream_stream_join(spark, events, events_stream_factory):
    """Unbounded two-sided stream join (StreamingJoinOperator.java:38:
    both sides materialized in state, no time bound): inner equi-join
    of two streams equals the batch join once all batches drain."""
    def sides(df):
        clicks = (df.where(F.col("event_type") == "click")
                  .select(F.col("event_id").alias("click_id"),
                          F.col("user_id").alias("c_uid")))
        signups = (df.where(F.col("event_type") == "signup")
                   .select(F.col("event_id").alias("signup_id"),
                           F.col("user_id").alias("s_uid")))
        return clicks, signups

    sc, ss = sides(events_stream_factory())
    joined = sc.join(ss, sc.c_uid == ss.s_uid) \
        .select("click_id", "signup_id")
    got = write_stream_to_memory(joined, "unb_join_out", "append")

    bc, bs = sides(events)
    expected = bc.join(bs, bc.c_uid == bs.s_uid) \
        .select("click_id", "signup_id")
    assert (_sorted_rows(got, ["click_id", "signup_id"])
            == _sorted_rows(expected, ["click_id", "signup_id"]))


def test_rocksdb_state_store_backend(spark, events, events_stream_factory):
    """RocksDB state store (the reference's RocksDBKeyedStateBackend
    equivalent, SCALE.md §Streaming): the same windowed aggregation
    runs on RocksDBStateStoreProvider with identical results — the
    state backend a 100 TB deployment uses when keyed state exceeds
    executor heap."""
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    try:
        stream = events_stream_factory().withWatermark("ts", "10 minutes")
        agg = (stream.groupBy(F.window("ts", "1 hour"), "event_type")
               .agg(F.count("*").alias("n"))
               .select(F.col("window.start").alias("ws"),
                       "event_type", "n"))
        got = write_stream_to_memory(agg, "rocks_out", "complete")
        exp = (events.groupBy(F.window("ts", "1 hour"), "event_type")
               .agg(F.count("*").alias("n"))
               .select(F.col("window.start").alias("ws"),
                       "event_type", "n"))
        assert (_sorted_rows(got, ["ws", "event_type"])
                == _sorted_rows(exp, ["ws", "event_type"]))
    finally:
        if prev is None:
            spark.conf.unset(
                "spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev)


def test_multi_sink_fanout_shares_source(spark, events,
                                         events_stream_factory):
    """Common-subgraph multi-sink (StreamCommonSubGraphBasedOptimizer:
    one scan feeding several sinks): foreachBatch persists the batch
    once and fans out to N destinations — both outputs complete and
    consistent."""
    import tempfile, os
    out_a = tempfile.mkdtemp(prefix="fan_a_")
    out_b = tempfile.mkdtemp(prefix="fan_b_")

    def fanout(df, epoch_id):
        df.persist()
        try:
            (df.groupBy("event_type").agg(F.count("*").alias("n"))
             .write.mode("overwrite")
             .parquet(os.path.join(out_a, str(epoch_id))))
            (df.groupBy("user_id").agg(F.sum("value").alias("s"))
             .write.mode("overwrite")
             .parquet(os.path.join(out_b, str(epoch_id))))
        finally:
            df.unpersist()

    q = events_stream_factory().writeStream.foreachBatch(fanout).start()
    q.processAllAvailable()
    q.stop()
    a = spark.read.parquet(os.path.join(out_a, "*"))
    b = spark.read.parquet(os.path.join(out_b, "*"))
    assert a.agg(F.sum("n")).collect()[0][0] == events.count()
    assert b.count() > 0


def test_iterate_stream_minus_one_loop(spark):
    """DataStream.iterate (DataStream.java:520): Flink's canonical
    minus-one feedback loop — integers decrement each pass through
    the loop body, feed back while positive, exit at zero. Seeds 1..5
    must each emit exactly one zero row (each micro-batch decrements
    every live element once — the superstep discipline — so the loop
    quiesces after ~max-seed feedback rounds)."""
    from flink_1_11_2_with_comments_spark.streaming.iterate import (
        iterate_stream)
    seeds = spark.createDataFrame(
        [(i, i) for i in range(1, 6)], "id bigint, value bigint")

    out = iterate_stream(
        spark, seeds,
        body=lambda s: s.withColumn("value", F.col("value") - 1),
        exit_cond=F.col("value") <= 0)
    got = sorted((r.id, r.value) for r in out.collect())
    assert got == [(i, 0) for i in range(1, 6)]


def test_iterate_stream_nonconverging_raises(spark):
    """A body that never routes rows to the exit must hit the
    max_rounds guard (the analogue of the reference's feedback wait
    timeout), not loop forever."""
    from flink_1_11_2_with_comments_spark.streaming.iterate import (
        iterate_stream)
    seeds = spark.createDataFrame([(1, 10)], "id bigint, value bigint")
    try:
        iterate_stream(
            spark, seeds,
            body=lambda s: s.withColumn("value", F.col("value") + 1),
            exit_cond=F.col("value") < 0, max_rounds=5)
    except Exception as e:  # StreamingQueryException wraps the guard
        assert "does not converge" in str(e)
    else:
        raise AssertionError("expected the max_rounds guard to fire")


def test_iterate_stream_rejects_reserved_exit_column(spark):
    """The loop routes rows on an internal ``__exit`` column; a user
    column of that name would be silently overwritten and read back
    as NULL, so it must fail loudly before any file is written."""
    from flink_1_11_2_with_comments_spark.streaming.iterate import (
        iterate_stream)
    seeds = spark.createDataFrame([(1, True)], "id bigint, __exit boolean")
    with pytest.raises(ValueError, match="__exit"):
        iterate_stream(spark, seeds, body=lambda s: s,
                       exit_cond=F.col("id") > 0)


def test_iterate_stream_routes_null_exit_cond_rows(spark):
    """A row whose exit condition evaluates to NULL must not vanish
    from BOTH branches (IterativeStream routes every element exactly
    once): it keeps circulating until the body resolves it. Here the
    NULL-valued seed stays NULL for one pass (exit_cond NULL), then
    the body resolves it — with null-dropping routing the row would
    silently disappear from the output."""
    from flink_1_11_2_with_comments_spark.streaming.iterate import (
        iterate_stream)
    seeds = spark.createDataFrame(
        [(1, 2, 0), (9, None, 0)], "id bigint, value bigint, n bigint")

    def body(s):
        nxt = F.col("n") + 1
        return s.withColumn(
            "value",
            F.when(nxt >= 2, F.coalesce(F.col("value"), F.lit(0)) - 1)
            .otherwise(F.col("value"))).withColumn("n", nxt)

    out = iterate_stream(spark, seeds, body,
                         exit_cond=F.col("value") <= 0)
    got = sorted((r.id, r.value) for r in out.collect())
    # id=9: NULL through round 1 (exit_cond NULL -> must feed back),
    # resolved to -1 in round 2; id=1: 2 -> 2 -> 1 -> 0 exits
    assert got == [(1, 0), (9, -1)]



def test_kafka_txn_sink_stream_exactly_once_across_restart(spark, sf_dir):
    """Streaming exactly-once into Kafka over the wire — the
    reference's FlinkKafkaProducer.Semantic.EXACTLY_ONCE under its
    intended streaming regime (TwoPhaseCommitSinkFunction): a replayed
    stream commits each micro-batch transactionally with a marker
    record INSIDE the same transaction; the query is stopped
    mid-input and restarted from the checkpoint. Recovery paths are
    then driven deterministically: (a) a ZOMBIE replay of an
    already-committed batch is a no-op (marker dedup), and (b) a
    crashed attempt that produced rows but never committed leaks
    nothing — the re-attempt aborts the orphan and lands the batch
    exactly once. read_committed must hold every input row once."""
    import os
    import tempfile

    from flink_1_11_2_with_comments_spark.sources.kafka_net import (
        READ_COMMITTED, KafkaProtocolClient, StubKafkaBroker,
        kafka_net_read, kafka_txn_sink_stream,
        kafka_txn_write_idempotent)
    from flink_1_11_2_with_comments_spark.sources.kafka_wire import (
        ATTR_TRANSACTIONAL, encode_record_batch)
    from flink_1_11_2_with_comments_spark.sources.replay import (
        extend_replay, replay_as_stream)

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    src = (orders.limit(300)
           .select(F.unix_millis(F.col("o_orderdate").cast("timestamp"))
                   .alias("timestamp"),
                   F.encode(F.col("o_orderkey").cast("string"), "utf-8")
                   .alias("key"),
                   F.encode("o_orderpriority", "utf-8").alias("value")))
    half1 = src.where(F.decode("key", "utf-8").cast("bigint") % 2 == 0)
    half2 = src.where(F.decode("key", "utf-8").cast("bigint") % 2 != 0)
    extra = (src.limit(7)
             .withColumn("key", F.encode(F.concat(
                 F.lit("x"), F.decode("key", "utf-8")), "utf-8")))

    base = tempfile.mkdtemp(prefix="kafka_eos_stream_")
    ckpt = os.path.join(base, "ckpt")
    log_dir = os.path.join(base, "log")
    src_dir = tempfile.mkdtemp(prefix="kafka_eos_src_")
    with StubKafkaBroker(log_dir) as broker:
        stream = replay_as_stream(half1, n_batches=3,
                                  order_by="timestamp",
                                  base_dir=src_dir)
        q = kafka_txn_sink_stream(stream, broker.host, broker.port,
                                  "eos", "sink", ckpt)
        q.processAllAvailable()
        q.stop()
        # restart from the same checkpoint with the second half
        data_dir = os.path.join(src_dir, "data")
        extend_replay(half2, data_dir, n_batches=3,
                      order_by="timestamp")
        stream2 = (spark.readStream.schema(src.schema)
                   .option("maxFilesPerTrigger", 1).parquet(data_dir))
        q2 = kafka_txn_sink_stream(stream2, broker.host, broker.port,
                                   "eos", "sink", ckpt)
        q2.processAllAvailable()
        q2.stop()

        # (a) zombie replay: SAME prefix, same rows, same partitioning
        ex1 = extra.repartition(2)
        n_first = kafka_txn_write_idempotent(
            ex1, broker.host, broker.port, "eos", "sink-extra")
        n_zombie = kafka_txn_write_idempotent(
            ex1, broker.host, broker.port, "eos", "sink-extra")
        assert n_first == 7 and n_zombie == 0

        # (b) crashed attempt: rows produced under the batch's txn id
        # but never committed; the re-attempt must not duplicate them
        c = KafkaProtocolClient(broker.host, broker.port)
        pid, ep = c.init_producer_id("sink-crash-0")
        c.add_partitions_to_txn("sink-crash-0", pid, ep, "eos", [0])
        c.produce("eos", 0, encode_record_batch(
            0, [(0, b"xGHOST", b"GHOST")],
            attributes=ATTR_TRANSACTIONAL, producer_id=pid,
            producer_epoch=ep, base_sequence=0),
            transactional_id="sink-crash-0")
        c.close()                               # crash before EndTxn
        ghost = (extra.limit(1)
                 .withColumn("key", F.encode(F.lit("xGHOST"), "utf-8"))
                 .withColumn("value", F.encode(F.lit("REAL"), "utf-8"))
                 .coalesce(1))
        n_rec = kafka_txn_write_idempotent(
            ghost, broker.host, broker.port, "eos", "sink-crash")
        assert n_rec == 1

        back = (kafka_net_read(spark, broker.host, broker.port, "eos",
                               READ_COMMITTED)
                .localCheckpoint(eager=True))
    got = sorted(bytes(r.key) for r in back.collect())
    want = sorted([bytes(r.key) for r in src.collect()]
                  + [bytes(r.key) for r in extra.collect()]
                  + [b"xGHOST"])
    assert got == want            # every row exactly once
    ghosts = [bytes(r.value) for r in back.collect()
              if bytes(r.key) == b"xGHOST"]
    assert ghosts == [b"REAL"]    # the crashed attempt never leaked
