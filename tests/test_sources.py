"""Sources/sinks & formats — SURVEY §2.1: format round-trips,
partitioned-sink pruning, streaming file sink, foreachBatch
exactly-once pattern, TableEnvironment facade."""

from __future__ import annotations

import glob
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from flink_1_11_2_with_comments_spark.catalog import (TableEnvironment,
                                                      load_table)
from flink_1_11_2_with_comments_spark.sources.formats import (
    available_formats, write_read_roundtrip)
from flink_1_11_2_with_comments_spark.sources.replay import (
    replay_as_stream, write_stream_to_memory)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def orders(spark):
    return load_table(spark, SF, "orders").cache()


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json", "orc"])
def test_format_roundtrip(spark, orders, fmt):
    """CSV/JSON/Parquet/ORC write→read preserves schema and values
    (flink-formats/* equivalents are Spark built-ins)."""
    back = write_read_roundtrip(orders, fmt)
    assert back.schema == orders.schema
    assert back.count() == orders.count()
    a = orders.agg(F.sum(F.col("o_totalprice").cast("decimal(30,4)"))
                   .alias("s")).collect()[0].s
    b = back.agg(F.sum(F.col("o_totalprice").cast("decimal(30,4)"))
                 .alias("s")).collect()[0].s
    assert a == b, fmt


def test_partitioned_sink_prunes(spark, orders):
    """Partitioned filesystem sink (FileSystemTableFactory analogue):
    a filter on the partition column must show PartitionFilters in the
    scan — the property that makes a date-partitioned 100 TB table
    readable."""
    base = tempfile.mkdtemp(prefix="part_")
    (orders.withColumn("status", F.col("o_orderstatus"))
     .write.mode("overwrite").partitionBy("status").parquet(base))
    df = spark.read.parquet(base).where(F.col("status") == "F")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(status" in plan
    n_f = df.count()
    assert n_f == orders.where(F.col("o_orderstatus") == "F").count()
    # pruned scan lists only the matching directory
    assert len(os.listdir(base)) >= 3  # status=F/O/P dirs exist


def test_streaming_file_sink(spark, orders):
    """StreamingFileSink (StreamingFileSink.java:91): streaming write
    to parquet with checkpointing — exactly-once via file-manifest
    commit; rows written == rows streamed."""
    out = tempfile.mkdtemp(prefix="fsink_")
    ckpt = tempfile.mkdtemp(prefix="fsink_ck_")
    stream = replay_as_stream(orders, n_batches=3, order_by="o_orderdate")
    q = (stream.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(out).count() == orders.count()


def _staged(data_dir):
    """(name, mtime, rows) of each staged file, oldest first."""
    import pyarrow.parquet as pq
    paths = sorted(glob.glob(os.path.join(data_dir, "*")),
                   key=os.path.getmtime)
    return [(os.path.basename(p), os.path.getmtime(p),
             pq.read_table(p).to_pylist()) for p in paths]


def test_replay_staging_contract(spark, orders):
    """replay_as_stream stages exactly n_batches files; read oldest
    first they hold the input in order_by order. An input with fewer
    rows than batches still gives one (possibly empty) file per
    batch, and extend_replay names and dates its files after
    start_index and after every earlier file."""
    from flink_1_11_2_with_comments_spark.sources.replay import extend_replay

    base = tempfile.mkdtemp(prefix="stage_")
    replay_as_stream(orders, n_batches=3, order_by="o_orderdate",
                     base_dir=base)
    data_dir = os.path.join(base, "data")
    staged = _staged(data_dir)
    assert [name for name, _, _ in staged] == [
        f"batch_{i:04d}.parquet" for i in (1, 2, 3)]
    rows = [r for _, _, batch in staged for r in batch]
    assert len(rows) == orders.count()
    dates = [r["o_orderdate"] for r in rows]
    assert dates == sorted(dates)
    assert set(rows[0]) == set(orders.columns)

    tiny = tempfile.mkdtemp(prefix="stage_tiny_")
    replay_as_stream(orders.orderBy("o_orderkey").limit(2), n_batches=4,
                     order_by="o_orderdate", base_dir=tiny)
    staged = _staged(os.path.join(tiny, "data"))
    assert [name for name, _, _ in staged] == [
        f"batch_{i:04d}.parquet" for i in (1, 2, 3, 4)]
    assert sum(len(batch) for _, _, batch in staged) == 2
    assert any(not batch for _, _, batch in staged)

    # without order_by: round-robin by row id, every row staged once
    rr = tempfile.mkdtemp(prefix="stage_rr_")
    replay_as_stream(orders, n_batches=2, base_dir=rr)
    staged = _staged(os.path.join(rr, "data"))
    assert len(staged) == 2
    assert sorted(r["o_orderkey"] for _, _, batch in staged
                  for r in batch) == sorted(
        r.o_orderkey for r in orders.select("o_orderkey").collect())

    last_mtime = max(os.path.getmtime(p)
                     for p in glob.glob(os.path.join(data_dir, "*")))
    extend_replay(orders.limit(10), data_dir, n_batches=2,
                  order_by="o_orderdate", start_index=7)
    staged = _staged(data_dir)
    added = [(name, mtime) for name, mtime, _ in staged[3:]]
    assert [name for name, _ in added] == ["batch_0008.parquet",
                                           "batch_0009.parquet"]
    assert last_mtime < added[0][1]
    assert added[1][1] - added[0][1] == pytest.approx(1.0)
    assert sum(len(batch) for _, _, batch in staged[3:]) == 10


def test_foreach_batch_idempotent_sink(spark, orders):
    """TwoPhaseCommitSinkFunction analogue: foreachBatch + idempotent
    (overwrite-by-epoch) writes — replaying a batch cannot duplicate
    data because the epoch directory is overwritten atomically."""
    out = tempfile.mkdtemp(prefix="fb_")
    seen = []

    def sink(df, epoch_id):
        df.write.mode("overwrite").parquet(os.path.join(out, str(epoch_id)))
        seen.append(epoch_id)
        if epoch_id == 1:  # simulate a retry of the same epoch
            df.write.mode("overwrite").parquet(
                os.path.join(out, str(epoch_id)))

    stream = replay_as_stream(orders, n_batches=3, order_by="o_orderdate")
    q = stream.writeStream.foreachBatch(sink).start()
    q.processAllAvailable()
    q.stop()
    total = sum(spark.read.parquet(os.path.join(out, str(e))).count()
                for e in set(seen))
    assert total == orders.count()


def test_table_environment_facade(spark):
    """TableEnvironment: catalog + Flink-named SQL functions through
    one front door (TableEnvironmentImpl.sqlQuery analogue)."""
    env = TableEnvironment(spark, "/root/testdata/sf0.001")
    df = env.sql_query("""
        SELECT c_mktsegment, COUNT(*) AS n,
               SPLIT_INDEX(MIN(c_name), '#', 0) AS name_prefix
        FROM customer GROUP BY c_mktsegment
    """)
    rows = df.collect()
    assert len(rows) == 5
    assert all(r.name_prefix == "Customer" for r in rows)
    assert env.from_path("nation").count() == 25

    got = write_stream_to_memory(
        env.scan_stream("events").groupBy("event_type")
        .agg(F.count("*").alias("n")),
        "te_stream", output_mode="complete")
    assert got.count() == 5


def test_available_formats(spark):
    fmts = available_formats(spark)
    assert {"parquet", "csv", "json", "orc"}.issubset(set(fmts))


def test_datagen_rate_source(spark):
    """DataGen connector → rate source: schema (timestamp, value) and
    monotonically increasing values."""
    from flink_1_11_2_with_comments_spark.sources.connectors import (
        blackhole_sink, datagen_source)
    src = datagen_source(spark, rows_per_second=500)
    assert [f.name for f in src.schema.fields] == ["timestamp", "value"]
    q = blackhole_sink(src).start()
    try:
        import time
        time.sleep(2.5)
        assert q.isActive
        progressed = any(p["numInputRows"] > 0 for p in q.recentProgress)
    finally:
        q.stop()
    assert progressed or q.lastProgress is not None


def test_kafka_gated_error(spark):
    """Kafka connector raises a clear configuration error when the
    package is absent (import-try gating, not a JVM stack bomb)."""
    from flink_1_11_2_with_comments_spark.sources.connectors import (
        kafka_source)
    import pytest as _pytest
    with _pytest.raises(Exception) as ei:
        kafka_source(spark, "localhost:9092", "t").writeStream \
            .format("noop").start()
    msg = str(ei.value)
    assert "kafka" in msg.lower()


def test_sequence_file_roundtrip(spark):
    """SequenceFile round-trip through the Hadoop writables — real,
    no extra jar (unlike Avro, which stays gated)."""
    from flink_1_11_2_with_comments_spark.catalog import load_table
    from flink_1_11_2_with_comments_spark.sources.formats import (
        sequence_file_roundtrip)
    ev = load_table(spark, SF, "events").select("event_id", "event_type")
    back = sequence_file_roundtrip(ev, "event_id", "event_type")
    assert back.count() == ev.count()
    a = sorted((r[0], r[1]) for r in back.collect())
    b = sorted((r[0], r[1]) for r in ev.collect())
    assert a == b


def test_nosql_connectors_gated_errors(spark):
    """Elasticsearch / HBase / Cassandra constructors raise the
    actionable jar-missing error (same gate contract as Kafka) —
    the reference ships each as an optional connector module."""
    import pytest as _pytest
    from flink_1_11_2_with_comments_spark.sources.connectors import (
        cassandra_source, elasticsearch_source, hbase_source)
    for fn, opts in ((elasticsearch_source,
                      {"es.resource": "idx", "es.nodes": "localhost"}),
                     (hbase_source, {"hbase.table": "t"}),
                     (cassandra_source,
                      {"keyspace": "k", "table": "t"})):
        with _pytest.raises(RuntimeError) as ei:
            fn(spark, opts)
        assert "connector requires" in str(ei.value)
    from flink_1_11_2_with_comments_spark.sources.connectors import (
        kinesis_source, rabbitmq_source)
    with _pytest.raises(RuntimeError):
        kinesis_source(spark, "stream", "us-east-1")
    with _pytest.raises(RuntimeError):
        rabbitmq_source(spark, "queue", "localhost")


def test_flink_sql_dialect(spark):
    """Flink TUMBLE/HOP/SESSION SQL runs through the translation
    front-end (plans/flink_sql.py) — SQL-string parity for the
    reference's group-window queries."""
    from flink_1_11_2_with_comments_spark.catalog import TableEnvironment
    env = TableEnvironment(spark, SF)
    df = env.sql_query("""
        SELECT TUMBLE_START(ts, INTERVAL '1' HOUR) AS w_start,
               TUMBLE_END(ts, INTERVAL '1' HOUR) AS w_end,
               event_type, COUNT(*) AS n
        FROM events
        GROUP BY TUMBLE(ts, INTERVAL '1' HOUR), event_type
    """)
    rows = df.collect()
    assert len(rows) > 100
    assert all((r.w_end - r.w_start).total_seconds() == 3600 for r in rows)

    hop = env.sql_query("""
        SELECT HOP_START(ts, INTERVAL '30' MINUTE, INTERVAL '1' HOUR) AS ws,
               COUNT(*) AS n
        FROM events
        GROUP BY HOP(ts, INTERVAL '30' MINUTE, INTERVAL '1' HOUR)
    """)
    # hop windows ≈ 2× the event count spread over windows
    assert hop.agg(F.sum("n")).collect()[0][0] == \
        env.from_path("events").count() * 2

    sess = env.sql_query("""
        SELECT user_id, SESSION_START(ts, INTERVAL '10' MINUTE) AS ss,
               COUNT(*) AS n
        FROM events
        GROUP BY SESSION(ts, INTERVAL '10' MINUTE), user_id
    """)
    assert sess.count() > 0

    import pytest as _pytest
    with _pytest.raises(NotImplementedError):
        env.sql_query("SELECT * FROM t MATCH_RECOGNIZE (PATTERN (A B))")


def test_stream_sort_complete_mode(spark, orders):
    """In-memory stream sort (StreamSortOperator.java:52): full-history
    sort in complete mode over an aggregation."""
    stream = replay_as_stream(orders, n_batches=2, order_by="o_orderdate")
    agg = (stream.groupBy("o_orderstatus")
           .agg(F.count("*").alias("n"))
           .orderBy(F.desc("n")))
    got = write_stream_to_memory(agg, "sort_out", output_mode="complete")
    rows = got.collect()
    assert [r.n for r in rows] == sorted((r.n for r in rows), reverse=True)


def test_system_time_as_of_translation():
    """Proc-time FOR SYSTEM_TIME AS OF erases to a plain join; the
    event-time form still raises (needs streaming/asof.py)."""
    import pytest
    from flink_1_11_2_with_comments_spark.plans.flink_sql import (
        translate_flink_sql)
    out = translate_flink_sql(
        "SELECT * FROM o JOIN dim FOR SYSTEM_TIME AS OF o.proctime AS d "
        "ON o.k = d.k")
    assert out == "SELECT * FROM o JOIN dim AS d ON o.k = d.k"
    out = translate_flink_sql(
        "SELECT * FROM o JOIN dim FOR SYSTEM_TIME AS OF PROCTIME() AS d "
        "ON o.k = d.k")
    assert "SYSTEM_TIME" not in out
    with pytest.raises(NotImplementedError):
        translate_flink_sql(
            "SELECT * FROM o JOIN dim FOR SYSTEM_TIME AS OF o.rowtime AS d "
            "ON o.k = d.k")


def test_match_recognize_parser_subset():
    """Parser rejects out-of-subset constructs loudly, and quantifier
    grammar maps to the right QStep bounds."""
    import pytest
    from flink_1_11_2_with_comments_spark.plans.match_recognize import (
        _parse_define, _parse_pattern, _parse_predicate)
    branches, excluded, permute = _parse_pattern("(A B+ C{2,4} D{3} E{2,})")
    assert branches == [[
        ("A", 1, 1, True), ("B", 1, None, True), ("C", 2, 4, True),
        ("D", 3, 3, True), ("E", 2, None, True)]]
    assert excluded == set() and not permute
    branches, excluded, permute = _parse_pattern("(PERMUTE(A, B, C))")
    assert branches == [[("A", 1, 1, True), ("B", 1, 1, True),
                         ("C", 1, 1, True)]] and permute
    branches, excluded, permute = _parse_pattern("(A {- B+ -} C)")
    assert branches == [[("A", 1, 1, True), ("B", 1, None, True),
                         ("C", 1, 1, True)]]
    assert excluded == {"B"} and not permute
    # min-0 quantifiers and alternation now parse
    branches, _, _ = _parse_pattern("(A B* C?)")
    assert branches == [[("A", 1, 1, True), ("B", 0, None, True),
                         ("C", 0, 1, True)]]
    branches, _, _ = _parse_pattern("(A B+ | C D)")
    assert branches == [[("A", 1, 1, True), ("B", 1, None, True)],
                        [("C", 1, 1, True), ("D", 1, 1, True)]]
    with pytest.raises(NotImplementedError):
        _parse_pattern("(A | PERMUTE(B, C))")  # permute + alternation
    with pytest.raises(NotImplementedError):
        _parse_pattern("(A {- B -} {- C -)")  # unbalanced exclusion
    p = _parse_predicate(_parse_define("X.v >= 10 AND X.t = 'click'", "X"))
    assert p({"v": 10, "t": "click"}) and not p({"v": 9, "t": "click"})
    with pytest.raises(NotImplementedError):
        _parse_define("X.v > Y.v", "X")  # cross-variable condition
    with pytest.raises(NotImplementedError):
        _parse_define("Y.v > PREV(Y.v)", "X")  # nav on another variable
    # PREV/NEXT navigation over the __prev/__next chain
    a = {"v": 1, "__prev": None}
    b = {"v": 2, "__prev": a, "__next": None}
    a["__next"] = b
    up = _parse_predicate(_parse_define("X.v > PREV(X.v)", "X"))
    assert up(b) and not up(a)  # partition start → NULL → false
    peak = _parse_predicate(_parse_define("X.v < NEXT(X.v)", "X"))
    assert peak(a) and not peak(b)


def test_match_recognize_define_emitters_agree(spark):
    """One DEFINE parse, two emitters: the batch JVM Column
    (_parse_flag_expr, PREV/NEXT as LAG/LEAD) and the stream's Python
    predicate (_parse_predicate over the __prev/__next chain) give
    the same flag on every row, for every condition form."""
    from flink_1_11_2_with_comments_spark.plans.match_recognize import (
        _lag_window, _parse_define, _parse_flag_expr, _parse_predicate)
    rows = [(k, i, typ, v) for k, seq in
            ((1, [("view", 3), ("click", 5), ("click", 4), ("buy", 7),
                  ("click", 7), ("view", 1)]),
             (2, [("click", 2), ("buy", 2), ("view", 9)]))
            for i, (typ, v) in enumerate(seq)]
    df = spark.createDataFrame(rows, "k bigint, id bigint, t string, "
                                     "v bigint")
    conds = [
        "X.t = 'click'",
        "X.t <> 'click'",
        "X.v >= 5",
        "X.v < 4.5",
        "X.t = 'click' AND X.v > 4",
        "X.t = 'buy' OR X.v = 1 OR X.t = 'view' AND X.v > 2",
        "X.t IN ('click', 'buy')",
        "X.t NOT IN ('click') AND X.v IN (1, 2, 7)",
        "X.v > PREV(X.v)",
        "X.v >= PREV(X.v, 2)",
        "X.v < NEXT(X.v)",
        "X.t = 'click' AND X.v = PREV(X.v) OR X.v < NEXT(X.v, 2)",
        "TRUE",
    ]
    w = _lag_window(["k"], "id", "id")
    got = df.select("k", "id", *[
        _parse_flag_expr(_parse_define(c, "X"), lag_window=w).alias(f"f{i}")
        for i, c in enumerate(conds)]).collect()
    assert len(got) == len(rows)
    jvm = {(r.k, r.id): [r[f"f{i}"] for i in range(len(conds))]
           for r in got}
    preds = [_parse_predicate(_parse_define(c, "X")) for c in conds]
    for key in (1, 2):
        evs = [{"k": k, "id": i, "t": t, "v": v}
               for k, i, t, v in rows if k == key]
        for j, ev in enumerate(evs):
            ev["__prev"] = evs[j - 1] if j else None
            ev["__next"] = evs[j + 1] if j + 1 < len(evs) else None
        for ev in evs:
            assert [p(ev) for p in preds] == jvm[(key, ev["id"])], (
                key, ev["id"])


def test_window_rowtime_auxiliary(spark):
    """TUMBLE_ROWTIME = window end − 1ms (the window's event-time
    attribute, FlinkSqlOperatorTable.java:778-810)."""
    from flink_1_11_2_with_comments_spark.catalog import TableEnvironment
    env = TableEnvironment(spark, SF)
    df = env.sql_query("""
        SELECT TUMBLE_START(ts, INTERVAL '1' HOUR) AS ws,
               TUMBLE_ROWTIME(ts, INTERVAL '1' HOUR) AS rt,
               COUNT(*) AS n
        FROM events
        GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)
    """)
    rows = df.collect()
    assert len(rows) > 0
    assert all((r.rt - r.ws).total_seconds() == 3599.999 for r in rows)


def test_queryable_state_reader(spark, tmp_path):
    """Queryable state (KeyedStream.asQueryableState): point-lookup
    into a running aggregation's keyed state via the statestore data
    source — state contents must equal the aggregate itself."""
    from flink_1_11_2_with_comments_spark.catalog import load_table
    from flink_1_11_2_with_comments_spark.sources.replay import (
        replay_as_stream, write_stream_to_memory)
    from flink_1_11_2_with_comments_spark.streaming.queryable import (
        read_keyed_state)

    events = load_table(spark, SF, "events")
    stream = replay_as_stream(events, n_batches=3, order_by="ts")
    ckpt = str(tmp_path / "ckpt")
    agg = stream.groupBy("event_type").agg(F.count("*").alias("n"))
    q = (agg.writeStream.format("memory").queryName("qstate_out")
         .outputMode("complete").option("checkpointLocation", ckpt)
         .start())
    q.processAllAvailable()
    q.stop()

    state = read_keyed_state(spark, ckpt)
    got = {r.event_type: r["count"] for r in state.collect()}
    exp = {r.event_type: r.n for r in
           events.groupBy("event_type").agg(F.count("*").alias("n"))
           .collect()}
    assert got == exp


def test_text_format_roundtrip(spark):
    """writeAsText / readTextFile (DataStream.java:1010;
    StreamExecutionEnvironment.readTextFile): line-oriented text
    write→read preserves every line."""
    from flink_1_11_2_with_comments_spark.queries._util import t
    docs = t(spark, SF, "documents").select(
        F.regexp_replace("text", "[\\r\\n]", " ").alias("value"))
    back = write_read_roundtrip(docs, "text")
    assert back.schema == docs.schema
    assert back.count() == docs.count()
    a = docs.agg(F.sum(F.length("value")).alias("s")).collect()[0].s
    b = back.agg(F.sum(F.length("value")).alias("s")).collect()[0].s
    assert a == b


@pytest.mark.parametrize("codec", ["snappy", "zstd", "gzip"])
def test_compressed_parquet_roundtrip(spark, orders, codec):
    """Compression codecs (flink-compress / format options): parquet
    written with each codec reads back value-identical."""
    import tempfile
    path = tempfile.mkdtemp(prefix=f"codec_{codec}_")
    orders.write.mode("overwrite").option("compression", codec) \
        .parquet(path)
    back = spark.read.parquet(path)
    assert back.count() == orders.count()
    a = orders.agg(F.sum(F.col("o_totalprice").cast("decimal(30,4)"))
                   .alias("s")).collect()[0].s
    b = back.agg(F.sum(F.col("o_totalprice").cast("decimal(30,4)"))
                 .alias("s")).collect()[0].s
    assert a == b


def test_chained_stateful_stages_via_foreachbatch(spark):
    """Mid-pipeline updating composition (agg → join of two updating
    aggregates) — the reference's retraction chains; Spark rejects it
    as one continuous query, so the documented pattern (SURVEY §7)
    is a foreachBatch checkpoint between stages: each micro-batch
    folds new rows into persisted stage-1 state, recomputes the
    downstream join from that state, and overwrites the result —
    retraction-by-recomputation. Final result must equal the batch
    composition."""
    import tempfile, os
    from flink_1_11_2_with_comments_spark.catalog import load_table
    from flink_1_11_2_with_comments_spark.sources.replay import (
        replay_as_stream)

    events = load_table(spark, SF, "events").where(F.col("user_id") <= 50)
    base = tempfile.mkdtemp(prefix="chain_")
    raw_dir = os.path.join(base, "raw")
    out_dir = os.path.join(base, "result")

    def stage(df, epoch_id):
        # stage-1 checkpoint: append this batch's raw rows (idempotent
        # per epoch via subdir overwrite)
        df.write.mode("overwrite").parquet(
            os.path.join(raw_dir, str(epoch_id)))
        acc = spark.read.parquet(os.path.join(raw_dir, "*"))
        # stage 1: per (user, type) counts — an updating aggregate
        s1 = acc.groupBy("user_id", "event_type") \
            .agg(F.count("*").alias("n"))
        # stage 2: join two updating aggregates of the same state
        clicks = s1.where(F.col("event_type") == "click") \
            .select("user_id", F.col("n").alias("clicks"))
        views = s1.where(F.col("event_type") == "view") \
            .select("user_id", F.col("n").alias("views"))
        result = clicks.join(views, "user_id")
        result.write.mode("overwrite").parquet(out_dir)

    stream = replay_as_stream(events, n_batches=3, order_by="ts")
    q = stream.writeStream.foreachBatch(stage).start()
    q.processAllAvailable()
    q.stop()

    got = {(r.user_id, r.clicks, r.views)
           for r in spark.read.parquet(out_dir).collect()}
    s1 = events.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    exp = {(r.user_id, r.clicks, r.views) for r in
           (s1.where("event_type = 'click'")
            .select("user_id", F.col("n").alias("clicks"))
            .join(s1.where("event_type = 'view'")
                  .select("user_id", F.col("n").alias("views")),
                  "user_id")).collect()}
    assert got == exp and len(got) > 0



def test_table_api_facade(spark):
    """Fluent Table API (Table.java:106-1072 / PyFlink spellings):
    chained select/filter/group_by/join/order_by/fetch equals the
    DataFrame formulation, and set ops / renames behave."""
    from pyspark.sql import functions as F
    from flink_1_11_2_with_comments_spark.catalog import TableEnvironment

    env = TableEnvironment(spark, "/root/testdata/sf0.001")
    orders = env.scan("orders")
    customer = env.scan("customer")

    got = (orders
           .filter("o_totalprice > 100000")
           .join(customer, "o_custkey = c_custkey")
           .group_by("c_mktsegment")
           .select(F.count("*").alias("n"),
                   F.round(F.sum(F.col("o_totalprice").cast(
                       "decimal(30,2)")), 2).cast("double").alias("total"))
           .order_by("c_mktsegment")
           .fetch(3)
           .to_df())

    o = spark.table("orders").where("o_totalprice > 100000")
    c = spark.table("customer")
    exp = (o.join(c, o.o_custkey == c.c_custkey)
           .groupBy("c_mktsegment")
           .agg(F.count("*").alias("n"),
                F.round(F.sum(F.col("o_totalprice").cast("decimal(30,2)")),
                        2).cast("double").alias("total"))
           .orderBy("c_mktsegment").limit(3))
    assert [tuple(r) for r in got.collect()] \
        == [tuple(r) for r in exp.collect()]

    # set ops + projection utilities
    a = orders.select("o_orderkey").where("o_orderkey <= 10")
    b = orders.select("o_orderkey").where("o_orderkey <= 5")
    assert a.minus(b).to_df().count() == a.to_df().count() - b.to_df().count()
    assert b.intersect(a).to_df().count() == b.to_df().count()
    assert a.union_all(b).to_df().count() \
        == a.to_df().count() + b.to_df().count()
    renamed = orders.rename_columns("o_orderkey AS k").drop_columns(
        "o_custkey")
    cols = renamed.to_df().columns
    assert "k" in cols and "o_orderkey" not in cols \
        and "o_custkey" not in cols
    added = orders.add_columns("o_totalprice * 2 AS dbl") \
        .select("o_orderkey", "dbl")
    assert added.to_df().columns == ["o_orderkey", "dbl"]


def test_datastream_api_facade(spark):
    """DataStream facade (DataStream.java map/flatMap/filter/keyBy/
    union; KeyedStream reduce/window): chained calls equal the
    DataFrame formulations."""
    from flink_1_11_2_with_comments_spark.catalog import load_table
    from flink_1_11_2_with_comments_spark.datastream import DataStream

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    ds = DataStream(events)

    doubled = (ds.filter("event_type = 'click'")
               .map(lambda r: {"user_id": r["user_id"],
                               "v2": r["value"] * 2},
                    "user_id bigint, v2 double")
               .key_by("user_id")
               .reduce(F.round(F.sum("v2"), 6).alias("total")))
    exp = (events.where("event_type = 'click'")
           .groupBy("user_id")
           .agg(F.round(F.sum(F.col("value") * 2), 6).alias("total")))
    assert sorted(map(tuple, doubled.to_df().collect())) \
        == sorted(map(tuple, exp.collect()))

    tripled = ds.flat_map(
        lambda r: [{"eid": r["event_id"]}] * 3, "eid bigint")
    assert tripled.to_df().count() == events.count() * 3

    fn_filtered = ds.filter(lambda r: r["user_id"] % 2 == 0)
    assert fn_filtered.to_df().count() == \
        events.where("user_id % 2 = 0").count()

    windowed = (ds.key_by("event_type")
                .window("ts", "1 hour")
                .aggregate(F.count("*").alias("n")))
    exp_w = (events.groupBy("event_type", F.window("ts", "1 hour"))
             .agg(F.count("*").alias("n")))
    assert windowed.to_df().count() == exp_w.count()


def test_table_window_descriptors(spark):
    """Tumble/Slide/Session descriptors on the Table facade equal the
    window() group-window queries."""
    from flink_1_11_2_with_comments_spark.catalog import TableEnvironment
    from flink_1_11_2_with_comments_spark.table import (
        Session, Slide, Tumble)

    env = TableEnvironment(spark, "/root/testdata/sf0.001")
    events = env.scan("events")

    t = (events.window(Tumble.over("1 hour").on("ts").alias("w"))
         .group_by("w", "event_type")
         .select(F.count("*").alias("n")).to_df())
    exp = (spark.table("events")
           .groupBy("event_type", F.window("ts", "1 hour"))
           .agg(F.count("*").alias("n")))
    assert t.count() == exp.count()
    assert set(t.columns) == {"event_type", "n", "w_start", "w_end"}

    s = (events.window(Slide.over("1 hour").every("30 minutes")
                       .on("ts").alias("w"))
         .group_by("w").select(F.count("*").alias("n")).to_df())
    assert s.agg(F.sum("n")).collect()[0][0] \
        == spark.table("events").count() * 2

    g = (events.window(Session.with_gap("10 minutes").on("ts").alias("w"))
         .group_by("w", "user_id")
         .select(F.count("*").alias("n")).to_df())
    assert g.agg(F.sum("n")).collect()[0][0] \
        == spark.table("events").count()


def test_datastream_partitioning_and_split(spark):
    """partitionByHash/partitionByRange/rebalance/sortPartition
    (DataSet.java:1230-1359) and side-output split (DataStream
    .java:231): partition counts and branch contents behave."""
    from flink_1_11_2_with_comments_spark.catalog import load_table
    from flink_1_11_2_with_comments_spark.datastream import DataStream

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    ds = DataStream(events)
    assert ds.rebalance(4).to_df().rdd.getNumPartitions() == 4
    assert ds.partition_by_hash("user_id").to_df() \
        .rdd.getNumPartitions() > 0
    rng = ds.partition_by_range("event_id").sort_partition("event_id")
    ids = [r.event_id for r in rng.to_df().collect()]
    assert ids == sorted(ids)  # range partitions + in-partition sort

    branches = ds.split({
        "clicks": "event_type = 'click'",
        "errors": "event_type = 'error'",
    })
    n_click = branches["clicks"].to_df().count()
    n_err = branches["errors"].to_df().count()
    assert n_click == events.where("event_type = 'click'").count()
    assert n_err == events.where("event_type = 'error'").count()


def test_jdbc_gated_error(spark):
    """JDBC connector with an ABSENT driver jar: the gate raises a
    clear actionable error instead of a bare stack."""
    from flink_1_11_2_with_comments_spark.sources.connectors import (
        jdbc_source)
    with pytest.raises(RuntimeError, match="jdbc"):
        jdbc_source(spark, "jdbc:postgresql://nohost/db", "t",
                    driver="org.postgresql.Driver")


def test_jdbc_derby_round_trip(spark):
    """Real external-database round-trip: write nation through the
    JDBC sink into embedded Derby (jars bundled with Spark), read it
    back through the JDBC source, and get identical rows — the
    flink-connector-jdbc JdbcOutputFormat / JdbcRowDataInputFormat
    pair exercised against a genuinely external SQL engine."""
    from flink_1_11_2_with_comments_spark.sources.connectors import (
        DERBY_DRIVER, derby_memory_url, jdbc_sink, jdbc_source)
    nation = spark.read.parquet(f"{SF}/nation.parquet")
    url = derby_memory_url("roundtrip")
    jdbc_sink(nation, url, "nation_rt", driver=DERBY_DRIVER,
              createTableColumnTypes="n_name VARCHAR(64)")
    back = jdbc_source(spark, url, "nation_rt", driver=DERBY_DRIVER)
    assert sorted(back.collect()) == sorted(nation.collect())
    # overwrite mode is idempotent (Derby table dropped + recreated)
    jdbc_sink(nation.limit(5), url, "nation_rt", driver=DERBY_DRIVER,
              createTableColumnTypes="n_name VARCHAR(64)")
    assert jdbc_source(spark, url, "nation_rt",
                       driver=DERBY_DRIVER).count() == 5


def test_ddl_watermark_clause(spark):
    """Reference DDL with a WATERMARK clause runs unchanged: the
    clause is stripped for Spark's parser and lands in the watermark
    registry; scan_stream applies it (EventTimeWatermark in the
    streaming plan)."""
    from flink_1_11_2_with_comments_spark.catalog import (
        WATERMARKS, TableEnvironment)
    env = TableEnvironment(spark, SF)
    env.execute_sql("""
        CREATE TABLE IF NOT EXISTS wm_events (
          event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
          WATERMARK FOR ts AS ts - INTERVAL '7' MINUTE
        ) USING parquet LOCATION '/tmp/wm_events_tbl'
    """)
    try:
        assert WATERMARKS["wm_events"] == ("ts", "7 minutes")
        plan = env.explain_sql(
            "SELECT COUNT(*) AS n FROM events")
        assert "Aggregate" in plan or "HashAggregate" in plan
    finally:
        WATERMARKS.pop("wm_events", None)
        spark.sql("DROP TABLE IF EXISTS wm_events")


def test_statement_set_multi_insert(spark):
    """StatementSet: several INSERTs execute as one unit; both batch
    targets land with the right contents."""
    import tempfile, os
    from flink_1_11_2_with_comments_spark.catalog import TableEnvironment
    env = TableEnvironment(spark, SF)
    base = tempfile.mkdtemp(prefix="stmtset_")
    p1, p2 = os.path.join(base, "by_type"), os.path.join(base, "by_user")
    (env.create_statement_set()
     .add_insert(p1, "SELECT event_type, COUNT(*) AS n FROM events "
                     "GROUP BY event_type")
     .add_insert(p2, "SELECT user_id, COUNT(*) AS n FROM events "
                     "GROUP BY user_id")
     .execute())
    n_events = spark.table("events").count()
    assert spark.read.parquet(p1).agg(F.sum("n")).collect()[0][0] \
        == n_events
    assert spark.read.parquet(p2).agg(F.sum("n")).collect()[0][0] \
        == n_events


def test_socket_text_stream(spark):
    """socketTextStream (StreamExecutionEnvironment.java:843 block):
    a real TCP line server feeds readStream.format("socket") — lines
    arrive as a text column, the DataStream-source contract."""
    import socket, threading, time as _time

    lines = [f"event-{i}" for i in range(50)]
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    srv.listen(1)

    def serve():
        conn, _ = srv.accept()
        with conn:
            conn.sendall(("\n".join(lines) + "\n").encode())
            _time.sleep(2)  # let the source drain before FIN

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    stream = (spark.readStream.format("socket")
              .option("host", "127.0.0.1").option("port", port).load())
    q = (stream.writeStream.format("memory").queryName("sock_out")
         .outputMode("append").start())
    try:
        deadline = _time.time() + 30
        while (spark.table("sock_out").count() < len(lines)
               and _time.time() < deadline):
            _time.sleep(0.5)
    finally:
        q.stop()
        srv.close()
    got = {r.value for r in spark.table("sock_out").collect()}
    assert got == set(lines)


def test_statement_set_shared_plan_fanout(spark):
    """Sinks with semantically identical plans form one group: batch
    computes the plan once and writes every path; streaming runs ONE
    foreachBatch query fanning the micro-batch out to all sinks (the
    Spark shape of the reference's common-subgraph reuse,
    StatementSetImpl)."""
    import os
    import tempfile

    from flink_1_11_2_with_comments_spark.catalog import TableEnvironment
    from flink_1_11_2_with_comments_spark.sources.replay import (
        replay_as_stream)

    env = TableEnvironment(spark, SF)
    base = tempfile.mkdtemp(prefix="stmtset_shared_")

    # batch: same SQL to two paths + a different plan to a third
    p1, p2, p3 = (os.path.join(base, d) for d in ("a", "b", "c"))
    sql = ("SELECT event_type, COUNT(*) AS n FROM events "
           "GROUP BY event_type")
    ss = (env.create_statement_set()
          .add_insert(p1, sql).add_insert(p2, sql)
          .add_insert(p3, "SELECT user_id FROM events LIMIT 5"))
    assert [len(paths) for _, paths in ss._groups()] == [2, 1]
    ss.execute()
    assert (sorted(map(tuple, spark.read.parquet(p1).collect()))
            == sorted(map(tuple, spark.read.parquet(p2).collect())))
    assert spark.read.parquet(p3).count() == 5

    # streaming: one shared source df to two sinks → ONE query handle
    s1, s2 = (os.path.join(base, d) for d in ("s1", "s2"))
    stream = replay_as_stream(
        spark.table("events").select("event_id", "event_type"),
        n_batches=2, order_by="event_id")
    handles = (env.create_statement_set()
               .add_insert(s1, stream).add_insert(s2, stream)
               .execute())
    assert len(handles) == 1
    try:
        handles[0].processAllAvailable()
    finally:
        handles[0].stop()
    n = spark.table("events").count()
    assert spark.read.parquet(s1).count() == n
    assert spark.read.parquet(s2).count() == n


def test_match_recognize_running_final_all_rows(spark):
    """RUNNING vs FINAL + ALL ROWS PER MATCH (SqlMatchRecognize.java
    RUNNING/FINAL, runtime rt/match/): per match the running count
    ascends to the final count, the last row's RUNNING equals FINAL,
    and the ONE ROW PER MATCH projection agrees with the ALL ROWS
    final row. RUNNING/FINAL prefixes are accepted (and erased) in
    ONE ROW mode."""
    from flink_1_11_2_with_comments_spark.plans.match_recognize import (
        match_recognize)

    from flink_1_11_2_with_comments_spark.catalog import load_table
    load_table(spark, SF, "events").createOrReplaceTempView("mr_events")
    body = """
        PARTITION BY user_id
        ORDER BY ts, event_id
        MEASURES {measures}
        {mode}
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (A B+)
        DEFINE A AS A.event_type = 'view',
               B AS B.event_type = 'click'
    """
    all_rows = match_recognize(spark, (
        "SELECT * FROM mr_events MATCH_RECOGNIZE (" + body.format(
            measures="MATCH_NUMBER() AS mno, CLASSIFIER() AS var, "
                     "RUNNING COUNT(B.*) AS run_n, "
                     "FINAL COUNT(B.*) AS fin_n, "
                     "FINAL LAST(B.event_id) AS fin_last",
            mode="ALL ROWS PER MATCH") + ")")).collect()
    assert len(all_rows) > 0
    by_match = {}
    for r in all_rows:
        by_match.setdefault((r.user_id, r.mno), []).append(r)
    for rows in by_match.values():
        rows.sort(key=lambda r: (r.ts, r.event_id))
        runs = [r.run_n for r in rows]
        assert runs == sorted(runs) and runs[0] == 0  # A row first
        assert rows[-1].run_n == rows[-1].fin_n  # RUNNING@last == FINAL
        assert len({r.fin_n for r in rows}) == 1  # FINAL constant
        b_rows = [r for r in rows if r.var == "B"]
        assert len(b_rows) == rows[0].fin_n
        assert b_rows[-1].event_id == rows[0].fin_last

    # ONE ROW PER MATCH with RUNNING/FINAL prefixes (both erase to
    # final) must agree with the ALL ROWS final row per match
    one_row = match_recognize(spark, (
        "SELECT * FROM mr_events MATCH_RECOGNIZE (" + body.format(
            measures="RUNNING COUNT(B.*) AS n_clicks, "
                     "FINAL LAST(B.event_id) AS last_click",
            mode="ONE ROW PER MATCH") + ")")).collect()
    exp = {(r.user_id, r.fin_n, r.fin_last)
           for rows in by_match.values() for r in rows[:1]}
    got = {(r.user_id, r.n_clicks, r.last_click) for r in one_row}
    assert got == exp


def test_parquet_schema_evolution_merge(spark):
    """Schema evolution on the filesystem connector: two parquet
    batches with different (overlapping) schemas read back as ONE
    table with the merged schema and NULLs for absent columns —
    the reference's filesystem format evolution contract
    (ParquetVectorizedInputFormat / schema merging)."""
    import tempfile
    base = tempfile.mkdtemp(prefix="evolve_")
    spark.createDataFrame([(1, "a")], "id bigint, s string") \
        .write.mode("append").parquet(base)
    spark.createDataFrame([(2, 9.5)], "id bigint, score double") \
        .write.mode("append").parquet(base)
    got = spark.read.option("mergeSchema", "true").parquet(base)
    assert {f.name for f in got.schema.fields} == {"id", "s", "score"}
    rows = {r.id: (r.s, r.score) for r in got.collect()}
    assert rows[1] == ("a", None) and rows[2] == (None, 9.5)


def test_small_file_compaction(spark):
    """Small-file compaction — the lake-maintenance job every
    filesystem sink needs: many tiny files rewritten to a target
    file count with identical contents (row-count + checksum), via a
    plain repartition rewrite (at 100 TB: per-partition compaction
    driven by file-size stats)."""
    import os
    import tempfile
    from pyspark.sql import functions as F
    from flink_1_11_2_with_comments_spark.catalog import load_table
    src = load_table(spark, SF, "orders")
    frag = tempfile.mkdtemp(prefix="frag_")
    src.repartition(64).write.mode("overwrite").parquet(frag)
    n_small = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    assert n_small >= 32
    compact = tempfile.mkdtemp(prefix="compact_")
    spark.read.parquet(frag).repartition(4) \
        .write.mode("overwrite").parquet(compact)
    n_big = len([f for f in os.listdir(compact) if f.endswith(".parquet")])
    assert n_big <= 4
    a = spark.read.parquet(frag)
    b = spark.read.parquet(compact)
    assert a.count() == b.count()
    chk = lambda d: d.agg(  # noqa: E731
        F.sum(F.crc32(F.col("o_orderkey").cast("string"))).alias("c")
    ).collect()[0].c
    assert chk(a) == chk(b)


def test_avro_py_container_format_pinned():
    """The pure-Python Avro codec is pinned against hand-assembled
    spec bytes (not just its own inverse): zigzag-varint longs, a
    length-prefixed utf8 string, a null-codec OCF with one block."""
    import io
    import json as _json

    from flink_1_11_2_with_comments_spark.sources.avro_py import (
        _read_long, _write_long, decode_container, encode_container)

    # spec examples: 1 -> 0x02, -1 -> 0x01, 64 -> 0x80 0x01
    for n, expect in ((0, b"\x00"), (1, b"\x02"), (-1, b"\x01"),
                      (64, b"\x80\x01"), (-64, b"\x7f")):
        out = io.BytesIO()
        _write_long(out, n)
        assert out.getvalue() == expect, n
        back, _ = _read_long(memoryview(expect), 0)
        assert back == n

    schema = {"type": "record", "name": "r",
              "fields": [{"name": "a", "type": "long"},
                         {"name": "s", "type": "string"}]}
    sync = bytes(range(16))
    raw = encode_container([(1, "hi")], schema, sync)
    # hand-assembled: magic, 2-entry meta map, 0 terminator, sync,
    # block(count=1, size=4, payload=zigzag(1) + len-prefixed 'hi'), sync
    meta = io.BytesIO()
    meta.write(b"Obj\x01\x04")
    for k, v in (("avro.schema", _json.dumps(schema).encode()),
                 ("avro.codec", b"null")):
        _write_long(meta, len(k)); meta.write(k.encode())
        _write_long(meta, len(v)); meta.write(v)
    meta.write(b"\x00")
    meta.write(sync)
    meta.write(b"\x02\x08" + b"\x02" + b"\x04hi" + sync)
    assert raw == meta.getvalue()
    got_schema, rows = decode_container(raw)
    assert rows == [(1, "hi")] and got_schema == schema


def test_avro_py_roundtrip_distributed(spark):
    """Distributed Avro OCF round-trip (pure-Python codec; the
    spark-avro jar path stays gated separately): strings, longs,
    doubles, timestamps and injected NULLs all come back exact, with
    one container file per input partition."""
    import glob
    import tempfile

    from pyspark.sql import functions as F
    from flink_1_11_2_with_comments_spark.catalog import load_table
    from flink_1_11_2_with_comments_spark.sources.avro_py import (
        avro_read, avro_write)

    ev = (load_table(spark, SF, "events")
          .select("event_id", "ts", "event_type", "value")
          .withColumn("value", F.when(F.col("event_id") % 7 == 0,
                                      F.lit(None)).otherwise(
                                          F.col("value")))
          .repartition(4))
    path = tempfile.mkdtemp(prefix="avro_py_") + "/events"
    avro_write(ev, path)
    assert len(glob.glob(path + "/*.avro")) == 4
    back = avro_read(spark, path, ev.schema)
    assert back.schema == ev.schema
    a = sorted(map(tuple, back.collect()))
    b = sorted(map(tuple, ev.collect()))
    assert a == b


def test_checkpoint_restart_recovery(spark, orders):
    """Stop a streaming query mid-input, RESTART it from the same
    checkpoint, feed the rest: the file sink lands every input row
    exactly once across the restart (no loss, no duplicates), and a
    stateful running aggregation resumes from its CHECKPOINTED state
    (final per-key counts equal the full-batch counts, not just the
    post-restart half). This is the reference's recovery contract —
    CheckpointCoordinator.java offsets + state snapshot restore,
    TwoPhaseCommitSinkFunction.java for the sink side."""
    import os
    import tempfile

    from pyspark.sql import Window as W

    from flink_1_11_2_with_comments_spark.sources.replay import (
        extend_replay, replay_as_stream)

    half1 = orders.where(F.col("o_orderkey") % 2 == 0)
    half2 = orders.where(F.col("o_orderkey") % 2 != 0)

    # --- sink exactly-once across restart (append -> parquet) ------
    base = tempfile.mkdtemp(prefix="restart_")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    src_base = tempfile.mkdtemp(prefix="restart_src_")
    stream = replay_as_stream(half1, n_batches=3,
                              order_by="o_orderdate",
                              base_dir=src_base)
    data_dir = os.path.join(src_base, "data")
    q = (stream.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt).outputMode("append")
         .start())
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(out).count() == half1.count()

    extend_replay(half2, data_dir, n_batches=3,
                  order_by="o_orderdate")
    # restart: same source dir, same checkpoint, same sink
    stream2 = (spark.readStream.schema(spark.read.parquet(out).schema)
               .option("maxFilesPerTrigger", 1).parquet(data_dir))
    q2 = (stream2.writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt).outputMode("append")
          .start())
    q2.processAllAvailable()
    q2.stop()
    # exactly once: nothing lost, nothing duplicated, keys disjoint
    got = spark.read.parquet(out)
    assert got.count() == orders.count()
    assert got.select("o_orderkey").distinct().count() == orders.count()

    # --- stateful agg state survives restart (update mode) ---------
    base2 = tempfile.mkdtemp(prefix="restart_agg_")
    epochs = os.path.join(base2, "epochs")
    ckpt2 = os.path.join(base2, "ckpt")
    os.makedirs(epochs)

    def sink(df, epoch_id):
        df.write.mode("overwrite").parquet(
            os.path.join(epochs, f"e={epoch_id}"))

    def agg_query(src):
        return (src.groupBy("o_custkey")
                .agg(F.count("*").alias("n"),
                     F.sum("o_totalprice").alias("rev"))
                .writeStream.outputMode("update").foreachBatch(sink)
                .option("checkpointLocation", ckpt2).start())

    src2 = tempfile.mkdtemp(prefix="restart_src2_")
    s1 = replay_as_stream(half1, n_batches=3, order_by="o_orderdate",
                          base_dir=src2)
    d2 = os.path.join(src2, "data")
    qa = agg_query(s1)
    qa.processAllAvailable()
    qa.stop()
    extend_replay(half2, d2, n_batches=3, order_by="o_orderdate")
    s2 = (spark.readStream.schema(half1.schema)
          .option("maxFilesPerTrigger", 1).parquet(d2))
    qb = agg_query(s2)
    qb.processAllAvailable()
    qb.stop()

    # last update per key must equal the full-batch aggregate: if the
    # restart had lost state, post-restart counts would cover half2
    # only and every shared key would come up short
    upd = (spark.read.option("basePath", epochs).parquet(epochs)
           .withColumn("e", F.regexp_extract(
               F.input_file_name(), r"e=(\d+)", 1).cast("long")))
    last = (upd.withColumn(
        "rk", F.row_number().over(
            W.partitionBy("o_custkey").orderBy(F.desc("e"))))
        .where(F.col("rk") == 1).select("o_custkey", "n"))
    expected = orders.groupBy("o_custkey").agg(F.count("*").alias("n"))
    diff = last.join(expected, "o_custkey") \
        .where(last.n != expected.n).count()
    assert diff == 0
    assert last.count() == expected.count()


def test_kafka_record_batch_format_pinned():
    """The RecordBatch v2 encoder must produce the spec's exact
    bytes: this test assembles the same single-record batch FIELD BY
    FIELD from the published layout (baseOffset int64, batchLength
    int32, partitionLeaderEpoch int32, magic=2, CRC-32C over
    attributes-onward, fixed 40-byte body prefix, varint record) and
    compares byte-for-byte. Also pins CRC-32C against the RFC 3720
    check value — zlib.crc32 (CRC-32/ISO) would NOT match."""
    import io
    import struct
    import zlib

    from flink_1_11_2_with_comments_spark.sources.kafka_wire import (
        crc32c, encode_record_batch)

    assert crc32c(b"123456789") == 0xE3069283
    assert zlib.crc32(b"123456789") != 0xE3069283  # ISO poly differs

    ts, key, value = 1700000000000, b"k", b"hello"
    # record: attributes, tsDelta=0, offsetDelta=0, key, value, 0 hdrs
    rec = (b"\x00" + b"\x00" + b"\x00"
           + bytes([len(key) << 1]) + key
           + bytes([len(value) << 1]) + value + b"\x00")
    body = (struct.pack(">hiq", 0, 0, ts)          # attrs, lastDelta, firstTs
            + struct.pack(">qqhiI", ts, -1, -1, -1, 1)
            + bytes([len(rec) << 1]) + rec)        # varint(len) + record
    expected = struct.pack(
        ">qiibI", 7, len(body) + 9, -1, 2, crc32c(body)) + body
    assert encode_record_batch(7, [(ts, key, value)]) == expected


def test_kafka_log_roundtrip_distributed(spark, orders):
    """File-backed topic round-trip through executors: orders rows
    become keyed records, write as per-partition RecordBatch v2 log
    segments, read back distributed — every record survives with its
    key/value/timestamp, offsets are dense per partition."""
    import tempfile

    from flink_1_11_2_with_comments_spark.sources.kafka_wire import (
        kafka_log_read, kafka_log_write)

    src = (orders.limit(500).repartition(4)
           .select(F.unix_millis(
               F.col("o_orderdate").cast("timestamp"))
               .alias("timestamp"),
               F.encode(F.col("o_orderkey").cast("string"), "utf-8")
               .alias("key"),
               F.encode("o_orderpriority", "utf-8").alias("value")))
    path = tempfile.mkdtemp(prefix="kafka_log_")
    kafka_log_write(src, path, "orders", batch_size=64)
    back = kafka_log_read(spark, path, "orders")
    assert back.count() == 500
    # keys survive byte-exact
    orig = {r.key for r in src.select("key").collect()}
    got = {bytes(r.key) for r in back.select("key").collect()}
    assert got == orig
    # offsets dense from 0 within each partition
    per = (back.groupBy("partition")
           .agg(F.count("*").alias("n"), F.min("offset").alias("lo"),
                F.max("offset").alias("hi")).collect())
    assert all(r.lo == 0 and r.hi == r.n - 1 for r in per)


def test_kafka_log_stream_read(spark, orders):
    """Streaming consumption of the file-backed topic: binaryFile
    stream source + executor-side RecordBatch decode must yield
    exactly the batch read's records (the subscription shape of the
    reference's FlinkKafkaConsumer, minus the network)."""
    import tempfile

    from flink_1_11_2_with_comments_spark.sources.kafka_wire import (
        kafka_log_read, kafka_log_read_stream, kafka_log_write)

    src = (orders.limit(200).repartition(3)
           .select(F.unix_millis(
               F.col("o_orderdate").cast("timestamp"))
               .alias("timestamp"),
               F.encode(F.col("o_orderkey").cast("string"), "utf-8")
               .alias("key"),
               F.encode("o_orderstatus", "utf-8").alias("value")))
    path = tempfile.mkdtemp(prefix="kafka_stream_")
    kafka_log_write(src, path, "t", batch_size=32)

    stream = kafka_log_read_stream(spark, path, "t")
    assert stream.isStreaming
    q = (stream.writeStream.format("memory")
         .queryName("kafka_stream_out").outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT * FROM kafka_stream_out")
    exp = kafka_log_read(spark, path, "t")
    assert got.count() == 200
    assert ({(r.partition, r.offset, bytes(r.key)) for r in got.collect()}
            == {(r.partition, r.offset, bytes(r.key))
                for r in exp.collect()})


def test_event_time_temporal_join_sql(spark):
    """Event-time FOR SYSTEM_TIME AS OF routes to the as-of join via
    TableEnvironment.sql_query (the reference's
    LogicalCorrelateToJoinFromTemporalTableRule rewrite): newest
    version with version_ts <= probe rowtime; INNER drops unversioned
    probes, LEFT keeps them with NULL payload; out-of-subset shapes
    raise loudly."""
    import pytest
    from flink_1_11_2_with_comments_spark.plans.flink_sql import (
        event_time_temporal_join)
    spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 100),
         (1, "2024-01-01 12:00:00", 101),
         (2, "2024-01-01 11:00:00", 200)],
        "k bigint, rowtime string, oid bigint",
    ).selectExpr("k", "CAST(rowtime AS TIMESTAMP_NTZ) AS rowtime",
                 "oid").createOrReplaceTempView("tj_orders")
    spark.createDataFrame(
        [(1, "2024-01-01 09:00:00", 1.0),
         (1, "2024-01-01 11:00:00", 2.0)],
        "rk bigint, vts string, rate double",
    ).selectExpr("rk", "CAST(vts AS TIMESTAMP_NTZ) AS vts",
                 "rate").createOrReplaceTempView("tj_rates_v")

    inner = event_time_temporal_join(spark, """
        SELECT o.oid AS oid, r.rate AS rate
        FROM tj_orders o
        JOIN tj_rates_v FOR SYSTEM_TIME AS OF o.rowtime AS r
        ON o.k = r.rk
    """)
    assert sorted((r.oid, r.rate) for r in inner.collect()) \
        == [(100, 1.0), (101, 2.0)]  # k=2 probe dropped (no version)

    left = event_time_temporal_join(spark, """
        SELECT o.oid AS oid, r.rate AS rate
        FROM tj_orders o
        LEFT JOIN tj_rates_v FOR SYSTEM_TIME AS OF o.rowtime AS r
        ON o.k = r.rk
        WHERE o.oid > 100
    """)
    assert sorted((r.oid, r.rate) for r in left.collect()) \
        == [(101, 2.0), (200, None)]

    # not an event-time temporal join → None (caller falls through)
    assert event_time_temporal_join(
        spark, "SELECT a FROM t1 x JOIN t2 y ON x.a = y.a") is None
    assert event_time_temporal_join(spark, """
        SELECT o.oid FROM tj_orders o
        JOIN d FOR SYSTEM_TIME AS OF o.proctime AS r ON o.k = r.k
    """) is None
    # out-of-subset: non-equi ON
    with pytest.raises(NotImplementedError, match="equi"):
        event_time_temporal_join(spark, """
            SELECT o.oid FROM tj_orders o
            JOIN tj_rates_v FOR SYSTEM_TIME AS OF o.rowtime AS r
            ON o.k > r.rk
        """)


def test_kafka_topic_log_end_to_end_restart(spark):
    """The reference's flagship topology composed from the repo's
    real pieces: file-backed RecordBatch v2 topic log
    (sources/kafka_wire.py) -> STREAMING decode -> payload parse ->
    watermarked tumbling-window aggregate -> checkpointed sink —
    with a broker-style stop/restart in the middle (new log segments
    arrive while the query is down). Exactly-once across the
    restart: final per-window aggregates equal the full-batch
    ground truth, nothing lost or double-counted
    (FlinkKafkaConsumer -> window agg -> TwoPhaseCommitSinkFunction;
    offsets live in the checkpoint like KafkaConsumerBase's state).
    """
    import glob as _glob

    from flink_1_11_2_with_comments_spark.sources.kafka_wire import (
        kafka_log_read_stream, kafka_log_write)

    ev = (load_table(spark, SF, "events")
          .select("event_id", "user_id", "ts", "event_type"))

    # producer side: event-time travels INSIDE the payload as a
    # string (TZ-independent for naive timestamps); the record
    # timestamp field is the event id (monotonic, broker-style)
    def produce(df, topic, log_dir):
        kafka_log_write(
            df.select(F.col("event_id").alias("timestamp"),
                      F.col("user_id").cast("string").cast("binary")
                      .alias("key"),
                      F.concat_ws(
                          ",", "event_id", "event_type",
                          F.col("ts").cast("string")).cast("binary")
                      .alias("value")).repartition(2),
            log_dir, topic)

    log_dir = tempfile.mkdtemp(prefix="kafka_e2e_")
    # split on TIME, like a real broker: later segments carry later
    # event times (half2 stays ahead of the checkpointed watermark;
    # windows spanning the cutoff accumulate across the restart)
    cutoff = ev.agg(
        F.percentile_approx("ts", 0.5).alias("m")).collect()[0].m
    half1 = ev.where(F.col("ts") < F.lit(cutoff))
    half2 = ev.where(F.col("ts") >= F.lit(cutoff))
    assert half1.count() > 0 and half2.count() > 0
    produce(half1, "t7", log_dir)

    def consume():
        raw = kafka_log_read_stream(spark, log_dir, "t7")
        parsed = raw.select(
            F.split(F.col("value").cast("string"), ",").alias("p")
        ).select(
            F.element_at("p", 1).cast("bigint").alias("event_id"),
            F.element_at("p", 2).alias("event_type"),
            F.to_timestamp(F.element_at("p", 3)).alias("ts"))
        return (parsed.withWatermark("ts", "1 hour")
                .groupBy(F.window("ts", "6 hours").alias("w"),
                         "event_type")
                .agg(F.count("*").alias("n"),
                     F.sum("event_id").alias("id_sum")))

    base = tempfile.mkdtemp(prefix="kafka_e2e_sink_")
    epochs = os.path.join(base, "epochs")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(epochs)

    def sink(df, epoch_id):
        df.write.mode("overwrite").parquet(
            os.path.join(epochs, f"e={epoch_id}"))

    q = (consume().writeStream.outputMode("update")
         .foreachBatch(sink)
         .option("checkpointLocation", ckpt).start())
    q.processAllAvailable()
    q.stop()

    # broker keeps producing while the consumer is down: new segments
    produce(half2, "t7-seg2", log_dir)
    assert len(_glob.glob(os.path.join(log_dir, "t7*-*.log"))) == 4

    q2 = (consume().writeStream.outputMode("update")
          .foreachBatch(sink)
          .option("checkpointLocation", ckpt).start())
    q2.processAllAvailable()
    q2.stop()

    # newest state per (window, type) across update-mode epochs
    got = {}
    for edir in sorted(_glob.glob(os.path.join(epochs, "e=*")),
                       key=lambda d: int(d.rsplit("=", 1)[1])):
        df = spark.read.parquet(edir)
        if "w" not in df.columns:  # empty no-data epoch
            continue
        for r in df.collect():
            got[(r.w.start, r.w.end, r.event_type)] = (r.n, r.id_sum)

    # truth goes through the IDENTICAL wall->instant conversion the
    # consumer performs (to_timestamp of the payload string), so the
    # window boundaries agree whatever the session/host timezone —
    # windowing an instant buckets on the epoch, not the wall clock
    truth = {(r.w.start, r.w.end, r.event_type): (r.n, r.id_sum)
             for r in (ev.withColumn(
                           "ts",
                           F.to_timestamp(F.col("ts").cast("string")))
                       .groupBy(F.window("ts", "6 hours").alias("w"),
                                "event_type")
                       .agg(F.count("*").alias("n"),
                            F.sum("event_id").alias("id_sum"))
                       .collect())}
    assert got == truth


def test_avro_negative_block_count_metadata():
    """Avro spec: a map/array block may use a NEGATIVE item count
    followed by the block's byte size (a fast-skip aid some writers
    emit). Our writer never produces it, so hand-assemble an OCF whose
    metadata map uses count=-2 + byte size and assert decode_container
    parses it identically to the positive-count form."""
    import io
    import json

    from flink_1_11_2_with_comments_spark.sources.avro_py import (
        _MAGIC, _write_bytes, _write_long, decode_container,
        encode_container)

    schema = {"type": "record", "name": "row",
              "fields": [{"name": "a", "type": "long"}]}
    sync = bytes(range(16))
    # reference bytes from our own writer (positive metadata count)
    rows = [(1,), (2,), (3,)]
    positive = encode_container(rows, schema, sync)

    # same file, metadata map re-encoded with a negative block count
    out = io.BytesIO()
    out.write(_MAGIC)
    entries = io.BytesIO()
    _write_bytes(entries, b"avro.schema")
    _write_bytes(entries, json.dumps(schema).encode())
    _write_bytes(entries, b"avro.codec")
    _write_bytes(entries, b"null")
    payload = entries.getvalue()
    _write_long(out, -2)            # negative count: 2 entries follow
    _write_long(out, len(payload))  # ... prefixed by their byte size
    out.write(payload)
    _write_long(out, 0)             # map terminator
    out.write(sync)
    # reuse the data blocks verbatim from the positive-form file
    meta_pos, p = {}, 4
    buf = memoryview(positive)
    from flink_1_11_2_with_comments_spark.sources.avro_py import \
        _read_bytes, _read_long
    while True:
        n, p = _read_long(buf, p)
        if n == 0:
            break
        for _ in range(n):
            _, p = _read_bytes(buf, p)
            _, p = _read_bytes(buf, p)
    p += 16  # sync
    out.write(positive[p:])

    got_schema, got_rows = decode_container(out.getvalue())
    ref_schema, ref_rows = decode_container(positive)
    assert got_rows == ref_rows == rows
    assert got_schema == ref_schema


def test_avro_varint_roundtrip_property():
    """Property: zigzag-varint encode/decode round-trips every int64
    (Avro spec 'long' wire type) — fuzzed across the full range plus
    boundary values."""
    import io

    from hypothesis import given, settings, strategies as st

    from flink_1_11_2_with_comments_spark.sources.avro_py import (
        _read_long, _write_long)

    @given(st.one_of(
        st.integers(-2**63, 2**63 - 1),
        st.sampled_from([0, -1, 1, 2**62, -2**62, 2**63 - 1, -2**63])))
    @settings(max_examples=500, deadline=None)
    def check(n):
        out = io.BytesIO()
        _write_long(out, n)
        got, pos = _read_long(memoryview(out.getvalue()), 0)
        assert got == n
        assert pos == len(out.getvalue())

    check()


def test_kafka_varint_roundtrip_property():
    """Property: the Kafka RecordBatch v2 zigzag-varint round-trips
    every int64 (record framing uses it for all deltas/lengths)."""
    import io

    from hypothesis import given, settings, strategies as st

    from flink_1_11_2_with_comments_spark.sources.kafka_wire import (
        _read_varint, _write_varint)

    @given(st.one_of(
        st.integers(-2**63, 2**63 - 1),
        st.sampled_from([0, -1, 1, 2**62, -2**62, 2**63 - 1, -2**63])))
    @settings(max_examples=500, deadline=None)
    def check(n):
        out = io.BytesIO()
        _write_varint(out, n)
        got, pos = _read_varint(memoryview(out.getvalue()), 0)
        assert got == n
        assert pos == len(out.getvalue())

    check()


# ---------------------------------------------------------------------------
# CDC formats: debezium-json / canal-json (Flink 1.11 flagship formats)
# ---------------------------------------------------------------------------

_DBZ_SCHEMA = "id bigint, v string, ver int"


def _dbz_rows(spark):
    envs = [
        '{"before": null, "after": {"id": 1, "v": "a", "ver": 1}, '
        '"op": "c", "ts_ms": 100}',
        '{"before": null, "after": {"id": 2, "v": "b", "ver": 1}, '
        '"op": "r", "ts_ms": 101}',
        '{"before": {"id": 1, "v": "a", "ver": 1}, '
        '"after": {"id": 1, "v": "a2", "ver": 2}, "op": "u", '
        '"ts_ms": 102}',
        '{"before": {"id": 2, "v": "b", "ver": 1}, "after": null, '
        '"op": "d", "ts_ms": 103}',
    ]
    return spark.createDataFrame([(i, e) for i, e in enumerate(envs)],
                                 "offset int, payload string")


def test_debezium_json_parse(spark):
    """Debezium op mapping pinned field-by-field — c/r -> +I(after),
    u -> -U(before) + +U(after), d -> -D(before)
    (DebeziumJsonDeserializationSchema.java:122)."""
    from flink_1_11_2_with_comments_spark.sources.cdc import (
        parse_debezium_json)

    out = parse_debezium_json(_dbz_rows(spark), "payload", _DBZ_SCHEMA)
    got = {(r.rowkind, r.id, r.v, r.ver, r.change_seq)
           for r in out.collect()}
    assert got == {
        ("+I", 1, "a", 1, 0), ("+I", 2, "b", 1, 0),
        ("-U", 1, "a", 1, 0), ("+U", 1, "a2", 2, 1),
        ("-D", 2, "b", 1, 0)}


def test_debezium_json_parse_streaming(spark):
    """The same parse expressions run unchanged under readStream —
    the format is a stateless projection, exactly why the reference
    registers one DeserializationSchema for both batch and
    streaming."""
    from flink_1_11_2_with_comments_spark.sources.cdc import (
        parse_debezium_json)

    stream = replay_as_stream(_dbz_rows(spark), n_batches=2,
                              order_by="offset")
    out = write_stream_to_memory(
        parse_debezium_json(stream, "payload", _DBZ_SCHEMA), "dbz_s")
    got = {(r.rowkind, r.id, r.v, r.ver) for r in out.collect()}
    assert got == {("+I", 1, "a", 1), ("+I", 2, "b", 1),
                   ("-U", 1, "a", 1), ("+U", 1, "a2", 2),
                   ("-D", 2, "b", 1)}


def test_canal_json_parse(spark):
    """Canal mapping pinned: data is an array (multi-row batches),
    UPDATE's old[i] carries ONLY changed fields — keys ABSENT from
    old[i] patch from data[i], while a key PRESENT with an explicit
    null means the old value WAS null and must stay null in the -U
    row (CanalJsonDeserializationSchema.java:112,131 checks field
    presence, not non-nullness)."""
    from flink_1_11_2_with_comments_spark.sources.cdc import (
        parse_canal_json)

    envs = [
        '{"data": [{"id": 1, "v": "a", "ver": 1}, '
        '{"id": 2, "v": "b", "ver": 1}], "old": null, '
        '"type": "INSERT"}',
        # old[0] changes only v (id/ver absent -> patch from data)
        '{"data": [{"id": 1, "v": "a2", "ver": 2}], '
        '"old": [{"v": "a"}], '
        '"type": "UPDATE"}',
        # id=3: v updated FROM NULL -> old carries an explicit null,
        # which must survive into the before-image (the coalesce
        # formulation would wrongly show the new value "c")
        '{"data": [{"id": 3, "v": "c", "ver": 2}], '
        '"old": [{"v": null}], '
        '"type": "UPDATE"}',
        '{"data": [{"id": 2, "v": "b", "ver": 1}], "old": null, '
        '"type": "DELETE"}',
    ]
    df = spark.createDataFrame([(i, e) for i, e in enumerate(envs)],
                               "offset int, payload string")
    out = parse_canal_json(df, "payload", _DBZ_SCHEMA)
    got = {(r.rowkind, r.id, r.v, r.ver, r.change_seq)
           for r in out.collect()}
    assert got == {
        ("+I", 1, "a", 1, 0), ("+I", 2, "b", 1, 0),
        ("-U", 1, "a", 2, 0),  # v patched from old, ver from data
        ("+U", 1, "a2", 2, 1),
        ("-U", 3, None, 2, 0),  # explicit-null old value preserved
        ("+U", 3, "c", 2, 1),
        ("-D", 2, "b", 1, 0)}


def test_cdc_materialize_upsert(spark):
    """Changelog -> final table state: last change per key wins, a
    trailing -D erases the key, an update's +U outranks its own -U."""
    from flink_1_11_2_with_comments_spark.sources.cdc import (
        materialize_upsert, parse_debezium_json)

    out = materialize_upsert(
        parse_debezium_json(_dbz_rows(spark), "payload", _DBZ_SCHEMA,
                            keep_cols=("offset",)),
        keys=["id"], order_cols=["offset"])
    got = {(r.id, r.v, r.ver) for r in out.collect()}
    assert got == {(1, "a2", 2)}  # id=2 deleted; id=1 at version 2
    assert "offset" in out.columns


def test_kafka_debezium_cdc_topology(spark):
    """The reference's flagship CDC topology composed from the two
    REAL in-container pieces: Debezium envelopes produced into the
    file-backed Kafka topic log (RecordBatch v2), STREAMED back out
    (binaryFile source + executor-side decode), parsed by the
    debezium-json format, and materialized to final table state —
    Kafka -> debezium-json -> changelog -> upsert sink
    (FlinkKafkaConsumer + DebeziumJsonDeserializationSchema +
    upsert materialization). End state must equal the direct
    last-write-wins computation on the source rows."""
    import tempfile

    from flink_1_11_2_with_comments_spark.sources.cdc import (
        materialize_upsert, parse_debezium_json)
    from flink_1_11_2_with_comments_spark.sources.kafka_wire import (
        kafka_log_read_stream, kafka_log_write)

    from pyspark.sql import Window

    from flink_1_11_2_with_comments_spark.catalog import load_table

    src = load_table(spark, "/root/testdata/sf0.001", "events").limit(400)
    is_del = F.col("event_type") == "error"
    # the payload carries its own total order (ts_ms = event_id)
    payload = F.struct(F.col("user_id"), F.col("value"),
                       F.col("event_id").alias("ts_ms"))
    env = src.select(
        F.unix_millis(F.col("ts").cast("timestamp")).alias("timestamp"),
        F.encode(F.col("user_id").cast("string"), "utf-8").alias("key"),
        F.encode(F.to_json(F.struct(
            F.when(is_del, payload).alias("before"),
            F.when(~is_del, payload).alias("after"),
            F.when(is_del, F.lit("d")).otherwise(F.lit("c"))
            .alias("op"))), "utf-8").alias("value"))
    path = tempfile.mkdtemp(prefix="kafka_cdc_")
    kafka_log_write(env.repartition(2), path, "cdc", batch_size=64)

    stream = kafka_log_read_stream(spark, path, "cdc")
    parsed = parse_debezium_json(
        stream.select(F.decode("value", "utf-8").alias("payload"),
                      "partition", "offset"),
        "payload", "user_id bigint, value double, ts_ms bigint",
        keep_cols=("partition", "offset"))
    q = (parsed.writeStream.format("memory").queryName("cdc_chg")
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    chg = spark.sql("SELECT * FROM cdc_chg")
    final = materialize_upsert(chg, keys=["user_id"],
                               order_cols=["ts_ms"])
    got = {(r.user_id, r.value) for r in final.collect()}

    w = Window.partitionBy("user_id").orderBy(F.desc("event_id"))
    exp = {(r.user_id, r.value) for r in
           (src.withColumn("rn", F.row_number().over(w))
            .where((F.col("rn") == 1) & ~is_del)
            .select("user_id", "value").collect())}
    assert got == exp and got


def test_kafka_protocol_loopback_roundtrip(spark):
    """REAL Kafka protocol over a real TCP socket: produce RecordBatch
    v2 frames through Produce v3, discover the topic through Metadata
    v1, read everything back through Fetch v4 — framing, correlation
    ids, broker offset rebasing and the high watermark all exercised
    end-to-end against the in-process stub broker (which serves the
    same <topic>-<p>.log files kafka_wire writes — one format on disk
    and on the wire). FlinkKafkaConsumer.java:72 /
    FlinkKafkaProducer.java:100 are the reference surfaces."""
    import tempfile

    from flink_1_11_2_with_comments_spark.sources.kafka_net import (
        KafkaProtocolClient, StubKafkaBroker)
    from flink_1_11_2_with_comments_spark.sources.kafka_wire import (
        encode_record_batch)

    log_dir = tempfile.mkdtemp(prefix="kafka_net_")
    with StubKafkaBroker(log_dir) as broker:
        cli = KafkaProtocolClient(broker.host, broker.port)
        try:
            # two produces to the same partition: broker must rebase
            # the second batch onto the log end offset
            b1 = encode_record_batch(0, [(1000, b"k1", b"v1"),
                                         (1001, b"k2", b"v2")])
            b2 = encode_record_batch(0, [(1002, b"k3", b"v3")])
            assert cli.produce("t", 0, b1) == 0
            assert cli.produce("t", 0, b2) == 2
            cli.produce("t", 1, encode_record_batch(
                0, [(1003, b"k4", b"v4")]))

            assert cli.metadata(["t"]) == {"t": [0, 1]}
            assert cli.metadata(None) == {"t": [0, 1]}

            hwm, recs = cli.fetch("t", 0, 0)
            assert hwm == 3
            assert [(o, k, v) for o, _ts, k, v in recs] == [
                (0, b"k1", b"v1"), (1, b"k2", b"v2"), (2, b"k3", b"v3")]
            # offset-addressed fetch: only records >= offset come back
            hwm, recs = cli.fetch("t", 0, 2)
            assert hwm == 3 and [r[0] for r in recs] == [2]
            # error contract: unknown topic-partition -> error code 3
            try:
                cli.fetch("missing", 0, 0)
            except ValueError as e:
                assert "error 3" in str(e)
            else:
                raise AssertionError("expected UNKNOWN_TOPIC error")
        finally:
            cli.close()


def test_kafka_net_read_matches_log_read(spark, orders):
    """The executor-side wire read (one socket per task, Metadata for
    assignment, Fetch drained to the high watermark) must return
    exactly the rows the direct file decode returns on the same log
    directory — the network layer adds transport, not semantics."""
    import tempfile

    from flink_1_11_2_with_comments_spark.sources.kafka_net import (
        StubKafkaBroker, kafka_net_read)
    from flink_1_11_2_with_comments_spark.sources.kafka_wire import (
        kafka_log_read, kafka_log_write)

    src = (orders.limit(300).repartition(3)
           .select(F.unix_millis(
               F.col("o_orderdate").cast("timestamp"))
               .alias("timestamp"),
               F.encode(F.col("o_orderkey").cast("string"), "utf-8")
               .alias("key"),
               F.encode("o_orderpriority", "utf-8").alias("value")))
    log_dir = tempfile.mkdtemp(prefix="kafka_net_read_")
    kafka_log_write(src, log_dir, "orders", batch_size=32)
    with StubKafkaBroker(log_dir) as broker:
        over_wire = kafka_net_read(spark, broker.host, broker.port,
                                   "orders")
        direct = kafka_log_read(spark, log_dir, "orders")
        w = sorted((r.partition, r.offset, r.timestamp,
                    bytes(r.key), bytes(r.value))
                   for r in over_wire.collect())
        d = sorted((r.partition, r.offset, r.timestamp,
                    bytes(r.key), bytes(r.value))
                   for r in direct.collect())
        assert w == d and len(w) == 300


def test_es_rest_roundtrip_sliced_scroll(spark, orders):
    """Elasticsearch over its REAL protocol (REST+JSON — the actual
    transport of flink-connector-elasticsearch7's sink): executor-side
    _bulk indexing with explicit _ids, then a parallel read through
    the sliced-scroll API (one task per disjoint slice, scroll
    continuations until drained) must return every document intact.
    The stub implements the REST subset in-process; against a real
    cluster the same calls apply unchanged."""
    import json
    import tempfile  # noqa: F401  (parallel structure with kafka tests)

    from flink_1_11_2_with_comments_spark.sources.es_rest import (
        StubESServer, es_bulk_sink, es_search_source)

    src = (orders.limit(400).repartition(4)
           .select(F.col("o_orderkey").cast("string").alias("oid"),
                   "o_orderpriority",
                   F.col("o_totalprice").cast("double")
                   .alias("o_totalprice")))
    with StubESServer() as es:
        es_bulk_sink(src, es.base_url, "orders", id_col="oid",
                     batch_size=64)
        back = es_search_source(spark, es.base_url, "orders", slices=3,
                                scroll_size=50)
        rows = back.collect()
        assert len(rows) == 400
        got = {r._id: json.loads(r._source) for r in rows}
        for r in src.collect():
            assert got[r.oid]["o_orderpriority"] == r.o_orderpriority
            assert got[r.oid]["o_totalprice"] == r.o_totalprice


def test_es_rest_bulk_error_contract(spark):
    """A bulk response carrying item errors must fail the write task
    loudly (ElasticsearchSinkBase's failure-handler contract), not
    drop documents silently."""
    from flink_1_11_2_with_comments_spark.sources.es_rest import (
        StubESServer)
    import json
    import urllib.request

    with StubESServer() as es:
        # hand-craft a bulk with an unsupported action type
        body = (json.dumps({"delete": {"_id": "1"}}) + "\n"
                + json.dumps({"x": 1}) + "\n").encode()
        req = urllib.request.Request(
            f"{es.base_url}/t/_bulk", data=body,
            headers={"Content-Type": "application/x-ndjson"},
            method="POST")
        out = json.loads(urllib.request.urlopen(req).read())
        assert out["errors"] is True


def test_sigv4_published_vectors():
    """AWS Signature V4 pinned against the PUBLISHED examples from the
    signing spec: the derived-signing-key example and the canonical
    IAM ListUsers GET request signature."""
    from flink_1_11_2_with_comments_spark.sources.kinesis_rest import (
        sigv4_sign, sigv4_signing_key)

    key = sigv4_signing_key(
        "wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY",
        "20150830", "us-east-1", "iam")
    assert key.hex() == ("c4afb1cc5771d871763a393e44b70357"
                         "1b55cc28424d1a5e86da6ed3c154a4b9")

    auth = sigv4_sign(
        "GET", "/", "Action=ListUsers&Version=2010-05-08",
        {"Content-Type":
             "application/x-www-form-urlencoded; charset=utf-8",
         "Host": "iam.amazonaws.com",
         "X-Amz-Date": "20150830T123600Z"},
        b"", access_key="AKIDEXAMPLE",
        secret_key="wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY",
        region="us-east-1", service="iam",
        amz_date="20150830T123600Z")
    assert auth.endswith(
        "Signature=5d672d79c15b13162d9279b0855cfba6"
        "789a8edb4c82c400e06b5924a6f2b5d7"), auth


def test_kinesis_loopback_roundtrip(spark):
    """Kinesis over its real protocol (JSON targets + SigV4, both
    public specs; FlinkKinesisConsumer/Producer's wire surface):
    PutRecords routes by the genuine MD5 hash-key-range rule, the
    stub RE-VERIFIES every request's SigV4 signature server-side
    with the shared secret, and kinesis_read drains one shard per
    task TRIM_HORIZON -> tip. A client signing with the wrong secret
    must be rejected."""
    import urllib.error

    from flink_1_11_2_with_comments_spark.sources.kinesis_rest import (
        KinesisClient, StubKinesisServer, kinesis_read)

    with StubKinesisServer(n_shards=3) as srv:
        cli = KinesisClient(srv.endpoint, srv.region, srv.access_key,
                            srv.secret_key)
        records = [(f"pk-{i}", f"payload-{i}".encode())
                   for i in range(200)]
        assert cli.put_records("events", records) == 0
        assert len(cli.list_shards("events")) == 3

        back = kinesis_read(spark, srv.endpoint, srv.region,
                            srv.access_key, srv.secret_key, "events")
        rows = back.collect()
        assert len(rows) == 200
        got = {r.partition_key: bytes(r.data) for r in rows}
        assert got == {pk: d for pk, d in records}
        # every shard received data (MD5 range split over 200 keys)
        assert len({r.shard_id for r in rows}) == 3
        # per-shard sequence numbers are dense from 0
        per = {}
        for r in rows:
            per.setdefault(r.shard_id, []).append(
                int(r.sequence_number))
        assert all(sorted(v) == list(range(len(v)))
                   for v in per.values())

        bad = KinesisClient(srv.endpoint, srv.region, srv.access_key,
                            "WRONG-SECRET")
        try:
            bad.list_shards("events")
        except urllib.error.HTTPError as e:
            assert e.code == 403
        else:
            raise AssertionError("expected SigV4 rejection")


def test_cql_native_protocol_roundtrip(spark):
    """Cassandra over the REAL CQL native v4 binary protocol
    (flink-connector-cassandra's driver speaks exactly this):
    9-byte frames, STARTUP->READY handshake, INSERTs with BOUND
    values (no literal quoting), token-range-parallel SELECT reads
    (the CassandraInputFormat split model), and typed RESULT Rows
    decoding. The token-range splits must cover every row exactly
    once (disjoint half-open ranges over the murmur ring)."""
    from flink_1_11_2_with_comments_spark.sources.cql_native import (
        TYPE_BIGINT, TYPE_DOUBLE, TYPE_VARCHAR, CqlClient,
        StubCqlServer, cql_read, cql_write)

    cols = ["pk", "name", "score"]
    with StubCqlServer("t", cols) as srv:
        srv.declare_types([TYPE_BIGINT, TYPE_VARCHAR, TYPE_DOUBLE])
        src = spark.createDataFrame(
            [(i, f"row-{i}", i * 1.5) for i in range(257)],
            "pk bigint, name string, score double").repartition(4)
        cql_write(src, srv.host, srv.port, "t", "pk")
        back = cql_read(spark, srv.host, srv.port, "t", cols, "pk",
                        "pk bigint, name string, score double",
                        n_splits=6)
        rows = sorted((r.pk, r.name, r.score) for r in back.collect())
        assert rows == [(i, f"row-{i}", i * 1.5) for i in range(257)]

        # error contract: an ERROR frame surfaces as an exception
        c = CqlClient(srv.host, srv.port)
        try:
            c.execute("DROP TABLE t")
        except RuntimeError as e:
            assert "unsupported CQL" in str(e)
        else:
            raise AssertionError("expected CQL ERROR frame")
        finally:
            c.close()


def test_murmur3_x64_128_token_basics():
    """The Murmur3 token function: the published x64_128 algorithm
    (empty input with seed 0 finalizes to 0 -> token 0), stable
    across runs, and spreading 1000 keys over the full signed-64
    ring with both signs represented."""
    from flink_1_11_2_with_comments_spark.sources.cql_native import (
        murmur3_token)
    assert murmur3_token(b"") == 0
    toks = [murmur3_token(str(i).encode()) for i in range(1000)]
    assert len(set(toks)) == 1000
    assert any(t < 0 for t in toks) and any(t > 0 for t in toks)
    assert toks == [murmur3_token(str(i).encode()) for i in range(1000)]


def test_murmur3_cassandra_token_vectors():
    """Pin Cassandra's SIGNED-tail-byte Murmur3 variant (Java
    MurmurHash.hash3_x64_128, what Murmur3Partitioner tokens use)
    against published DataStax python-driver vectors
    (tests/unit/test_murmur3.py). The b'\\xfe'*8 / 50-byte cases have
    tail bytes >= 0x80 — they DIVERGE from canonical (unsigned) C++
    x64_128, so passing here pins the sign-extension semantics."""
    from flink_1_11_2_with_comments_spark.sources.cql_native import (
        murmur3_token)
    assert murmur3_token(b"123") == -7468325962851647638
    assert murmur3_token(b"\x00\xff\x10\xfa\x99" * 10) == \
        5837342703291459765
    assert murmur3_token(b"\xfe" * 8) == -8927430733708461935
    assert murmur3_token(b"\x10" * 8) == 1446172840243228796
    # 16n+8 shape (full blocks + exactly-8-byte tail), value pinned by
    # an independent transcription of the Java algorithm
    assert murmur3_token(
        b"9876543210123456789012345678901234567890") == \
        9191554715844336052


def test_amqp_wire_roundtrip_and_bridge(spark):
    """RabbitMQ over real AMQP 0-9-1 frames (flink-connector-rabbitmq's
    RMQSource/RMQSink wire surface): full connection negotiation
    (Start/StartOk PLAIN/Tune/TuneOk/Open), Queue.Declare, 3-frame
    publishes and Basic.Get polling — then the DOCUMENTED Spark
    deployment pattern realized: the queue drains over AMQP into the
    kafka_wire topic log, and Spark reads the replayable log."""
    import tempfile

    from flink_1_11_2_with_comments_spark.sources.amqp_wire import (
        AmqpClient, StubAmqpBroker, amqp_bridge_to_kafka_log)
    from flink_1_11_2_with_comments_spark.sources.kafka_wire import (
        kafka_log_read)

    with StubAmqpBroker() as broker:
        pub = AmqpClient(broker.host, broker.port)
        assert pub.declare_queue("events") == 0
        payloads = [f"msg-{i}".encode() for i in range(120)]
        for p in payloads:
            pub.publish("events", p)
        assert pub.declare_queue("events") == 120
        # direct protocol check: first message via Basic.Get
        assert pub.get("events") == b"msg-0"
        pub.close()

        log_dir = tempfile.mkdtemp(prefix="amqp_bridge_")
        n = amqp_bridge_to_kafka_log(broker.host, broker.port,
                                     "events", spark, log_dir, "ev")
        assert n == 119                       # one consumed above
        back = kafka_log_read(spark, log_dir, "ev")
        got = sorted(bytes(r.value) for r in back.collect())
        assert got == sorted(payloads[1:])
        # queue drained: a fresh poll sees GetEmpty
        c2 = AmqpClient(broker.host, broker.port)
        assert c2.get("events") is None
        c2.close()


def test_kafka_fetch_tolerates_truncated_tail_batch(spark):
    """A real broker may truncate the final RecordBatch of a Fetch
    response at the request's max_bytes; the consumer contract is to
    discard the partial tail and continue from the next offset. The
    client must parse the complete prefix and not crash."""
    from flink_1_11_2_with_comments_spark.sources.kafka_net import (
        KafkaProtocolClient)
    from flink_1_11_2_with_comments_spark.sources.kafka_wire import (
        encode_record_batch)

    full = encode_record_batch(0, [(1000, b"k", b"v")])
    second = encode_record_batch(1, [(1001, b"k2", b"v2")])
    truncated = full + second[:len(second) // 2]

    class FakeClient(KafkaProtocolClient):
        def __init__(self):  # no socket
            self._corr = 0
            self.client_id = "t"

        def _call(self, api_key, api_version, body):
            import io as _io
            import struct as _s
            out = _io.BytesIO()
            out.write(_s.pack(">i", 0))          # throttle
            out.write(_s.pack(">i", 1))          # 1 topic
            out.write(_s.pack(">h", 1) + b"t")
            out.write(_s.pack(">i", 1))          # 1 partition
            out.write(_s.pack(">ihqq", 0, 0, 2, 2))
            out.write(_s.pack(">i", 0))          # aborted txns
            out.write(_s.pack(">i", len(truncated)))
            out.write(truncated)
            return memoryview(out.getvalue())

    hwm, recs = FakeClient().fetch("t", 0, 0)
    assert hwm == 2
    assert [(o, k, v) for o, _ts, k, v in recs] == [(0, b"k", b"v")]


def test_amqp_empty_body_publish(spark):
    """AMQP spec: a content header with body-size 0 is followed by
    ZERO body frames — an empty-payload publish must not desync the
    framing, and Basic.Get must return the empty body."""
    from flink_1_11_2_with_comments_spark.sources.amqp_wire import (
        AmqpClient, StubAmqpBroker)
    with StubAmqpBroker() as broker:
        c = AmqpClient(broker.host, broker.port)
        c.declare_queue("q")
        c.publish("q", b"")
        c.publish("q", b"after")      # framing still aligned
        assert c.get("q") == b""
        assert c.get("q") == b"after"
        assert c.get("q") is None
        c.close()


def test_kinesis_empty_mid_shard_pages(spark):
    """Real Kinesis legitimately returns EMPTY GetRecords pages with a
    non-null NextShardIterator while MillisBehindLatest > 0; a reader
    that stops on the first empty page silently truncates the shard.
    The stub is configured to serve 2 empty pages before every data
    page — the drain must still return every record."""
    from flink_1_11_2_with_comments_spark.sources.kinesis_rest import (
        KinesisClient, StubKinesisServer, kinesis_read)

    with StubKinesisServer(n_shards=2,
                           empty_pages_before_data=2) as srv:
        cli = KinesisClient(srv.endpoint, srv.region, srv.access_key,
                            srv.secret_key)
        records = [(f"pk-{i}", f"payload-{i}".encode())
                   for i in range(60)]
        assert cli.put_records("events", records) == 0
        # direct client check: first page is empty but NOT the end
        it = cli.get_shard_iterator("events", "shardId-000000000000")
        recs, nxt, behind = cli.get_records(it)
        assert recs == [] and nxt is not None and behind > 0

        back = kinesis_read(spark, srv.endpoint, srv.region,
                            srv.access_key, srv.secret_key, "events")
        got = {r.partition_key: bytes(r.data) for r in back.collect()}
        assert got == {pk: d for pk, d in records}


def test_kafka_multi_batch_produce_rebases_each_batch():
    """A produce record_set may carry SEVERAL concatenated RecordBatch
    v2 frames; the broker must rebase EACH batch's baseOffset onto the
    running log end so the log stays offset-monotonic (a single-batch
    rebase would append later batches at their original offsets)."""
    import tempfile

    from flink_1_11_2_with_comments_spark.sources.kafka_net import (
        KafkaProtocolClient, StubKafkaBroker)
    from flink_1_11_2_with_comments_spark.sources.kafka_wire import (
        encode_record_batch)

    log_dir = tempfile.mkdtemp(prefix="kafka_multibatch_")
    with StubKafkaBroker(log_dir) as broker:
        cli = KafkaProtocolClient(broker.host, broker.port)
        try:
            # pre-existing log content so the rebase is non-trivial
            assert cli.produce("t", 0, encode_record_batch(
                0, [(1000, b"a", b"va")])) == 0
            # one produce, THREE concatenated batches (each encoded
            # with baseOffset 0 — the broker owns offset assignment)
            multi = (encode_record_batch(0, [(1001, b"b", b"vb"),
                                             (1002, b"c", b"vc")])
                     + encode_record_batch(0, [(1003, b"d", b"vd")])
                     + encode_record_batch(0, [(1004, b"e", b"ve")]))
            assert cli.produce("t", 0, multi) == 1
            hwm, recs = cli.fetch("t", 0, 0)
            assert hwm == 5
            assert [(o, k) for o, _ts, k, _v in recs] == [
                (0, b"a"), (1, b"b"), (2, b"c"), (3, b"d"), (4, b"e")]
            # offset-addressed fetch still lands mid-multi-batch
            _hwm, recs = cli.fetch("t", 0, 3)
            assert [r[0] for r in recs] == [3, 4]
        finally:
            cli.close()


def test_amqp_large_body_splits_at_frame_max():
    """A published body larger than the negotiated frame_max must go
    out as MULTIPLE body frames (spec 4.2.6 — an oversized frame is a
    protocol violation that closes the connection; the stub broker
    now ENFORCES the limit on receipt). A 300 KiB body (> the 128 KiB
    frame_max) must round-trip intact."""
    from flink_1_11_2_with_comments_spark.sources.amqp_wire import (
        FRAME_MAX, AmqpClient, StubAmqpBroker)

    big = bytes(range(256)) * 1200            # 300 KiB, > FRAME_MAX
    assert len(big) > 2 * (FRAME_MAX - 8)     # needs >= 3 body frames
    with StubAmqpBroker() as broker:
        cli = AmqpClient(broker.host, broker.port)
        assert cli.frame_max == FRAME_MAX     # negotiated, honored
        cli.declare_queue("big")
        cli.publish("big", big)
        assert cli.get("big") == big          # reassembled intact
        cli.close()


def test_kafka_transactions_wire_protocol():
    """The Kafka transaction protocol end-to-end over TCP — the wire
    surface behind FlinkKafkaProducer.Semantic.EXACTLY_ONCE
    (FlinkKafkaProducer.java:100, TwoPhaseCommitSinkFunction):
    InitProducerId epoch handshake, AddPartitionsToTxn, transactional
    RecordBatch v2 produce, EndTxn commit/abort markers, and the two
    consumer isolation levels. Aborted data must be invisible to
    read_committed, control markers invisible to everyone, an OPEN
    transaction must gate the last stable offset, and a zombie
    producer with a stale epoch must be fenced."""
    import tempfile

    from flink_1_11_2_with_comments_spark.sources.kafka_net import (
        KafkaProtocolClient, StubKafkaBroker)
    from flink_1_11_2_with_comments_spark.sources.kafka_wire import (
        ATTR_TRANSACTIONAL, encode_record_batch)

    def txn_batch(pid, ep, seq, recs):
        return encode_record_batch(
            0, recs, attributes=ATTR_TRANSACTIONAL, producer_id=pid,
            producer_epoch=ep, base_sequence=seq)

    log_dir = tempfile.mkdtemp(prefix="kafka_txn_")
    with StubKafkaBroker(log_dir) as broker:
        cli = KafkaProtocolClient(broker.host, broker.port)
        try:
            # committed transaction: two records
            pid, ep = cli.init_producer_id("txn-a")
            assert ep == 0
            cli.add_partitions_to_txn("txn-a", pid, ep, "t", [0])
            cli.produce("t", 0, txn_batch(pid, ep, 0,
                                          [(1000, b"k1", b"v1"),
                                           (1001, b"k2", b"v2")]),
                        transactional_id="txn-a")
            cli.end_txn("txn-a", pid, ep, True)
            # aborted transaction: one decoy record
            pid2, ep2 = cli.init_producer_id("txn-b")
            assert pid2 != pid
            cli.add_partitions_to_txn("txn-b", pid2, ep2, "t", [0])
            cli.produce("t", 0, txn_batch(pid2, ep2, 0,
                                          [(1002, b"BAD", b"BAD")]),
                        transactional_id="txn-b")
            cli.end_txn("txn-b", pid2, ep2, False)
            # plain non-transactional record afterwards
            cli.produce("t", 0, encode_record_batch(
                0, [(1003, b"k3", b"v3")]))

            # read_uncommitted: aborted data visible, markers not
            hwm, recs = cli.fetch("t", 0, 0)
            assert hwm == 6          # 3 data batches + 2 markers
            assert [(o, k) for o, _t, k, _v in recs] == [
                (0, b"k1"), (1, b"k2"), (3, b"BAD"), (5, b"k3")]
            # read_committed: aborted data AND markers invisible
            lso, nxt, recs = cli.fetch_committed("t", 0, 0)
            assert lso == 6 and nxt == 6
            assert [(o, k) for o, _t, k, _v in recs] == [
                (0, b"k1"), (1, b"k2"), (5, b"k3")]

            # an OPEN transaction gates the last stable offset
            pid3, ep3 = cli.init_producer_id("txn-c")
            cli.add_partitions_to_txn("txn-c", pid3, ep3, "t", [0])
            cli.produce("t", 0, txn_batch(pid3, ep3, 0,
                                          [(1004, b"open", b"open")]),
                        transactional_id="txn-c")
            lso, _nxt, recs = cli.fetch_committed("t", 0, 0)
            assert lso == 6
            assert all(k != b"open" for _o, _t, k, _v in recs)
            cli.end_txn("txn-c", pid3, ep3, True)
            lso, _nxt, recs = cli.fetch_committed("t", 0, 0)
            assert lso == 8 and recs[-1][2] == b"open"

            # fencing: re-init bumps the epoch; the zombie is refused
            pid4, ep4 = cli.init_producer_id("txn-a")
            assert pid4 == pid and ep4 == ep + 1
            cli.add_partitions_to_txn("txn-a", pid4, ep4, "t", [0])
            try:
                cli.produce("t", 0, txn_batch(pid, ep, 0,
                                              [(1005, b"z", b"z")]),
                            transactional_id="txn-a")
            except ValueError as e:
                assert "error 47" in str(e)     # INVALID_PRODUCER_EPOCH
            else:
                raise AssertionError("stale epoch must be fenced")
            # a partition the txn never registered is rejected
            try:
                cli.produce("t", 1, txn_batch(pid4, ep4, 0,
                                              [(1006, b"y", b"y")]),
                            transactional_id="txn-a")
            except ValueError as e:
                assert "error 48" in str(e)     # INVALID_TXN_STATE
            else:
                raise AssertionError("unregistered partition produce")
            cli.end_txn("txn-a", pid4, ep4, False)
        finally:
            cli.close()


def test_kafka_txn_exactly_once_spark_roundtrip(spark, orders):
    """The exactly-once sink/source pair on Spark: a committed
    transactional write (one txn per task, the reference's
    per-subtask transactional-id pool), an ABORTED decoy write of
    the same shape, and a third small committed txn. A READ_COMMITTED
    kafka_net_read must return exactly the committed rows;
    READ_UNCOMMITTED additionally sees the aborted decoys — the
    atomicity contract of TwoPhaseCommitSinkFunction realized over
    the real protocol."""
    import tempfile

    from flink_1_11_2_with_comments_spark.sources.kafka_net import (
        READ_COMMITTED, StubKafkaBroker, kafka_net_read,
        kafka_txn_write)

    src = (orders.limit(200).repartition(3)
           .select(F.unix_millis(F.col("o_orderdate").cast("timestamp"))
                   .alias("timestamp"),
                   F.encode(F.col("o_orderkey").cast("string"), "utf-8")
                   .alias("key"),
                   F.encode("o_orderpriority", "utf-8").alias("value")))
    decoy = src.withColumn("value", F.encode(F.lit("DECOY"), "utf-8"))
    log_dir = tempfile.mkdtemp(prefix="kafka_eos_")
    with StubKafkaBroker(log_dir) as broker:
        n1 = kafka_txn_write(src, broker.host, broker.port, "t",
                             "sink-commit", commit=True, batch_size=32)
        n2 = kafka_txn_write(decoy, broker.host, broker.port, "t",
                             "sink-abort", commit=False, batch_size=32)
        assert n1 == n2 == 200
        committed = (kafka_net_read(spark, broker.host, broker.port,
                                    "t", READ_COMMITTED)
                     .localCheckpoint(eager=True))
        everything = (kafka_net_read(spark, broker.host, broker.port,
                                     "t")
                      .localCheckpoint(eager=True))
    vals = [bytes(r.value) for r in committed.collect()]
    assert len(vals) == 200 and b"DECOY" not in set(vals)
    keys = sorted(bytes(r.key) for r in committed.collect())
    src_keys = sorted(bytes(r.key) for r in src.collect())
    assert keys == src_keys
    allvals = [bytes(r.value) for r in everything.collect()]
    assert len(allvals) == 400
    assert sum(v == b"DECOY" for v in allvals) == 200


def test_kafka_txn_crashed_attempt_recovery():
    """The recovery half of exactly-once (KIP-98 InitPidRequest
    aborts an incomplete transaction): attempt 1 produces rows but
    CRASHES before EndTxn (open transaction gates the LSO); the
    restarted attempt re-runs InitProducerId with the SAME
    transactional id — the broker aborts the orphaned transaction
    and bumps the epoch — then rewrites and commits. The committed
    view must contain the batch EXACTLY ONCE."""
    import tempfile

    from flink_1_11_2_with_comments_spark.sources.kafka_net import (
        KafkaProtocolClient, StubKafkaBroker)
    from flink_1_11_2_with_comments_spark.sources.kafka_wire import (
        ATTR_TRANSACTIONAL, encode_record_batch)

    def txn_batch(pid, ep, recs):
        return encode_record_batch(
            0, recs, attributes=ATTR_TRANSACTIONAL, producer_id=pid,
            producer_epoch=ep, base_sequence=0)

    rows = [(1000 + i, f"k{i}".encode(), f"v{i}".encode())
            for i in range(5)]
    log_dir = tempfile.mkdtemp(prefix="kafka_txn_rec_")
    with StubKafkaBroker(log_dir) as broker:
        # attempt 1: produce, then crash before EndTxn
        c1 = KafkaProtocolClient(broker.host, broker.port)
        pid, ep = c1.init_producer_id("sink-0")
        c1.add_partitions_to_txn("sink-0", pid, ep, "t", [0])
        c1.produce("t", 0, txn_batch(pid, ep, rows),
                   transactional_id="sink-0")
        c1.close()                           # crash: no EndTxn
        probe = KafkaProtocolClient(broker.host, broker.port)
        lso, _n, recs = probe.fetch_committed("t", 0, 0)
        assert lso == 0 and recs == []       # nothing visible yet

        # attempt 2: same transactional id — recovery
        c2 = KafkaProtocolClient(broker.host, broker.port)
        pid2, ep2 = c2.init_producer_id("sink-0")
        assert pid2 == pid and ep2 == ep + 1
        c2.add_partitions_to_txn("sink-0", pid2, ep2, "t", [0])
        c2.produce("t", 0, txn_batch(pid2, ep2, rows),
                   transactional_id="sink-0")
        c2.end_txn("sink-0", pid2, ep2, True)
        c2.close()

        lso, _n, recs = probe.fetch_committed("t", 0, 0)
        keys = [k for _o, _t, k, _v in recs]
        assert keys == [f"k{i}".encode() for i in range(5)]  # ONCE
        # uncommitted view shows both attempts' bytes (the aborted
        # attempt is on disk, just never visible to read_committed)
        _hwm, all_recs = probe.fetch("t", 0, 0)
        assert len(all_recs) == 10
        probe.close()


def test_kafka_txn_visibility_fuzz():
    """Model-based fuzz of transactional visibility: a random (but
    seeded) interleaving of producers across overlapping transactions
    — produce / commit / abort / crash-and-reinit — replayed against
    a driver-side model of what read_committed must show. Any
    divergence in LSO filtering, aborted-span indexing, marker
    placement, or recovery-abort ordering surfaces as a sequence
    mismatch."""
    import random
    import tempfile

    from flink_1_11_2_with_comments_spark.sources.kafka_net import (
        KafkaProtocolClient, StubKafkaBroker)
    from flink_1_11_2_with_comments_spark.sources.kafka_wire import (
        ATTR_TRANSACTIONAL, encode_record_batch)

    rng = random.Random(421)
    log_dir = tempfile.mkdtemp(prefix="kafka_txn_fuzz_")
    with StubKafkaBroker(log_dir) as broker:
        cli = KafkaProtocolClient(broker.host, broker.port)
        # three producers with overlapping transactions on one
        # partition; the model tracks per-txn pending rows
        state = {}          # txn_id -> (pid, epoch, [values])
        committed_model = []
        seq_no = 0
        for step in range(300):
            tid = f"p{rng.randrange(3)}"
            if tid not in state:
                pid, ep = cli.init_producer_id(tid)
                cli.add_partitions_to_txn(tid, pid, ep, "fz", [0])
                state[tid] = (pid, ep, [])
            pid, ep, pending = state[tid]
            act = rng.random()
            if act < 0.55:                        # produce one batch
                vals = [f"{tid}-{step}-{i}".encode()
                        for i in range(rng.randrange(1, 4))]
                batch = encode_record_batch(
                    0, [(1000 + step, None, v) for v in vals],
                    attributes=ATTR_TRANSACTIONAL, producer_id=pid,
                    producer_epoch=ep, base_sequence=seq_no)
                seq_no += len(vals)
                cli.produce("fz", 0, batch, transactional_id=tid)
                pending.extend(vals)
            elif act < 0.75:                      # commit
                cli.end_txn(tid, pid, ep, True)
                committed_model.extend(pending)
                del state[tid]
            elif act < 0.9:                       # abort
                cli.end_txn(tid, pid, ep, False)
                del state[tid]
            else:                                 # crash + re-init:
                del state[tid]                    # orphan gets
                pid2, ep2 = cli.init_producer_id(tid)   # broker-aborted
                assert ep2 == ep + 1
                cli.add_partitions_to_txn(tid, pid2, ep2, "fz", [0])
                state[tid] = (pid2, ep2, [])
        # close every open transaction so the LSO reaches the end
        for tid, (pid, ep, pending) in list(state.items()):
            cli.end_txn(tid, pid, ep, True)
            committed_model.extend(pending)

        # drain read_committed over the wire and compare sequences
        got, offset = [], 0
        while True:
            lso, nxt, recs = cli.fetch_committed("fz", 0, offset)
            got.extend(v for _o, _t, _k, v in recs)
            if nxt == offset or nxt >= lso:
                break
            offset = nxt
        cli.close()
    # same MULTISET and same per-producer ORDER as the model (global
    # order across producers depends on commit interleaving, but each
    # producer's committed rows must appear in produce order)
    assert sorted(got) == sorted(committed_model)
    for p in ("p0", "p1", "p2"):
        got_p = [v for v in got if v.startswith(p.encode())]
        model_p = [v for v in committed_model
                   if v.startswith(p.encode())]
        assert got_p == model_p


def test_kafka_txn_visibility_fuzz_multi_partition():
    """r12 verdict ask: the same seeded visibility model across TWO
    partitions. A transaction's batches interleave across partitions
    and its commit/abort markers land in EACH partition it touched —
    possibly in different fetch pages — while LSO gating and
    aborted-span indexing are strictly per-partition state. The
    cross-partition interactions the single-partition fuzz cannot
    see: a txn holding only p0 open must not gate p1's LSO, an abort
    must cancel the txn's spans on BOTH partitions, and a
    crash-reinit must orphan-abort everywhere the txn produced."""
    import random
    import tempfile

    from flink_1_11_2_with_comments_spark.sources.kafka_net import (
        KafkaProtocolClient, StubKafkaBroker)
    from flink_1_11_2_with_comments_spark.sources.kafka_wire import (
        ATTR_TRANSACTIONAL, encode_record_batch)

    rng = random.Random(1213)
    log_dir = tempfile.mkdtemp(prefix="kafka_txn_fuzz_mp_")
    with StubKafkaBroker(log_dir) as broker:
        cli = KafkaProtocolClient(broker.host, broker.port)
        # txn_id -> (pid, epoch, {part: [pending values]}, parts_added)
        state: dict = {}
        committed_model: dict[int, list[bytes]] = {0: [], 1: []}
        seq_no = 0
        for step in range(400):
            tid = f"p{rng.randrange(3)}"
            if tid not in state:
                pid, ep = cli.init_producer_id(tid)
                state[tid] = (pid, ep, {0: [], 1: []}, set())
            pid, ep, pending, parts = state[tid]
            act = rng.random()
            if act < 0.6:                         # produce one batch
                part = rng.randrange(2)
                if part not in parts:
                    cli.add_partitions_to_txn(tid, pid, ep, "fz",
                                              [part])
                    parts.add(part)
                vals = [f"{tid}-{step}-{i}".encode()
                        for i in range(rng.randrange(1, 4))]
                batch = encode_record_batch(
                    0, [(1000 + step, None, v) for v in vals],
                    attributes=ATTR_TRANSACTIONAL, producer_id=pid,
                    producer_epoch=ep, base_sequence=seq_no)
                seq_no += len(vals)
                cli.produce("fz", part, batch, transactional_id=tid)
                pending[part].extend(vals)
            elif act < 0.78:                      # commit both parts
                cli.end_txn(tid, pid, ep, True)
                for part in (0, 1):
                    committed_model[part].extend(pending[part])
                del state[tid]
            elif act < 0.92:                      # abort both parts
                cli.end_txn(tid, pid, ep, False)
                del state[tid]
            else:                                 # crash + re-init
                del state[tid]
                pid2, ep2 = cli.init_producer_id(tid)
                assert ep2 == ep + 1
                state[tid] = (pid2, ep2, {0: [], 1: []}, set())
        for tid, (pid, ep, pending, _parts) in list(state.items()):
            cli.end_txn(tid, pid, ep, True)
            for part in (0, 1):
                committed_model[part].extend(pending[part])

        for part in (0, 1):
            got, offset = [], 0
            while True:
                lso, nxt, recs = cli.fetch_committed("fz", part,
                                                     offset)
                got.extend(v for _o, _t, _k, v in recs)
                if nxt == offset or nxt >= lso:
                    break
                offset = nxt
            assert sorted(got) == sorted(committed_model[part])
            for p in ("p0", "p1", "p2"):
                got_p = [v for v in got if v.startswith(p.encode())]
                model_p = [v for v in committed_model[part]
                           if v.startswith(p.encode())]
                assert got_p == model_p
        cli.close()


def test_kafka_txn_idempotent_replay_layout_mismatch(spark, orders):
    """advisor r12: kafka_txn_write_idempotent keys replay dedup on
    the task index, so a replay materializing with a DIFFERENT
    partition count must fail LOUDLY (markers record the attempt's
    partition count) instead of silently duplicating or dropping —
    both when the replaying task finds its own marker (fewer parts)
    and when its partition is beyond the prior layout (more parts,
    detected via the canonical partition-0 marker)."""
    import tempfile

    from flink_1_11_2_with_comments_spark.sources.kafka_net import (
        StubKafkaBroker, kafka_txn_write_idempotent)

    src = (orders.limit(40)
           .select(F.unix_millis(F.col("o_orderdate").cast("timestamp"))
                   .alias("timestamp"),
                   F.encode(F.col("o_orderkey").cast("string"), "utf-8")
                   .alias("key"),
                   F.encode("o_orderpriority", "utf-8").alias("value")))
    log_dir = tempfile.mkdtemp(prefix="kafka_txn_layout_")
    with StubKafkaBroker(log_dir) as broker:
        n1 = kafka_txn_write_idempotent(
            src.repartition(2), broker.host, broker.port, "t",
            "sink-b7")
        assert n1 == 40
        # same layout replay: clean no-op
        assert kafka_txn_write_idempotent(
            src.repartition(2), broker.host, broker.port, "t",
            "sink-b7") == 0
        # replay with MORE partitions: tasks 2.. have no marker but
        # partition 0's records parts=2 — must refuse
        with pytest.raises(Exception, match="layout changed"):
            kafka_txn_write_idempotent(
                src.repartition(4), broker.host, broker.port, "t",
                "sink-b7")
        # replay with FEWER partitions: own marker records parts=2
        with pytest.raises(Exception, match="layout changed"):
            kafka_txn_write_idempotent(
                src.coalesce(1), broker.host, broker.port, "t",
                "sink-b7")


def test_kafka_list_offsets_and_startup_modes(spark):
    """ListOffsets v1 + the consumer startup modes it backs
    (FlinkKafkaConsumerBase.setStartFromEarliest/-Latest/-Timestamp,
    KafkaConsumer#offsetsForTimes): the earliest/latest sentinels,
    timestamp -> first offset with record ts >= t, the no-match
    contract (offset -1), and kafka_net_read slicing a topic by
    timestamp."""
    import tempfile

    from flink_1_11_2_with_comments_spark.sources.kafka_net import (
        TS_EARLIEST, TS_LATEST, KafkaProtocolClient, StubKafkaBroker,
        kafka_net_read)
    from flink_1_11_2_with_comments_spark.sources.kafka_wire import (
        encode_record_batch)

    log_dir = tempfile.mkdtemp(prefix="kafka_lo_")
    with StubKafkaBroker(log_dir) as broker:
        cli = KafkaProtocolClient(broker.host, broker.port)
        try:
            # 10 records, timestamps 1000, 1010, ..., 1090
            for i in range(0, 10, 2):
                cli.produce("t", 0, encode_record_batch(
                    0, [(1000 + 10 * i, f"k{i}".encode(), b"v"),
                        (1000 + 10 * (i + 1), f"k{i+1}".encode(),
                         b"v")]))
            assert cli.list_offsets("t", 0, TS_EARLIEST) == 0
            assert cli.list_offsets("t", 0, TS_LATEST) == 10
            assert cli.list_offsets("t", 0, 1000) == 0
            assert cli.list_offsets("t", 0, 1001) == 1
            assert cli.list_offsets("t", 0, 1050) == 5
            assert cli.list_offsets("t", 0, 1090) == 9
            assert cli.list_offsets("t", 0, 99999) == -1   # no match
            try:
                cli.list_offsets("missing", 0, TS_LATEST)
            except ValueError as e:
                assert "error 3" in str(e)
            else:
                raise AssertionError("expected UNKNOWN_TOPIC")
        finally:
            cli.close()

        by_ts = kafka_net_read(spark, broker.host, broker.port, "t",
                               start_from=1050).localCheckpoint(True)
        assert sorted(bytes(r.key) for r in by_ts.collect()) == \
            [f"k{i}".encode() for i in range(5, 10)]
        latest = kafka_net_read(spark, broker.host, broker.port, "t",
                                start_from="latest") \
            .localCheckpoint(True)
        assert latest.count() == 0
        past_end = kafka_net_read(spark, broker.host, broker.port,
                                  "t", start_from=99999) \
            .localCheckpoint(True)
        assert past_end.count() == 0


def test_avro_confluent_registry_wire_format(spark, orders):
    """The Confluent registry Avro wire format
    (flink-avro-confluent-registry: ConfluentSchemaRegistryCoder —
    magic 0x00 + 4-byte BE schema id + Avro binary) against the
    in-process REST registry: framing pinned byte-level, identical
    schemas deduplicate to one global id, evolution (old- and
    new-schema messages interleaved in one topic) decodes each
    message with its own writer schema, and unknown ids fail
    loudly."""
    import struct as _struct

    from flink_1_11_2_with_comments_spark.sources.avro_py import (
        avro_schema_for)
    from flink_1_11_2_with_comments_spark.sources.avro_registry import (
        SchemaRegistryClient, StubSchemaRegistry,
        avro_registry_frame, avro_registry_unframe,
        encode_registry_record)
    from pyspark.sql import types as T

    with StubSchemaRegistry() as reg:
        cli = SchemaRegistryClient(reg.url)
        s1 = {"type": "record", "name": "r",
              "fields": [{"name": "a", "type": "long"}]}
        id1 = cli.register("t-value", s1)
        assert cli.register("t-value", s1) == id1      # dedup
        s2 = {"type": "record", "name": "r",
              "fields": [{"name": "a", "type": "long"},
                         {"name": "b", "type": ["null", "string"]}]}
        id2 = cli.register("t-value", s2)
        assert id2 != id1
        assert cli.get_by_id(id1) == s1
        assert cli.latest("t-value")[0] == id2
        # framing: magic 0, big-endian id, then avro body
        raw = encode_registry_record([7], s1, id1)
        assert raw[0] == 0 and _struct.unpack(">I", raw[1:5])[0] == id1
        assert raw[5:] == b"\x0e"                      # zigzag(7)
        try:
            cli.get_by_id(99999)
        except Exception:
            pass
        else:
            raise AssertionError("unknown schema id must fail")

        # Spark path with schema EVOLUTION inside one topic
        old = (orders.limit(40)
               .select(F.col("o_orderkey").alias("k")))
        new = (orders.limit(80).where(F.col("o_orderkey") % 2 == 0)
               .select(F.col("o_orderkey").alias("k"),
                       F.col("o_orderpriority").alias("p")))
        framed = (avro_registry_frame(old, reg.url, "evo-value")
                  .unionAll(avro_registry_frame(new, reg.url,
                                                "evo-value")))
        target = T.StructType([
            T.StructField("k", T.LongType()),
            T.StructField("p", T.StringType())])
        back = avro_registry_unframe(framed, reg.url, target) \
            .localCheckpoint(eager=True)
        rows = back.collect()
        assert len(rows) == 40 + new.count()
        assert {r.p for r in rows if r.p is not None} \
            == {r.o_orderpriority for r in
                orders.limit(80).where(F.col("o_orderkey") % 2 == 0)
                .collect()}
        assert sum(r.p is None for r in rows) == 40    # old-schema msgs
        # avro schema derivation matches the registered subject
        assert avro_schema_for(old.schema)["fields"][0]["name"] == "k"


def test_pubsub_rest_roundtrip_and_lease_semantics(spark):
    """GCP Pub/Sub over its REST protocol (flink-connector-gcp-pubsub:
    PubSubSource's parallel same-subscription pull with deferred
    acks, PubSubSink's per-subtask publish): fan-out to two
    subscriptions, parallel drain with ack-after-materialize,
    at-least-once redelivery when acks are withheld, and lease
    expiry returning messages to the queue."""
    from flink_1_11_2_with_comments_spark.sources.pubsub_rest import (
        PubSubClient, StubPubSubServer, pubsub_read, pubsub_write)

    payloads = [f"m-{i}".encode() for i in range(120)]
    src = spark.createDataFrame([(p,) for p in payloads],
                                "value binary").repartition(3)
    with StubPubSubServer({"events": ["s1", "s2"]},
                          ack_deadline_s=0.4) as srv:
        assert pubsub_write(src, srv.endpoint, srv.project,
                            "events", batch_size=32) == 120
        # parallel pull + ack: every message exactly once
        got = pubsub_read(spark, srv.endpoint, srv.project, "s1")
        vals = sorted(bytes(r.data) for r in got.collect())
        assert vals == sorted(payloads)
        # acked: the subscription is drained for good
        c = PubSubClient(srv.endpoint, srv.project)
        assert c.pull("s1") == []
        # fan-out: the second subscription still holds every message
        # ... read WITHOUT acking -> messages redeliver after the
        # lease deadline (at-least-once)
        got2 = pubsub_read(spark, srv.endpoint, srv.project, "s2",
                           ack=False)
        assert got2.count() == 120
        import time as _time
        _time.sleep(0.5)                  # past the ack deadline
        redelivered = pubsub_read(spark, srv.endpoint, srv.project,
                                  "s2")
        assert sorted(bytes(r.data) for r in redelivered.collect()) \
            == sorted(payloads)
        assert c.pull("s2") == []

    # the remaining flink-connectors stay honestly gated
    from flink_1_11_2_with_comments_spark.sources.pubsub_rest import (
        nifi_source, twitter_source)
    for gated in (nifi_source, twitter_source):
        try:
            gated()
        except NotImplementedError as e:
            assert "connector" in str(e) or "API" in str(e)
        else:
            raise AssertionError("gate must raise")


def test_kafka_read_committed_from_mid_log_offset():
    """A read_committed fetch from a NON-ZERO offset must still see
    committed batches even when an earlier ABORTED transaction's
    span (data + marker) lies entirely below the requested offset:
    the broker must serve only aborted-span index entries that
    OVERLAP the fetched range (the real .txnindex behavior) — a
    stale entry with its cancelling marker below the fetch offset
    would leave the consumer's aborted-producer set stuck and
    silently drop every later committed batch."""
    import tempfile

    from flink_1_11_2_with_comments_spark.sources.kafka_net import (
        KafkaProtocolClient, StubKafkaBroker)
    from flink_1_11_2_with_comments_spark.sources.kafka_wire import (
        ATTR_TRANSACTIONAL, encode_record_batch)

    def txn_batch(pid, ep, seq, recs):
        return encode_record_batch(
            0, recs, attributes=ATTR_TRANSACTIONAL, producer_id=pid,
            producer_epoch=ep, base_sequence=seq)

    log_dir = tempfile.mkdtemp(prefix="kafka_midlog_")
    with StubKafkaBroker(log_dir) as broker:
        cli = KafkaProtocolClient(broker.host, broker.port)
        try:
            # SAME producer: abort txn1 (offsets 0-1, marker at 2),
            # then commit txn2 (offsets 3-4, marker at 5)
            pid, ep = cli.init_producer_id("p")
            cli.add_partitions_to_txn("p", pid, ep, "t", [0])
            cli.produce("t", 0, txn_batch(pid, ep, 0,
                                          [(1000, b"a1", b"x"),
                                           (1001, b"a2", b"x")]),
                        transactional_id="p")
            cli.end_txn("p", pid, ep, False)
            pid, ep = cli.init_producer_id("p")
            cli.add_partitions_to_txn("p", pid, ep, "t", [0])
            cli.produce("t", 0, txn_batch(pid, ep, 0,
                                          [(1002, b"c1", b"y"),
                                           (1003, b"c2", b"y")]),
                        transactional_id="p")
            cli.end_txn("p", pid, ep, True)

            # full read: committed only
            _lso, _n, recs = cli.fetch_committed("t", 0, 0)
            assert [k for _o, _t2, k, _v in recs] == [b"c1", b"c2"]
            # THE regression: fetch from offset 3 (past the aborted
            # span AND its marker) must still see c1/c2
            _lso, _n, recs = cli.fetch_committed("t", 0, 3)
            assert [k for _o, _t2, k, _v in recs] == [b"c1", b"c2"]
            # from offset 1: aborted data still filtered, committed
            # data still served (the span overlaps, marker at 2)
            _lso, _n, recs = cli.fetch_committed("t", 0, 1)
            assert [k for _o, _t2, k, _v in recs] == [b"c1", b"c2"]
        finally:
            cli.close()


def test_kafka_marker_scan_paginates_and_layout_check():
    """Regression for the r13 advisor findings: (1) the marker-scan
    drain loop must ADVANCE its fetch offset when one page does not
    cover the whole marker partition (the refactor once dropped
    `off = nxt`, refetching page 0 forever and duplicating records);
    (2) legacy scalar marker payloads (pre-layout-check b"42") must
    raise the explicit layout error, not AttributeError."""
    from flink_1_11_2_with_comments_spark.sources.kafka_net import (
        _check_marker_layout, _scan_marker_partition)

    class PagingClient:
        """fetch_committed stub serving a 5-record log in 2-record
        pages: (lso, next_offset, records)."""
        def __init__(self):
            self.log = [(i, 0, b"k%d" % i, b"v%d" % i)
                        for i in range(5)]
            self.calls = 0

        def fetch_committed(self, topic, part, off):
            self.calls += 1
            assert self.calls <= 10, "drain loop did not advance"
            page = self.log[off:off + 2]
            nxt = off + len(page)
            return len(self.log), nxt, page

    c = PagingClient()
    recs = _scan_marker_partition(c, "t__markers", 0)
    assert [k for _o, _t, k, _v in recs] == [b"k0", b"k1", b"k2",
                                             b"k3", b"k4"]
    assert c.calls == 3  # 2+2+1, each page fetched exactly once

    class EmptyClient:
        def fetch_committed(self, topic, part, off):
            raise ValueError(f"fetch error 3 (UNKNOWN_TOPIC)")

    assert _scan_marker_partition(EmptyClient(), "t__markers", 0) == []

    import json as _json
    import pytest as _pytest
    _check_marker_layout(_json.dumps({"rows": 9, "parts": 4}).encode(), 4)
    with _pytest.raises(RuntimeError, match="layout changed"):
        _check_marker_layout(
            _json.dumps({"rows": 9, "parts": 2}).encode(), 4)
    with _pytest.raises(RuntimeError, match="legacy scalar"):
        _check_marker_layout(b"42", 4)
