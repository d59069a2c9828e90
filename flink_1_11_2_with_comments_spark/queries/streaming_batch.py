"""Batch-expressible streaming semantics — SURVEY §2.4/§2.9 windows.

Flink's TUMBLE/HOP/SESSION group windows evaluated over the events
table in batch mode. These exercise the exact same Catalyst
TimeWindow/SessionWindow expressions the streaming queries use (the
assigner logic is identical; only state management differs), so the
DuckDB oracle checks the window semantics themselves. The streaming
execution path is covered by tests/test_streaming.py.

Reference: rt/window/assigners/{Tumbling,Sliding,Session}WindowAssigner
.java; StreamExecGroupWindowAggregate.scala:33; window auxiliaries
TUMBLE_START/TUMBLE_END FlinkSqlOperatorTable.java:778-810.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import register
from ._util import dsum, sql_dsum, t
from ..streaming.windows import hop, session, tumble, window_bounds


@register(
    "window_tumble_agg",
    f"""
    SELECT make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) * 1000000)
             AS window_start,
           make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 + 3600 AS BIGINT) * 1000000)
             AS window_end,
           event_type,
           COUNT(*) AS n, {sql_dsum('value')} AS total
    FROM events
    GROUP BY 1, 2, 3
    """,
    doc="TUMBLE(ts, 1 hour) group-window aggregate + TUMBLE_START/END — "
        "TumblingWindowAssigner; oracle recomputes the bucket arithmetic "
        "independently.",
)
def window_tumble_agg(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    return (e.groupBy(tumble("ts", "1 hour"), "event_type")
            .agg(F.count("*").alias("n"), dsum("value").alias("total"))
            .select(*window_bounds(), "event_type", "n", "total"))


@register(
    "window_hop_agg",
    f"""
    WITH hopped AS (
      SELECT make_timestamp(CAST((floor(epoch(ts) / 1800) - j) * 1800 AS BIGINT) * 1000000)
               AS window_start,
             value
      FROM events CROSS JOIN (VALUES (0), (1)) offsets(j)
    )
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           COUNT(*) AS n, {sql_dsum('value')} AS total
    FROM hopped
    GROUP BY 1, 2
    """,
    doc="HOP(ts, slide 30 min, size 1 hour): every event lands in "
        "size/slide = 2 windows — SlidingWindowAssigner. Oracle replays the "
        "assignment via an explicit 2-way expansion (what Catalyst's window "
        "expression does internally via Expand).",
)
def window_hop_agg(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    return (e.groupBy(hop("ts", "1 hour", "30 minutes"))
            .agg(F.count("*").alias("n"), dsum("value").alias("total"))
            .select(*window_bounds(), "n", "total"))


@register(
    "window_session_agg",
    f"""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       <= INTERVAL 10 MINUTE
                  THEN 0 ELSE 1 END AS new_session
      FROM events
    ), numbered AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 10 MINUTE AS session_end,
           COUNT(*) AS n, {sql_dsum('value')} AS total
    FROM numbered
    GROUP BY user_id, sid
    """,
    doc="SESSION(ts, gap 10 min) per user — SessionWindowAssigner / merging "
        "windows. Oracle derives sessions via the classic lag+cumsum "
        "sessionization, independently of Spark's session_window merge.",
)
def window_session_agg(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    return (e.groupBy(session("ts", "10 minutes"), "user_id")
            .agg(F.count("*").alias("n"), dsum("value").alias("total"))
            .select("user_id",
                    F.col("session_window.start").alias("session_start"),
                    F.col("session_window.end").alias("session_end"),
                    "n", "total"))


@register(
    "window_tumble_join",
    """
    WITH a AS (
      SELECT make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) * 1000000) AS w,
             COUNT(*) AS clicks
      FROM events WHERE event_type = 'click' GROUP BY 1
    ), b AS (
      SELECT make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) * 1000000) AS w,
             COUNT(*) AS purchases
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT a.w AS window_start, clicks, purchases
    FROM a JOIN b ON a.w = b.w
    """,
    doc="Window join: two streams joined on the same window — "
        "JoinedStreams.java:63 / window coGroup; expressed as equi-join of "
        "two windowed aggregates (the Spark-supported streaming shape).",
)
def window_tumble_join(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    clicks = (e.where(F.col("event_type") == "click")
              .groupBy(tumble("ts", "1 hour").alias("window"))
              .agg(F.count("*").alias("clicks"))
              .select(F.col("window.start").alias("w"), "clicks"))
    purchases = (e.where(F.col("event_type") == "purchase")
                 .groupBy(tumble("ts", "1 hour").alias("window"))
                 .agg(F.count("*").alias("purchases"))
                 .select(F.col("window.start").alias("w2"), "purchases"))
    return (clicks.join(purchases, clicks.w == purchases.w2)
            .select(F.col("w").alias("window_start"), "clicks", "purchases"))


@register(
    "interval_join_batch",
    """
    SELECT a.event_id AS click_id, b.event_id AS purchase_id,
           a.ts AS click_ts, b.ts AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    """,
    doc="Interval join (batch shape): purchase within 30 min after click, "
        "same user — StreamExecIntervalJoin.scala:54 / RowTimeIntervalJoin. "
        "Streaming execution of the identical plan: tests/test_streaming.py.",
)
def interval_join_batch(spark, sf_dir):
    from ..streaming.joins import interval_join
    e = t(spark, sf_dir, "events")
    clicks = (e.where(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"),
                      F.col("user_id"), F.col("ts").alias("click_ts")))
    purchases = (e.where(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"),
                         F.col("user_id").alias("p_user_id"),
                         F.col("ts").alias("purchase_ts")))
    joined = interval_join(
        clicks, purchases,
        on=clicks.user_id == purchases.p_user_id,
        left_ts="click_ts", right_ts="purchase_ts",
        lower="0 seconds", upper="30 minutes")
    return joined.select("click_id", "purchase_id", "click_ts", "purchase_ts")


@register(
    "asof_join_batch",
    """
    SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
           p.value AS last_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND p.ts <= c.ts
    """,
    doc="Temporal/as-of join (event time): newest purchase version at or "
        "before each click — StreamExecTemporalJoin.scala:51 / "
        "TemporalRowTimeJoinOperator.java:72. Spark impl: union + "
        "last_value(ignorenulls) running window (one shuffle, no row "
        "explosion — streaming/asof.py). Oracle: DuckDB's native ASOF JOIN.",
)
def asof_join_batch(spark, sf_dir):
    from ..streaming.asof import asof_join
    e = t(spark, sf_dir, "events")
    clicks = (e.where(F.col("event_type") == "click")
              .select("user_id", F.col("ts").alias("click_ts"),
                      F.col("event_id").alias("click_id")))
    purchases = (e.where(F.col("event_type") == "purchase")
                 .select("user_id", F.col("ts").alias("p_ts"),
                         F.col("value").alias("last_purchase_value")))
    return asof_join(clicks, purchases, on=["user_id"],
                     left_ts="click_ts", right_ts="p_ts",
                     right_payload=["last_purchase_value"]) \
        .select("click_id", "user_id", "click_ts", "last_purchase_value")


@register(
    "cep_funnel",
    """
    SELECT v.user_id,
           v.event_id AS view_id, c.event_id AS click_id,
           p.event_id AS purchase_id,
           v.ts AS start_ts, p.ts AS end_ts
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON v.user_id = c.user_id
     AND (c.ts > v.ts OR (c.ts = v.ts AND c.event_id > v.event_id))
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND (p.ts > c.ts OR (p.ts = c.ts AND p.event_id > c.event_id))
     AND p.ts <= v.ts + INTERVAL 6 HOUR
    """,
    doc="CEP / MATCH_RECOGNIZE: view followedBy click followedBy purchase "
        "within 6 h, all-matches semantics — flink-cep Pattern.java:50 "
        "begin/followedBy/within; StreamExecMatch.scala:68. Spark impl: NFA "
        "over per-key ordered events (streaming/cep.py); oracle: the "
        "equivalent relational triple join.",
)
def cep_funnel(spark, sf_dir):
    from ..streaming.cep import QStep, match_pattern_batch
    e = t(spark, sf_dir, "events")
    sub = e.where(F.col("event_type").isin("view", "click", "purchase")) \
        .select("user_id", "event_id", "ts", "event_type")
    names = ("view", "click", "purchase")
    # single-event relaxed steps under NO_SKIP: every combination
    steps = [QStep(v, lambda ev, v=v: ev["event_type"] == v)
             for v in names]
    out = match_pattern_batch(
        sub, ["user_id"], "ts", steps, within="6 hours",
        after_match="all",
        flag_exprs=[F.col("event_type") == v for v in names])
    return out.select("user_id",
                      *[F.col(f"{v}_first_id").alias(f"{v}_id")
                        for v in names],
                      "start_ts", "end_ts")


@register(
    "count_window_batch",
    f"""
    WITH numbered AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) - 1 AS rn
      FROM events
    )
    SELECT user_id, rn // 5 AS window_seq,
           COUNT(*) AS n, {sql_dsum('value')} AS total,
           MIN(value) AS vmin, MAX(value) AS vmax
    FROM numbered
    GROUP BY user_id, rn // 5
    HAVING COUNT(*) = 5
    """,
    doc="Count window (batch analogue, event-time order): every 5 events per "
        "user — KeyedStream.countWindow (KeyedStream.java:589), "
        "CountTumblingWindowAssigner. Streaming arrival-order impl: "
        "streaming/count_window.py (tests/test_stateful.py).",
)
def count_window_batch(spark, sf_dir):
    from pyspark.sql import Window as W
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (e.withColumn("rn", F.row_number().over(w) - 1)
            .withColumn("window_seq", (F.col("rn") / 5).cast("bigint"))
            .groupBy("user_id", "window_seq")
            .agg(F.count("*").alias("n"), dsum("value").alias("total"),
                 F.min("value").alias("vmin"), F.max("value").alias("vmax"))
            .where(F.col("n") == 5))


_EVICT_W = """
    WITH w AS (
      SELECT user_id, event_id, ts, value,
             make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) * 1000000)
               AS window_start
      FROM events
    )
"""


@register(
    "evictor_count_window",
    _EVICT_W + f"""
    , r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, window_start
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM w
    )
    SELECT user_id, window_start, COUNT(*) AS n_kept,
           {sql_dsum('value')} AS total
    FROM r WHERE rn <= 3 GROUP BY 1, 2
    """,
    doc="CountEvictor(3) on TUMBLE(ts, 1h): keep only the last 3 elements "
        "(event-time order) per window before aggregating — "
        "windowing/evictors/CountEvictor.java; evict-before-apply "
        "WindowOperator.java:317 (streaming/evictors.py count_evictor_agg; "
        "streaming execution: tests/test_stateful.py).",
)
def evictor_count_window(spark, sf_dir):
    from ..streaming.evictors import count_evictor_agg
    e = t(spark, sf_dir, "events")
    return count_evictor_agg(e, ["user_id"], "ts", "value", "1 hour", 3)


@register(
    "evictor_time_window",
    _EVICT_W + f"""
    , m AS (
      SELECT *, MAX(ts) OVER (PARTITION BY user_id, window_start) AS mx
      FROM w
    )
    SELECT user_id, window_start, COUNT(*) AS n_kept,
           {sql_dsum('value')} AS total
    FROM m WHERE ts > mx - INTERVAL 20 MINUTE GROUP BY 1, 2
    """,
    doc="TimeEvictor(20 min) on TUMBLE(ts, 1h): evict elements older than "
        "max-element-ts − 20min at fire time — "
        "windowing/evictors/TimeEvictor.java (streaming/evictors.py "
        "time_evictor_agg).",
)
def evictor_time_window(spark, sf_dir):
    from ..streaming.evictors import time_evictor_agg
    e = t(spark, sf_dir, "events")
    return time_evictor_agg(e, ["user_id"], "ts", "value", "1 hour",
                            "20 minutes")


@register(
    "evictor_delta_window",
    _EVICT_W + f"""
    , l AS (
      SELECT *, LAST_VALUE(value) OVER (
                  PARTITION BY user_id, window_start
                  ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING
                           AND UNBOUNDED FOLLOWING) AS lastv
      FROM w
    )
    SELECT user_id, window_start, COUNT(*) AS n_kept,
           {sql_dsum('value')} AS total
    FROM l WHERE abs(value - lastv) < 8.0 GROUP BY 1, 2
    """,
    doc="DeltaEvictor(8.0, |v - v_last|) on TUMBLE(ts, 1h): evict elements "
        "whose delta against the window's last element exceeds the "
        "threshold — windowing/evictors/DeltaEvictor.java "
        "(streaming/evictors.py delta_evictor_agg).",
)
def evictor_delta_window(spark, sf_dir):
    from ..streaming.evictors import delta_evictor_agg
    e = t(spark, sf_dir, "events")
    return delta_evictor_agg(e, ["user_id"], "ts", "value", "1 hour", 8.0)


@register(
    "cep_quantified",
    """
    WITH s AS (
      SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), clicks AS (
      SELECT user_id, event_id, ts, rn,
             rn - ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY rn) AS grp
      FROM s WHERE event_type = 'click'
    ), runs AS (
      SELECT user_id, grp, MIN(rn) AS first_rn, MAX(rn) AS last_rn,
             COUNT(*) AS n_clicks,
             MIN(event_id) AS b_first_id, MAX(event_id) AS b_last_id
      FROM clicks GROUP BY 1, 2
    )
    SELECT r.user_id,
           v.event_id AS view_id, r.b_first_id AS click_first_id,
           r.b_last_id AS click_last_id, r.n_clicks,
           p.event_id AS purchase_id,
           v.ts AS start_ts, p.ts AS end_ts
    FROM runs r
    JOIN s v ON v.user_id = r.user_id AND v.rn = r.first_rn - 1
            AND v.event_type = 'view'
    JOIN s p ON p.user_id = r.user_id AND p.rn = r.last_rn + 1
            AND p.event_type = 'purchase'
    """,
    doc="Quantified CEP: view NEXT click+ (greedy, consecutive) NEXT "
        "purchase, SKIP_PAST_LAST_EVENT — Pattern.java:352 oneOrMore + "
        ":156 next + AfterMatchSkipStrategy. NFA with quantifier support "
        "(streaming/cep.py QStep/match_pattern_batch); oracle: "
        "gaps-and-islands run detection (maximal click runs bracketed by "
        "an adjacent view and purchase). event_id in oracle uses MIN/MAX "
        "per run = first/last because event ids are time-ordered.",
)
def cep_quantified(spark, sf_dir):
    from ..streaming.cep import QStep, match_pattern_batch
    # project to the NFA-referenced columns: halves the Arrow transfer
    e = t(spark, sf_dir, "events") \
        .select("user_id", "event_id", "ts", "event_type")
    steps = [
        QStep("a", lambda ev: ev["event_type"] == "view"),
        QStep("b", lambda ev: ev["event_type"] == "click",
              min_times=1, max_times=None, contiguity="strict",
              greedy=True),
        QStep("c", lambda ev: ev["event_type"] == "purchase",
              contiguity="strict"),
    ]
    out = match_pattern_batch(
        e, ["user_id"], "ts", steps, after_match="skip_past_last",
        flag_exprs=[F.col("event_type") == v
                    for v in ("view", "click", "purchase")])
    return out.select(
        "user_id", F.col("a_first_id").alias("view_id"),
        F.col("b_first_id").alias("click_first_id"),
        F.col("b_last_id").alias("click_last_id"),
        F.col("b_n").alias("n_clicks"),
        F.col("c_first_id").alias("purchase_id"),
        "start_ts", "end_ts")


@register(
    "match_recognize_sql",
    """
    WITH s AS (
      SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), clicks AS (
      SELECT user_id, event_id, rn,
             rn - ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY rn) AS grp
      FROM s WHERE event_type = 'click'
    ), runs AS (
      SELECT user_id, grp, MIN(rn) AS first_rn, MAX(rn) AS last_rn,
             COUNT(*) AS n_clicks,
             MIN(event_id) AS b_first_id, MAX(event_id) AS b_last_id
      FROM clicks GROUP BY 1, 2
    )
    SELECT r.user_id,
           v.event_id AS view_id, r.b_first_id AS click_first_id,
           r.b_last_id AS click_last_id, r.n_clicks,
           p.event_id AS purchase_id
    FROM runs r
    JOIN s v ON v.user_id = r.user_id AND v.rn = r.first_rn - 1
            AND v.event_type = 'view'
    JOIN s p ON p.user_id = r.user_id AND p.rn = r.last_rn + 1
            AND p.event_type = 'purchase'
    """,
    doc="SQL MATCH_RECOGNIZE surface (StreamExecMatch.scala:68; "
        "SqlMatchRecognize parser): PATTERN (A B+ C) with FIRST/LAST/"
        "COUNT measures and SKIP PAST LAST ROW, parsed by "
        "plans/match_recognize.py into the quantified-CEP NFA. Oracle: "
        "gaps-and-islands maximal click runs bracketed by adjacent "
        "view/purchase (same derivation as cep_quantified).",
)
def match_recognize_sql(spark, sf_dir):
    from ..catalog import TableEnvironment
    env = TableEnvironment(spark, sf_dir)
    return env.sql_query("""
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES FIRST(A.event_id) AS view_id,
                   FIRST(B.event_id) AS click_first_id,
                   LAST(B.event_id) AS click_last_id,
                   COUNT(B.*) AS n_clicks,
                   C.event_id AS purchase_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B+ C)
          DEFINE A AS A.event_type = 'view',
                 B AS B.event_type = 'click',
                 C AS C.event_type = 'purchase'
        )""")


@register(
    "match_recognize_all_rows",
    """
    WITH s AS (
      SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), clicks AS (
      SELECT user_id, event_id, ts, rn,
             rn - ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY rn) AS grp
      FROM s WHERE event_type = 'click'
    ), runs AS (
      SELECT user_id, grp, MIN(rn) AS first_rn, MAX(rn) AS last_rn,
             COUNT(*) AS n_clicks
      FROM clicks GROUP BY 1, 2
    ), matches AS (
      SELECT r.user_id, r.grp, r.first_rn, r.last_rn, r.n_clicks,
             v.event_id AS view_id, v.ts AS view_ts,
             lc.event_id AS last_click_id,
             ROW_NUMBER() OVER (PARTITION BY r.user_id
                                ORDER BY v.rn) AS mno
      FROM runs r
      JOIN s v ON v.user_id = r.user_id AND v.rn = r.first_rn - 1
              AND v.event_type = 'view'
      JOIN s lc ON lc.user_id = r.user_id AND lc.rn = r.last_rn
    )
    SELECT m.user_id, m.view_ts AS ts, m.view_id AS event_id, m.mno,
           'A' AS var, CAST(0 AS BIGINT) AS clicks_so_far,
           m.n_clicks AS clicks_total, m.last_click_id,
           CAST(1 AS BIGINT) AS rows_so_far
    FROM matches m
    UNION ALL
    SELECT m.user_id, c.ts, c.event_id, m.mno,
           'B', c.rn - m.first_rn + 1, m.n_clicks, m.last_click_id,
           c.rn - m.first_rn + 2
    FROM matches m
    JOIN clicks c ON c.user_id = m.user_id AND c.grp = m.grp
    """,
    doc="MATCH_RECOGNIZE ALL ROWS PER MATCH with RUNNING vs FINAL "
        "measures, MATCH_NUMBER() and CLASSIFIER() "
        "(SqlMatchRecognize.java RUNNING/FINAL; runtime rt/match/): "
        "the NFA emits one row per matched event and evaluates every "
        "measure over its RUNNING or FINAL frame as it emits "
        "(cep.match_pattern_batch emit='rows', the evaluator the "
        "stream shares), so no window runs over (partition, match_seq). "
        "Oracle: gaps-and-islands maximal click runs preceded by an "
        "adjacent view, exploded to per-event rows with running "
        "positions derived from rn offsets.",
)
def match_recognize_all_rows(spark, sf_dir):
    from ..catalog import TableEnvironment
    env = TableEnvironment(spark, sf_dir)
    return env.sql_query("""
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES MATCH_NUMBER() AS mno,
                   CLASSIFIER() AS var,
                   RUNNING COUNT(B.*) AS clicks_so_far,
                   FINAL COUNT(B.*) AS clicks_total,
                   FINAL LAST(B.event_id) AS last_click_id,
                   COUNT(*) AS rows_so_far
          ALL ROWS PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B+)
          DEFINE A AS A.event_type = 'view',
                 B AS B.event_type = 'click'
        )""")


@register(
    "match_recognize_permute",
    """
    WITH s AS (
      SELECT user_id, event_id, ts, event_type,
             LEAD(event_type) OVER w AS next_type,
             LEAD(event_id) OVER w AS next_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CASE WHEN event_type = 'click' THEN event_id ELSE next_id END
             AS click_id,
           CASE WHEN event_type = 'view' THEN event_id ELSE next_id END
             AS view_id
    FROM s
    WHERE (event_type = 'click' AND next_type = 'view')
       OR (event_type = 'view' AND next_type = 'click')
    """,
    doc="MATCH_RECOGNIZE PATTERN (PERMUTE(A, B)): adjacent click/view "
        "pair in either order (SqlMatchRecognize PERMUTE → alternation "
        "of permutations, plans/match_recognize.py). AFTER MATCH SKIP "
        "TO NEXT ROW emits one match per qualifying start row, so the "
        "oracle is the LEAD-pair formulation with no non-overlap "
        "recursion.",
)
def match_recognize_permute(spark, sf_dir):
    from ..catalog import TableEnvironment
    env = TableEnvironment(spark, sf_dir)
    return env.sql_query("""
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES A.event_id AS click_id,
                   B.event_id AS view_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (PERMUTE(A, B))
          DEFINE A AS A.event_type = 'click',
                 B AS B.event_type = 'view'
        )""")


@register(
    "match_recognize_exclusion",
    """
    WITH s AS (
      SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), marked AS (
      SELECT *,
             MAX(CASE WHEN event_type = 'click' THEN rn END) OVER w
               AS last_click_rn,
             MAX(CASE WHEN event_type = 'purchase' THEN rn END) OVER w
               AS last_purchase_rn
      FROM s
      WINDOW w AS (PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), m AS (
      SELECT user_id, event_id AS p_id, ts AS p_ts, rn AS prn,
             last_click_rn AS crn
      FROM marked
      WHERE event_type = 'purchase'
        AND last_click_rn IS NOT NULL
        AND rn - last_click_rn >= 2
        AND (last_purchase_rn IS NULL
             OR last_purchase_rn < last_click_rn)
    ), numbered AS (
      SELECT m.*, c.event_id AS c_id, c.ts AS c_ts,
             ROW_NUMBER() OVER (PARTITION BY m.user_id
                                ORDER BY m.crn) AS mno
      FROM m JOIN s c ON c.user_id = m.user_id AND c.rn = m.crn
    )
    SELECT user_id, c_ts AS ts, c_id AS event_id, mno,
           'A' AS var, CAST(prn - crn - 1 AS BIGINT) AS gap_rows
    FROM numbered
    UNION ALL
    SELECT user_id, p_ts, p_id, mno, 'C',
           CAST(prn - crn - 1 AS BIGINT)
    FROM numbered
    """,
    doc="MATCH_RECOGNIZE pattern exclusion {- B+ -} with ALL ROWS PER "
        "MATCH: click, a run of excluded in-between rows (neither click "
        "nor purchase), then purchase — B rows match and feed FINAL "
        "COUNT(B.*), but are omitted from the output "
        "(SqlMatchRecognize exclusion syntax; plans/match_recognize.py "
        "filters classifier rows after the NFA has evaluated the "
        "measures). Oracle: "
        "each purchase pairs with the last click before it when the gap "
        "is non-empty and purchase-free; emits the A and C rows only.",
)
def match_recognize_exclusion(spark, sf_dir):
    from ..catalog import TableEnvironment
    env = TableEnvironment(spark, sf_dir)
    return env.sql_query("""
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES MATCH_NUMBER() AS mno,
                   CLASSIFIER() AS var,
                   FINAL COUNT(B.*) AS gap_rows
          ALL ROWS PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A {- B+ -} C)
          DEFINE A AS A.event_type = 'click',
                 B AS B.event_type <> 'click' AND B.event_type <> 'purchase',
                 C AS C.event_type = 'purchase'
        )""")


@register(
    "match_recognize_prev",
    """
    WITH s AS (
      SELECT user_id, event_id, ts, value,
             ROW_NUMBER() OVER w AS rn,
             CASE WHEN value > LAG(value) OVER w THEN 0 ELSE 1 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), g AS (
      SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY rn) AS grp
      FROM s
    ), runs AS (
      SELECT user_id, grp, MIN(rn) AS first_rn, MAX(rn) AS last_rn,
             COUNT(*) AS len
      FROM g GROUP BY 1, 2
    )
    SELECT r.user_id, fs.event_id AS start_id, ls.event_id AS end_id,
           CAST(r.len - 1 AS BIGINT) AS n_up
    FROM runs r
    JOIN g fs ON fs.user_id = r.user_id AND fs.rn = r.first_rn
    JOIN g ls ON ls.user_id = r.user_id AND ls.rn = r.last_rn
    WHERE r.len >= 2
    """,
    doc="Iterative DEFINE condition B.value > PREV(B.value) — maximal "
        "strictly-ascending value runs per user (the canonical "
        "MATCH_RECOGNIZE example). PREV compiles to LAG over "
        "(partition, order) so the flag stays JVM-side "
        "(plans/match_recognize._parse_flag_expr). Oracle: "
        "gaps-and-islands ascending-run detection, runs of length >= 2.",
)
def match_recognize_prev(spark, sf_dir):
    from ..catalog import TableEnvironment
    env = TableEnvironment(spark, sf_dir)
    return env.sql_query("""
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES FIRST(A.event_id) AS start_id,
                   LAST(B.event_id) AS end_id,
                   COUNT(B.*) AS n_up
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B+)
          DEFINE A AS TRUE,
                 B AS B.value > PREV(B.value)
        )""")


@register(
    "match_recognize_star",
    """
    WITH s AS (
      SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), clicks AS (
      SELECT user_id, event_id, rn,
             rn - ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY rn) AS grp
      FROM s WHERE event_type = 'click'
    ), runs AS (
      SELECT user_id, grp, MIN(rn) AS first_rn, COUNT(*) AS n,
             MIN(event_id) AS b_first, MAX(event_id) AS b_last
      FROM clicks GROUP BY 1, 2
    )
    SELECT v.user_id, v.event_id AS view_id,
           CAST(COALESCE(r.n, 0) AS BIGINT) AS n_clicks,
           r.b_first AS click_first_id, r.b_last AS click_last_id,
           p.event_id AS purchase_id
    FROM s v
    LEFT JOIN runs r ON r.user_id = v.user_id AND r.first_rn = v.rn + 1
    JOIN s p ON p.user_id = v.user_id
            AND p.rn = v.rn + CAST(COALESCE(r.n, 0) AS BIGINT) + 1
            AND p.event_type = 'purchase'
    WHERE v.event_type = 'view'
    """,
    doc="MATCH_RECOGNIZE `*` quantifier — PATTERN (A B* C): view, ZERO "
        "or more consecutive clicks, purchase; a direct view→purchase "
        "conversion matches with COUNT(B.*)=0 and NULL click ids (the "
        "SQL unmatched-variable semantics). min-0 steps yield "
        "zero-repetition options at their per-step preference "
        "position — regex-order backtracking, fuzz-pinned "
        "(reference: optional NFA states, "
        "flink-cep/.../pattern/Quantifier.java, NFACompiler). Oracle: "
        "gaps-and-islands maximal click run (possibly absent) bracketed "
        "by an adjacent view and purchase.",
)
def match_recognize_star(spark, sf_dir):
    from ..catalog import TableEnvironment
    env = TableEnvironment(spark, sf_dir)
    return env.sql_query("""
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES FIRST(A.event_id) AS view_id,
                   COUNT(B.*) AS n_clicks,
                   FIRST(B.event_id) AS click_first_id,
                   LAST(B.event_id) AS click_last_id,
                   C.event_id AS purchase_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B* C)
          DEFINE A AS A.event_type = 'view',
                 B AS B.event_type = 'click',
                 C AS C.event_type = 'purchase'
        )""")


@register(
    "match_recognize_alternation",
    """
    WITH s AS (
      SELECT user_id, event_id, ts, event_type,
             LEAD(event_type) OVER w AS nt, LEAD(event_id) OVER w AS nid
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id AS view_id,
           CASE WHEN nt = 'purchase' THEN nid END AS purchase_id,
           CASE WHEN nt = 'click' THEN nid END AS click_id
    FROM s
    WHERE event_type = 'view' AND nt IN ('purchase', 'click')
    """,
    doc="MATCH_RECOGNIZE alternation — PATTERN (A P | A C): a view "
        "followed immediately by a purchase (direct conversion, "
        "preferred branch) or by a click; the losing branch's variable "
        "reports NULL. Branches share variable A's one flag column; "
        "preference = textual branch order at the same start row "
        "(plans/match_recognize alternation → cep alternation matcher; "
        "reference: Calcite `|` expansion for SqlMatchRecognize). "
        "Oracle: LEAD pair classification.",
)
def match_recognize_alternation(spark, sf_dir):
    from ..catalog import TableEnvironment
    env = TableEnvironment(spark, sf_dir)
    return env.sql_query("""
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES FIRST(A.event_id) AS view_id,
                   LAST(P.event_id) AS purchase_id,
                   LAST(C.event_id) AS click_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A P | A C)
          DEFINE A AS A.event_type = 'view',
                 P AS P.event_type = 'purchase',
                 C AS C.event_type = 'click'
        )""")


@register(
    "match_recognize_skip_to_first",
    """
    WITH s AS (
      SELECT user_id, event_id, ts, event_type,
             LEAD(event_type) OVER w AS nt, LEAD(event_id) OVER w AS nid
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id AS first_signup_id, nid AS second_signup_id
    FROM s
    WHERE event_type = 'signup' AND nt = 'signup'
    """,
    doc="AFTER MATCH SKIP TO FIRST B — PATTERN (A B), both signups: "
        "every adjacent signup-signup pair, with the match resuming AT "
        "the second signup so chains overlap (s1 s2 s3 emits both "
        "(s1,s2) and (s2,s3); SKIP PAST LAST ROW would swallow the "
        "second pair). AfterMatchSkipStrategy.skipToFirst, "
        "flink-cep/.../nfa/aftermatch/; runtime error if the resume "
        "point would not advance. Oracle: LEAD adjacency — exactly the "
        "overlapping-chain pair set.",
)
def match_recognize_skip_to_first(spark, sf_dir):
    from ..catalog import TableEnvironment
    env = TableEnvironment(spark, sf_dir)
    return env.sql_query("""
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES FIRST(A.event_id) AS first_signup_id,
                   LAST(B.event_id) AS second_signup_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO FIRST B
          PATTERN (A B)
          DEFINE A AS A.event_type = 'signup',
                 B AS B.event_type = 'signup'
        )""")


@register(
    "flink_sql_lookup_join",
    """
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, n.n_name
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_totalprice > 400000
    """,
    doc="Proc-time lookup join SQL surface: JOIN dim FOR SYSTEM_TIME AS "
        "OF o.proctime (StreamExecLookupJoin.scala:38) — the clause "
        "erases to a plain join against the dimension's current version "
        "(plans/flink_sql.py), which Catalyst then broadcasts.",
)
def flink_sql_lookup_join(spark, sf_dir):
    from ..catalog import TableEnvironment
    env = TableEnvironment(spark, sf_dir)
    return env.sql_query("""
        SELECT o.o_orderkey, o.o_totalprice, c.c_name, n.n_name
        FROM orders o
        JOIN customer FOR SYSTEM_TIME AS OF o.proctime AS c
          ON o.o_custkey = c.c_custkey
        JOIN nation FOR SYSTEM_TIME AS OF o.proctime AS n
          ON c.c_nationkey = n.n_nationkey
        WHERE o.o_totalprice > 400000""")


@register(
    "jdbc_lookup_join",
    """
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, n.n_name AS nation
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_totalprice > 420000
    """,
    doc="Lookup join against a GENUINELY EXTERNAL SQL engine: the "
        "nation dimension is first written through the JDBC sink into "
        "embedded Apache Derby (bundled with Spark), read back via the "
        "JDBC source, and broadcast-joined to the fact stream — the "
        "flink-connector-jdbc JdbcDynamicTableSource/Sink + "
        "JdbcRowDataLookupFunction path exercised end-to-end rather "
        "than gated. At 100 TB the dim read is one connection per "
        "partition against a real DB server; the fact side never "
        "touches JDBC. Oracle: same join over the parquet truth the "
        "dimension was loaded from.",
)
def jdbc_lookup_join(spark, sf_dir):
    from ..sources.connectors import (DERBY_DRIVER, derby_memory_url,
                                      jdbc_sink, jdbc_source)
    url = derby_memory_url("lookupdim")
    jdbc_sink(t(spark, sf_dir, "nation"), url, "nation_dim",
              driver=DERBY_DRIVER,
              createTableColumnTypes="n_name VARCHAR(64)")
    dim = jdbc_source(spark, url, "nation_dim", driver=DERBY_DRIVER)
    o = t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 420000)
    c = t(spark, sf_dir, "customer")
    return (o.join(c, o.o_custkey == c.c_custkey)
             .join(F.broadcast(dim), c.c_nationkey == dim.n_nationkey)
             .select("o_orderkey", "o_totalprice", "c_name",
                     F.col("n_name").alias("nation")))


@register(
    "kafka_wire_roundtrip_agg",
    """
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderkey % 97 = 0
    GROUP BY 1
    """,
    doc="Kafka connector exercised END-TO-END OVER TCP "
        "(FlinkKafkaConsumer.java:72 / FlinkKafkaProducer.java:100): "
        "a deterministic orders subset is encoded into RecordBatch v2 "
        "segments on executors (kafka_wire.kafka_log_write), served "
        "by the in-process stub broker speaking the real protocol "
        "(Metadata v1 / Fetch v4, sources/kafka_net.py), read back "
        "over sockets with one connection per task "
        "(kafka_net_read), decoded and aggregated — count and "
        "key-sum per priority prove every record's key/value "
        "survived the wire byte-exact. The wire read is eagerly "
        "checkpointed INSIDE the broker's lifetime (the lazy plan "
        "must not outlive the socket); oracle = the same aggregate "
        "straight off the parquet truth. Against a real cluster the "
        "documented path is spark-sql-kafka; this row pins the "
        "protocol implementation itself.",
)
def kafka_wire_roundtrip_agg(spark, sf_dir):
    import tempfile

    from ..sources.kafka_net import StubKafkaBroker, kafka_net_read
    from ..sources.kafka_wire import kafka_log_write
    src = (t(spark, sf_dir, "orders")
           .where(F.col("o_orderkey") % 97 == 0)
           .repartition(3, "o_orderkey")
           .select(F.unix_millis(F.col("o_orderdate").cast("timestamp"))
                   .alias("timestamp"),
                   F.encode(F.col("o_orderkey").cast("string"), "utf-8")
                   .alias("key"),
                   F.encode("o_orderpriority", "utf-8").alias("value")))
    log_dir = tempfile.mkdtemp(prefix="kafka_wire_q_")
    kafka_log_write(src, log_dir, "orders_q")
    with StubKafkaBroker(log_dir) as broker:
        back = (kafka_net_read(spark, broker.host, broker.port,
                               "orders_q")
                .localCheckpoint(eager=True))
    return (back.select(
        F.decode(F.col("key"), "utf-8").cast("bigint").alias("k"),
        F.decode(F.col("value"), "utf-8").alias("priority"))
        .groupBy("priority")
        .agg(F.count("*").alias("n"),
             F.sum("k").cast("bigint").alias("key_sum")))


@register(
    "kafka_txn_exactly_once_agg",
    """
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderkey % 101 = 0
    GROUP BY 1
    """,
    doc="Kafka EXACTLY-ONCE over the real transaction protocol — the "
        "reference's flagship FlinkKafkaProducer.Semantic.EXACTLY_ONCE "
        "(FlinkKafkaProducer.java:100, TwoPhaseCommitSinkFunction): a "
        "deterministic orders subset is produced in COMMITTED "
        "transactions (per-task transactional ids, InitProducerId "
        "epoch fencing, AddPartitionsToTxn, transactional RecordBatch "
        "v2, EndTxn commit markers), a same-shaped DECOY set with "
        "key_sum-poisoning values is produced and ABORTED, and the "
        "read back runs at isolation read_committed (LSO-bounded "
        "fetch, aborted-span filtering, control batches dropped). "
        "Count and key-sum per priority match the parquet truth ONLY "
        "if the aborted transaction is fully invisible and the "
        "committed one fully visible — the atomicity that makes the "
        "2PC sink exactly-once across restarts. Oracle: the same "
        "aggregate over the committed subset.",
)
def kafka_txn_exactly_once_agg(spark, sf_dir):
    import tempfile

    from ..sources.kafka_net import (READ_COMMITTED, StubKafkaBroker,
                                     kafka_net_read, kafka_txn_write)
    src = (t(spark, sf_dir, "orders")
           .where(F.col("o_orderkey") % 101 == 0)
           .repartition(3, "o_orderkey")
           .select(F.unix_millis(F.col("o_orderdate").cast("timestamp"))
                   .alias("timestamp"),
                   F.encode(F.col("o_orderkey").cast("string"), "utf-8")
                   .alias("key"),
                   F.encode("o_orderpriority", "utf-8").alias("value")))
    # decoys carry the SAME priorities but shifted keys: leaking any
    # aborted record flips both n and key_sum in the hashed result
    decoy = src.withColumn(
        "key", F.encode((F.decode("key", "utf-8").cast("bigint") + 1)
                        .cast("string"), "utf-8"))
    log_dir = tempfile.mkdtemp(prefix="kafka_eos_q_")
    with StubKafkaBroker(log_dir) as broker:
        kafka_txn_write(src, broker.host, broker.port, "orders_eos",
                        "eos-commit", commit=True)
        kafka_txn_write(decoy, broker.host, broker.port, "orders_eos",
                        "eos-abort", commit=False)
        back = (kafka_net_read(spark, broker.host, broker.port,
                               "orders_eos", READ_COMMITTED)
                .localCheckpoint(eager=True))
    return (back.select(
        F.decode(F.col("key"), "utf-8").cast("bigint").alias("k"),
        F.decode(F.col("value"), "utf-8").alias("priority"))
        .groupBy("priority")
        .agg(F.count("*").alias("n"),
             F.sum("k").cast("bigint").alias("key_sum")))


@register(
    "avro_registry_kafka_agg",
    """
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           ROUND(SUM(o_totalprice), 2) AS price_sum
    FROM orders WHERE o_orderkey % 103 = 0
    GROUP BY 1
    """,
    doc="Confluent-registry Avro over the Kafka wire "
        "(flink-avro-confluent-registry's "
        "ConfluentRegistryAvroDeserializationSchema + "
        "FlinkKafkaConsumer composition): a deterministic orders "
        "subset is framed executor-side as magic 0x00 + schema id + "
        "Avro binary (schema registered against the in-process REST "
        "registry, ids deduplicated across tasks), produced into the "
        "topic log, read back OVER TCP (kafka_net_read), and decoded "
        "with the writer schema fetched by embedded id — count, "
        "key-sum and price-sum per priority prove the long/string/"
        "double binary encodings and the framing survived the double "
        "hop byte-exact. Oracle: the same aggregate off the parquet "
        "truth.",
)
def avro_registry_kafka_agg(spark, sf_dir):
    import tempfile

    from pyspark.sql import types as T

    from ..sources.avro_registry import (StubSchemaRegistry,
                                         avro_registry_frame,
                                         avro_registry_unframe)
    from ..sources.kafka_net import StubKafkaBroker, kafka_net_read
    from ..sources.kafka_wire import kafka_log_write
    src = (t(spark, sf_dir, "orders")
           .where(F.col("o_orderkey") % 103 == 0)
           .repartition(3, "o_orderkey")
           .select("o_orderkey", "o_orderpriority", "o_totalprice"))
    log_dir = tempfile.mkdtemp(prefix="avro_reg_q_")
    target = T.StructType([
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_orderpriority", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType())])
    with StubSchemaRegistry() as reg:
        framed = avro_registry_frame(src, reg.url, "orders-value")
        kafka_log_write(framed, log_dir, "orders_avro")
        with StubKafkaBroker(log_dir) as broker:
            log = kafka_net_read(spark, broker.host, broker.port,
                                 "orders_avro")
            back = avro_registry_unframe(log, reg.url, target) \
                .localCheckpoint(eager=True)
    return (back.groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(F.count("*").alias("n"),
                 F.sum("o_orderkey").cast("bigint").alias("key_sum"),
                 F.round(F.sum("o_totalprice"), 2).alias("price_sum")))


@register(
    "pubsub_pull_roundtrip_agg",
    """
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderkey % 107 = 0
    GROUP BY 1
    """,
    doc="GCP Pub/Sub exercised END-TO-END over its real protocol "
        "(REST/JSON — flink-connector-gcp-pubsub's PubSubSource/"
        "PubSubSink wire surface): a deterministic orders subset "
        "publishes executor-side, then PARALLEL TASKS PULL FROM ONE "
        "SUBSCRIPTION (the service-side load balancing that is the "
        "reference source's scaling model — no client partition "
        "assignment exists), with acknowledgements deferred until "
        "the result is materialized (the reference's "
        "ack-on-checkpoint at-least-once discipline) and messageId "
        "dedup absorbing redelivery. Count and key-sum per priority "
        "prove exactly-once EXTRACTION despite the at-least-once "
        "transport. Oracle: the same aggregate off the parquet "
        "truth.",
)
def pubsub_pull_roundtrip_agg(spark, sf_dir):
    from ..sources.pubsub_rest import (StubPubSubServer, pubsub_read,
                                       pubsub_write)
    src = (t(spark, sf_dir, "orders")
           .where(F.col("o_orderkey") % 107 == 0)
           .repartition(3, "o_orderkey")
           .select(F.encode(F.concat_ws(
               "|", F.col("o_orderkey").cast("string"),
               "o_orderpriority"), "utf-8").alias("value")))
    with StubPubSubServer({"orders_ps": ["q"]}) as srv:
        pubsub_write(src, srv.endpoint, srv.project, "orders_ps")
        back = pubsub_read(spark, srv.endpoint, srv.project, "q")
        decoded = (back.select(F.split(F.decode("data", "utf-8"), "\\|")
                               .alias("f"))
                   .select(F.col("f").getItem(0).cast("bigint")
                           .alias("k"),
                           F.col("f").getItem(1).alias("priority"))
                   .localCheckpoint(eager=True))
    return (decoded.groupBy("priority")
            .agg(F.count("*").alias("n"),
                 F.sum("k").cast("bigint").alias("key_sum")))


@register(
    "es_rest_roundtrip_agg",
    """
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderkey % 89 = 0
    GROUP BY 1
    """,
    doc="Elasticsearch connector exercised END-TO-END over its real "
        "protocol (REST+JSON — flink-connector-elasticsearch7's "
        "actual transport): a deterministic orders subset bulk-indexes "
        "executor-side (_bulk NDJSON, explicit _ids), reads back in "
        "parallel through the sliced-scroll API, parses _source with "
        "from_json and aggregates — count and key-sum per priority "
        "prove every document survived indexing and the sliced scan "
        "partition-exactly. The read is eagerly checkpointed INSIDE "
        "the stub server's lifetime (the lazy plan must not outlive "
        "the socket); oracle = the same aggregate off the parquet "
        "truth. Against a real cluster the identical REST calls "
        "apply; only the stub is test scaffolding.",
)
def es_rest_roundtrip_agg(spark, sf_dir):
    from ..sources.es_rest import (StubESServer, es_bulk_sink,
                                   es_search_source)
    src = (t(spark, sf_dir, "orders")
           .where(F.col("o_orderkey") % 89 == 0)
           .repartition(3, "o_orderkey")
           .select(F.col("o_orderkey").cast("string").alias("oid"),
                   "o_orderpriority"))
    with StubESServer() as es:
        es_bulk_sink(src, es.base_url, "orders_q", id_col="oid",
                     batch_size=128)
        back = (es_search_source(spark, es.base_url, "orders_q",
                                 slices=3)
                .localCheckpoint(eager=True))
    parsed = back.select(F.from_json(
        F.col("_source"),
        "oid string, o_orderpriority string").alias("d"))
    return (parsed.select(F.col("d.oid").cast("bigint").alias("k"),
                          F.col("d.o_orderpriority").alias("priority"))
            .groupBy("priority")
            .agg(F.count("*").alias("n"),
                 F.sum("k").cast("bigint").alias("key_sum")))


@register(
    "kinesis_wire_roundtrip_agg",
    """
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderkey % 83 = 0
    GROUP BY 1
    """,
    doc="Kinesis connector exercised END-TO-END over its real "
        "protocol (JSON targets + SigV4, FlinkKinesisConsumer/"
        "Producer's wire surface): a deterministic orders subset is "
        "PutRecords-produced (records route to shards by the genuine "
        "MD5 hash-key-range rule), every request's signature is "
        "RE-VERIFIED server-side by the stub, and one task per shard "
        "drains GetRecords TRIM_HORIZON -> tip before the aggregate. "
        "Count and key-sum per priority prove every record survived "
        "the wire; the read is eagerly checkpointed inside the stub's "
        "lifetime. Oracle = the same aggregate off the parquet truth.",
)
def kinesis_wire_roundtrip_agg(spark, sf_dir):
    from ..sources.kinesis_rest import (KinesisClient,
                                        StubKinesisServer,
                                        kinesis_read)
    src = (t(spark, sf_dir, "orders")
           .where(F.col("o_orderkey") % 83 == 0)
           .repartition(3, "o_orderkey")
           .select(F.col("o_orderkey").cast("string").alias("pk"),
                   F.concat_ws("|", F.col("o_orderkey").cast("string"),
                               F.col("o_orderpriority"))
                   .alias("payload")))
    with StubKinesisServer(n_shards=3) as srv:
        endpoint, region = srv.endpoint, srv.region
        ak, sk = srv.access_key, srv.secret_key

        def produce(rows_iter):  # executor-side PutRecords batches
            cli = KinesisClient(endpoint, region, ak, sk)
            batch: list = []
            for r in rows_iter:
                batch.append((r.pk, r.payload.encode()))
                if len(batch) >= 250:
                    assert cli.put_records("orders_q", batch) == 0
                    batch = []
            if batch:
                assert cli.put_records("orders_q", batch) == 0
            return iter(())

        src.rdd.mapPartitions(produce).count()
        back = (kinesis_read(spark, srv.endpoint, srv.region,
                             srv.access_key, srv.secret_key,
                             "orders_q")
                .localCheckpoint(eager=True))
    parts = F.split(F.decode(F.col("data"), "utf-8"), "\\|")
    return (back.select(parts.getItem(0).cast("bigint").alias("k"),
                        parts.getItem(1).alias("priority"))
            .groupBy("priority")
            .agg(F.count("*").alias("n"),
                 F.sum("k").cast("bigint").alias("key_sum")))


@register(
    "cql_native_roundtrip_agg",
    """
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderkey % 79 = 0
    GROUP BY 1
    """,
    doc="Cassandra connector exercised END-TO-END over the real CQL "
        "native v4 binary protocol (flink-connector-cassandra's "
        "driver surface): a deterministic orders subset INSERTs with "
        "bound values from executor-side sessions, reads back via "
        "token-range-parallel SELECTs (the CassandraInputFormat "
        "split model over the Murmur3 ring — ranges disjoint and "
        "covering, so the aggregate proves exactly-once extraction), "
        "then aggregates. The read is eagerly checkpointed inside "
        "the stub's lifetime. Oracle = the same aggregate off the "
        "parquet truth.",
)
def cql_native_roundtrip_agg(spark, sf_dir):
    from ..sources.cql_native import (TYPE_BIGINT, TYPE_VARCHAR,
                                      StubCqlServer, cql_read,
                                      cql_write)
    src = (t(spark, sf_dir, "orders")
           .where(F.col("o_orderkey") % 79 == 0)
           .repartition(3, "o_orderkey")
           .select(F.col("o_orderkey").alias("pk"),
                   F.col("o_orderpriority").alias("priority")))
    with StubCqlServer("orders_q", ["pk", "priority"]) as srv:
        srv.declare_types([TYPE_BIGINT, TYPE_VARCHAR])
        cql_write(src, srv.host, srv.port, "orders_q", "pk")
        back = (cql_read(spark, srv.host, srv.port, "orders_q",
                         ["pk", "priority"], "pk",
                         "pk bigint, priority string", n_splits=5)
                .localCheckpoint(eager=True))
    return (back.groupBy("priority")
            .agg(F.count("*").alias("n"),
                 F.sum("pk").cast("bigint").alias("key_sum")))


@register(
    "changelog_rowkind",
    """
    WITH v AS (
      SELECT user_id, ts, event_id, value,
             LAG(value) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev
      FROM events WHERE user_id <= 50
    )
    SELECT user_id, ts, event_id, '+I' AS rowkind, value
    FROM v WHERE prev IS NULL
    UNION ALL
    SELECT user_id, ts, event_id, '-U', prev FROM v WHERE prev IS NOT NULL
    UNION ALL
    SELECT user_id, ts, event_id, '+U', value FROM v WHERE prev IS NOT NULL
    """,
    doc="Changelog materialization of a keyed upsert history: RowKind "
        "+I/-U/+U rows (RowKind.java:35-58; retraction pairs exactly as "
        "GroupAggFunction.java:43 emits UPDATE_BEFORE/UPDATE_AFTER) — "
        "streaming/changelog.to_changelog_batch; streaming execution "
        "parity in tests/test_stateful.py.",
)
def changelog_rowkind(spark, sf_dir):
    from ..streaming.changelog import to_changelog_batch
    e = t(spark, sf_dir, "events").where(F.col("user_id") <= 50)
    return to_changelog_batch(e, ["user_id"], "ts", "event_id", "value")


@register(
    "cep_not_followed_by",
    """
    WITH s AS (
      SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE user_id <= 100
    )
    SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
    FROM s v JOIN s p
      ON p.user_id = v.user_id AND p.rn > v.rn
     AND v.event_type = 'view' AND p.event_type = 'purchase'
    WHERE NOT EXISTS (
      SELECT 1 FROM s e
      WHERE e.user_id = v.user_id AND e.event_type = 'error'
        AND e.rn > v.rn AND e.rn < p.rn)
    """,
    doc="Negative pattern: view NOT followedBy error, then purchase "
        "(Pattern.notFollowedBy, Pattern.java:382; NO_SKIP strategy = "
        "all qualifying pairs). NFA gap check in streaming/cep.py; "
        "oracle: anti-join on an error strictly between the pair.",
)
def cep_not_followed_by(spark, sf_dir):
    from ..streaming.cep import QStep, match_pattern_batch
    e = (t(spark, sf_dir, "events").where(F.col("user_id") <= 100)
         .select("user_id", "event_id", "ts", "event_type"))
    steps = [
        QStep("a", lambda ev: ev["event_type"] == "view"),
        QStep("x", lambda ev: ev["event_type"] == "error", negated=True),
        QStep("c", lambda ev: ev["event_type"] == "purchase"),
    ]
    out = match_pattern_batch(
        e, ["user_id"], "ts", steps, after_match="all",
        flag_exprs=[F.col("event_type") == v
                    for v in ("view", "error", "purchase")])
    return out.select("user_id", F.col("a_first_id").alias("view_id"),
                      F.col("c_first_id").alias("purchase_id"))


@register(
    "cep_until",
    """
    WITH s AS (
      SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), b AS (
      SELECT user_id, event_id AS purchase_id, rn AS prn,
             COALESCE(LAG(rn) OVER (PARTITION BY user_id ORDER BY rn), 0)
               AS pprn
      FROM s WHERE event_type = 'purchase'
    ), m AS (
      SELECT b.user_id, b.purchase_id, b.prn, MIN(v.rn) AS vrn
      FROM b JOIN s v ON v.user_id = b.user_id
                     AND v.event_type = 'view'
                     AND v.rn > b.pprn AND v.rn < b.prn
      GROUP BY b.user_id, b.purchase_id, b.prn
    )
    SELECT m.user_id, sv.event_id AS view_id,
           CAST(m.prn - m.vrn - 1 AS BIGINT) AS n_between,
           m.purchase_id
    FROM m JOIN s sv ON sv.user_id = m.user_id AND sv.rn = m.vrn
    WHERE m.prn - m.vrn >= 2
    """,
    doc="Pattern.until stop condition (Pattern.java:331): view, then "
        "one-or-more ARBITRARY events with until(purchase) bounding the "
        "loop, then the purchase — without until, the catch-all loop "
        "would swallow the terminator. Until flags ride the JVM-side "
        "projection (cep._flag_projection until_exprs). Oracle: "
        "purchase-delimited blocks; the first view in a block matches "
        "iff at least one row separates it from the block's purchase.",
)
def cep_until(spark, sf_dir):
    from ..streaming.cep import QStep, match_pattern_batch
    e = (t(spark, sf_dir, "events")
         .select("user_id", "event_id", "ts", "event_type"))
    steps = [
        QStep("a", lambda ev: ev["event_type"] == "view"),
        QStep("b", lambda ev: True, min_times=1, max_times=None,
              contiguity="strict",
              until=lambda ev: ev["event_type"] == "purchase"),
        QStep("c", lambda ev: ev["event_type"] == "purchase",
              contiguity="strict"),
    ]
    out = match_pattern_batch(
        e, ["user_id"], "ts", steps, after_match="skip_past_last",
        flag_exprs=[F.col("event_type") == "view", F.lit(True),
                    F.col("event_type") == "purchase"],
        until_exprs=[None, F.col("event_type") == "purchase", None])
    return out.select("user_id", F.col("a_first_id").alias("view_id"),
                      F.col("b_n").alias("n_between"),
                      F.col("c_first_id").alias("purchase_id"))


@register(
    "count_sliding_window_batch",
    """
    WITH o AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), f AS (
      SELECT user_id, rn,
             COUNT(*) OVER w AS n,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(30,10))) OVER w, 2)
                  AS DOUBLE) AS total
      FROM o
      WINDOW w AS (PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, rn // 5 AS fire_seq, n, total
    FROM f WHERE rn % 5 = 0
    """,
    doc="Sliding count window countWindow(10, 5) "
        "(CountSlidingWindowAssigner + ElementTriggers.count): every "
        "5th element per key (ts,id order), aggregate the last ≤10 — "
        "batch form is an OVER frame + modulo filter; the streaming "
        "stateful form (streaming/count_window.count_sliding_window) "
        "is tested for parity in tests/test_stateful.py.",
)
def count_sliding_window_batch(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    w_ord = W.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w_ord.rowsBetween(-9, 0)
    return (e.withColumn("rn", F.row_number().over(w_ord))
            .withColumn("n", F.count("*").over(frame))
            .withColumn("total",
                        F.round(F.sum(F.col("value").cast("decimal(30,10)"))
                                .over(frame), 2).cast("double"))
            .where(F.col("rn") % 5 == 0)
            .select("user_id", (F.col("rn") / 5).cast("bigint")
                    .alias("fire_seq"), "n", "total"))


@register(
    "window_topn",
    f"""
    WITH w AS (
      SELECT user_id,
             make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) * 1000000)
               AS window_start,
             {sql_dsum('value')} AS total
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                                   ORDER BY total DESC, user_id) AS rnk
      FROM w
    )
    SELECT window_start, user_id, total, rnk FROM r WHERE rnk <= 3
    """,
    doc="Window TopN: top-3 users by summed value per tumbling hour — "
        "the canonical Flink pattern (window agg → Rank on window_start, "
        "StreamExecRank over group-window output). One window shuffle + "
        "one rank shuffle; WindowGroupLimit prunes per partition.",
)
def window_topn(spark, sf_dir):
    from pyspark.sql import Window as W
    e = t(spark, sf_dir, "events")
    agg = (e.groupBy("user_id", F.window("ts", "1 hour").alias("w"))
           .agg(dsum("value").alias("total"))
           .select("user_id", F.col("w.start").alias("window_start"),
                   "total"))
    rw = W.partitionBy("window_start").orderBy(F.desc("total"), "user_id")
    return (agg.withColumn("rnk", F.row_number().over(rw))
            .where(F.col("rnk") <= 3)
            .select("window_start", "user_id", "total", "rnk"))


@register(
    "window_session_dynamic_gap",
    f"""
    WITH g AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN event_type = 'click' THEN 300 ELSE 900 END AS gap_s
      FROM events
    ), x AS (
      SELECT *,
             MAX(epoch(ts) + gap_s) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_end
      FROM g
    ), marked AS (
      SELECT *, CASE WHEN prev_end IS NULL OR epoch(ts) >= prev_end
                     THEN 1 ELSE 0 END AS new_session
      FROM x
    ), numbered AS (
      SELECT *, SUM(new_session) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start,
           COUNT(*) AS n, {sql_dsum('value')} AS total
    FROM numbered GROUP BY user_id, sid
    """,
    doc="SESSION window with DYNAMIC gap (clicks 5 min, others 15 min) "
        "— DynamicEventTimeSessionWindows / SessionWindowTimeGapExtractor. "
        "Spark: session_window(ts, CASE...) Column gap. Oracle: "
        "sessionization via running-max window end (events merge while "
        "ts < max(prev ts+gap); interval-end exclusive).",
)
def window_session_dynamic_gap(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "click", F.lit("5 minutes")) \
        .otherwise(F.lit("15 minutes"))
    return (e.groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
            .agg(F.count("*").alias("n"), dsum("value").alias("total"))
            .select("user_id", F.col("sw.start").alias("session_start"),
                    "n", "total"))


@register(
    "match_recognize_group_times",
    """
    WITH s AS (
      SELECT user_id, event_id, ts, event_type,
             LEAD(event_type, 1) OVER w AS t1, LEAD(event_id, 1) OVER w AS i1,
             LEAD(event_type, 2) OVER w AS t2, LEAD(event_id, 2) OVER w AS i2,
             LEAD(event_type, 3) OVER w AS t3,
             LEAD(event_type, 4) OVER w AS t4, LEAD(event_id, 4) OVER w AS i4
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id AS view_id,
           CAST(CASE WHEN t3 = 'click' AND t4 = 'error'
                     THEN 2 ELSE 1 END AS BIGINT) AS n_clicks,
           i1 AS click_first_id,
           CASE WHEN t3 = 'click' AND t4 = 'error'
                THEN i4 ELSE i2 END AS error_last_id
    FROM s
    WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'error'
    """,
    doc="MATCH_RECOGNIZE grouped-sequence quantifier — PATTERN "
        "(A (B C){1,2}): a view followed by one or two consecutive "
        "click-error pairs, greedy (two pairs preferred when present). "
        "Group quantifiers unroll to an alternation of repeated "
        "sequences in greedy preference order "
        "(plans/match_recognize._expand_groups; reference: "
        "GroupPattern.java - Pattern.begin(pattern).times(m, n), "
        "NFACompiler group states); a branch binding a variable twice "
        "accumulates COUNT and keeps earliest-FIRST/latest-LAST. "
        "Oracle: LEAD-sequence classification with the greedy 2-pair "
        "preference inlined as a CASE.",
)
def match_recognize_group_times(spark, sf_dir):
    from ..catalog import TableEnvironment
    env = TableEnvironment(spark, sf_dir)
    return env.sql_query("""
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES A.event_id AS view_id,
                   COUNT(B.*) AS n_clicks,
                   FIRST(B.event_id) AS click_first_id,
                   LAST(C.event_id) AS error_last_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A (B C){1,2})
          DEFINE A AS A.event_type = 'view',
                 B AS B.event_type = 'click',
                 C AS C.event_type = 'error'
        )""")


@register(
    "match_recognize_reluctant",
    """
    WITH s AS (
      SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), nx AS (
      SELECT *, MIN(CASE WHEN event_type = 'purchase' THEN rn END)
               OVER (PARTITION BY user_id ORDER BY rn
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS p_rn
      FROM s
    )
    SELECT v.user_id, v.event_id AS view_id,
           CAST(v.p_rn - v.rn - 1 AS BIGINT) AS n_between,
           p.event_id AS purchase_id
    FROM nx v JOIN nx p ON p.user_id = v.user_id AND p.rn = v.p_rn
    WHERE v.event_type = 'view' AND v.p_rn IS NOT NULL
    """,
    doc="MATCH_RECOGNIZE reluctant quantifier — PATTERN (A B*? C) "
        "with a catch-all B: each view pairs with its NEAREST "
        "following purchase (fewest B rows consumed), where greedy "
        "`B*` would swallow rows to the partition's LAST purchase — "
        "the canonical greedy/reluctant semantic split "
        "(Quantifier.greedy vs reluctant loop states, "
        "flink-cep/.../pattern/Quantifier.java; trailing-`?` SQL "
        "forms). SKIP TO NEXT ROW: one preferred match per view, "
        "overlaps allowed. Oracle: forward-looking windowed min of "
        "the next purchase row number.",
)
def match_recognize_reluctant(spark, sf_dir):
    from ..catalog import TableEnvironment
    env = TableEnvironment(spark, sf_dir)
    return env.sql_query("""
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES A.event_id AS view_id,
                   COUNT(B.*) AS n_between,
                   C.event_id AS purchase_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (A B*? C)
          DEFINE A AS A.event_type = 'view',
                 B AS TRUE,
                 C AS C.event_type = 'purchase'
        )""")


@register(
    "match_recognize_or_define",
    """
    WITH s AS (
      SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), b AS (
      SELECT user_id, event_id, rn,
             rn - ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY rn) AS grp
      FROM s WHERE event_type IN ('click', 'purchase')
    ), runs AS (
      SELECT user_id, grp, MIN(rn) AS first_rn, COUNT(*) AS n,
             MIN(event_id) AS b_first, MAX(event_id) AS b_last
      FROM b GROUP BY 1, 2
    )
    SELECT a.user_id AS user_id, a.event_id AS a_id,
           CAST(r.n AS BIGINT) AS n_b,
           r.b_first AS b_first, r.b_last AS b_last
    FROM s a JOIN runs r ON r.user_id = a.user_id
                        AND r.first_rn = a.rn + 1
    WHERE a.event_type = 'view' OR a.event_type = 'signup'
    """,
    doc="MATCH_RECOGNIZE DEFINE with OR-disjunctions and IN lists — "
        "PATTERN (A B+) where A is `view OR signup` and B is "
        "`IN ('click', 'purchase')`: SQL precedence (AND over OR, no "
        "parentheses — the parser's documented subset boundary), "
        "compiled to one JVM boolean Column per variable exactly like "
        "conjunctions (plans/match_recognize._atoms; reference: "
        "generated IterativeCondition from the DEFINE RexNode, "
        "MatchCodeGenerator.scala). Oracle: gaps-and-islands maximal "
        "click/purchase run adjacent to a qualifying anchor (anchor "
        "and run flags are disjoint event types, so SKIP PAST LAST "
        "consumption can never hide a later anchor).",
)
def match_recognize_or_define(spark, sf_dir):
    from ..catalog import TableEnvironment
    env = TableEnvironment(spark, sf_dir)
    return env.sql_query("""
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES FIRST(A.event_id) AS a_id,
                   COUNT(B.*) AS n_b,
                   FIRST(B.event_id) AS b_first,
                   LAST(B.event_id) AS b_last
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B+)
          DEFINE A AS A.event_type = 'view' OR A.event_type = 'signup',
                 B AS B.event_type IN ('click', 'purchase')
        )""")


@register(
    "match_recognize_min0_leading",
    """
    WITH s AS (
      SELECT user_id, event_id, event_type,
             LAG(event_type) OVER w AS pt, LAG(event_id) OVER w AS pid
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CASE WHEN pt = 'view' THEN pid END AS view_id,
           CAST(CASE WHEN pt = 'view' THEN 1 ELSE 0 END AS BIGINT)
             AS n_views,
           event_id AS purchase_id
    FROM s WHERE event_type = 'purchase'
    """,
    doc="MATCH_RECOGNIZE min-0 on the FIRST variable — PATTERN (A? B): "
        "an optional view immediately before each purchase. Under SKIP "
        "PAST LAST with disjoint DEFINEs a view precedes exactly one "
        "row, so consumption never steals a later purchase's view and "
        "the oracle reduces to one LAG. Streams too (anchored "
        "per-position scan — streaming/cep.py; "
        "test_match_recognize_min0_edge_streaming); reference: optional "
        "start states, flink-cep/.../nfa/NFACompiler.java.",
)
def match_recognize_min0_leading(spark, sf_dir):
    from ..catalog import TableEnvironment
    env = TableEnvironment(spark, sf_dir)
    return env.sql_query("""
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES A.event_id AS view_id,
                   COUNT(A.*) AS n_views,
                   B.event_id AS purchase_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A? B)
          DEFINE A AS A.event_type = 'view',
                 B AS B.event_type = 'purchase'
        )""").select("user_id", "view_id", "n_views", "purchase_id")


@register(
    "match_recognize_min0_trailing",
    """
    WITH s AS (
      SELECT user_id, event_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), clicks AS (
      SELECT user_id, event_id, rn,
             rn - ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY rn) AS grp
      FROM s WHERE event_type = 'click'
    ), runs AS (
      SELECT user_id, grp, MIN(rn) AS first_rn, COUNT(*) AS n,
             MIN(event_id) AS b_first, MAX(event_id) AS b_last
      FROM clicks GROUP BY 1, 2
    )
    SELECT p.user_id, p.event_id AS purchase_id,
           CAST(COALESCE(r.n, 0) AS BIGINT) AS n_clicks,
           r.b_first AS click_first_id, r.b_last AS click_last_id
    FROM s p
    LEFT JOIN runs r ON r.user_id = p.user_id AND r.first_rn = p.rn + 1
    WHERE p.event_type = 'purchase'
    """,
    doc="MATCH_RECOGNIZE min-0 on the LAST variable — PATTERN (A B*): "
        "each purchase with its (possibly empty) maximal consecutive "
        "click run. Streams too: a boundary-ending match is deferred "
        "until a watermark-final successor fails to extend the greedy "
        "run — the zero-bound trailing step participates in the "
        "open-ended check via the branch step list, not just the last "
        "consumed step (streaming/cep.py; "
        "test_match_recognize_min0_edge_streaming). Oracle: "
        "gaps-and-islands click runs keyed to the preceding purchase.",
)
def match_recognize_min0_trailing(spark, sf_dir):
    from ..catalog import TableEnvironment
    env = TableEnvironment(spark, sf_dir)
    return env.sql_query("""
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES A.event_id AS purchase_id,
                   COUNT(B.*) AS n_clicks,
                   FIRST(B.event_id) AS click_first_id,
                   LAST(B.event_id) AS click_last_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B*)
          DEFINE A AS A.event_type = 'purchase',
                 B AS B.event_type = 'click'
        )""").select("user_id", "purchase_id", "n_clicks",
                     "click_first_id", "click_last_id")


@register(
    "events_rate_anomaly",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), stats AS (
      SELECT event_type,
             COUNT(*) AS k,
             CAST(SUM(CAST(n AS DECIMAL(30,10))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(n * n AS DECIMAL(30,10))) AS DOUBLE) AS s2
      FROM hourly GROUP BY 1
    )
    SELECT h.event_type, h.h, CAST(h.n AS BIGINT) AS n,
           CAST(ROUND((h.n - s.s1 / s.k)
                      / sqrt(s.s2 / s.k - (s.s1 / s.k) * (s.s1 / s.k)),
                      6) AS DOUBLE) AS zscore
    FROM hourly h JOIN stats s ON h.event_type = s.event_type
    WHERE abs((h.n - s.s1 / s.k)
              / sqrt(s.s2 / s.k - (s.s1 / s.k) * (s.s1 / s.k))) > 2
    """,
    doc="Rate-anomaly detection: per event_type, hourly counts more "
        "than 2 population-sigmas from that type's own mean — the "
        "standard monitoring query over an event stream. Two "
        "aggregates (hourly counts, then per-type moment sums with "
        "exact-decimal accumulation so mu/sigma replay bit-identically) "
        "+ one broadcast-sized join back; at 100 TB the hourly rollup "
        "is the only data-sized shuffle and it combines map-side.",
)
def events_rate_anomaly(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    hourly = (e.groupBy("event_type",
                        F.date_trunc("hour", "ts").alias("h"))
              .agg(F.count("*").alias("n")))
    dec = "decimal(30,10)"
    stats = (hourly.groupBy(F.col("event_type").alias("et"))
             .agg(F.count("*").alias("k"),
                  F.sum(F.col("n").cast(dec)).cast("double").alias("s1"),
                  F.sum((F.col("n") * F.col("n")).cast(dec))
                  .cast("double").alias("s2")))
    mu = F.col("s1") / F.col("k")
    sigma = F.sqrt(F.col("s2") / F.col("k") - mu * mu)
    z = (F.col("n") - mu) / sigma
    return (hourly.join(F.broadcast(stats),
                        hourly.event_type == stats.et)
            .where(F.abs(z) > 2)
            .select("event_type", "h", F.col("n").cast("bigint").alias("n"),
                    F.round(z, 6).cast("double").alias("zscore")))


@register(
    "temporal_join_event_sql",
    """
    SELECT c.event_id AS click_id, c.user_id AS user_id,
           c.ts AS click_ts, r.value AS version_value
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click') c
    ASOF JOIN (SELECT user_id, ts, value FROM events
               WHERE event_type = 'purchase') r
      ON c.user_id = r.user_id AND r.ts <= c.ts
    """,
    doc="Event-time temporal join spelled in SQL — `JOIN v FOR "
        "SYSTEM_TIME AS OF probe.rowtime` routed through "
        "TableEnvironment.sql_query to the as-of operator, the exact "
        "rewrite the reference planner performs "
        "(LogicalCorrelateToJoinFromTemporalTableRule.scala:1 → "
        "TemporalRowTimeJoinOperator.java:72; SQL form pinned by "
        "TemporalJoinITCase). INNER semantics: clicks with no prior "
        "purchase version are dropped. Oracle: DuckDB's native ASOF "
        "JOIN (inner).",
)
def temporal_join_event_sql(spark, sf_dir):
    from ..catalog import TableEnvironment
    env = TableEnvironment(spark, sf_dir, tables=("events",))
    e = spark.table("events")
    (e.where(F.col("event_type") == "click")
     .select("event_id", "user_id", "ts")
     ).createOrReplaceTempView("tj_clicks")
    (e.where(F.col("event_type") == "purchase")
     .select("user_id", "ts", "value")
     ).createOrReplaceTempView("tj_rates")
    return env.sql_query("""
        SELECT c.event_id AS click_id, c.user_id AS user_id,
               c.ts AS click_ts, r.value AS version_value
        FROM tj_clicks c
        JOIN tj_rates FOR SYSTEM_TIME AS OF c.ts AS r
        ON c.user_id = r.user_id
    """)


@register(
    "scd2_dimension_build",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ), changes AS (
      SELECT user_id, ts, event_id, event_type FROM ordered
      WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id, event_type AS status, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS valid_to,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS INT)
             AS version,
           LEAD(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) IS NULL AS is_current
    FROM changes
    """,
    doc="Slowly-changing-dimension type-2 build from a change stream: "
        "per key, collapse no-change updates (LAG change detection), "
        "then close each version with the next change's timestamp "
        "(LEAD) and stamp version numbers — the batch materialization "
        "of the VERSIONED TABLE that the event-time temporal join "
        "probes (`FOR SYSTEM_TIME AS OF` consumes exactly these "
        "[valid_from, valid_to) intervals; reference: "
        "flink-table/flink-table-api-java/src/main/java/org/apache/"
        "flink/table/functions/TemporalTableFunction.java:35 and the "
        "changelog semantics of streaming/changelog.py). Scale: every "
        "window partitions by user_id — high-cardinality at 100 TB, "
        "so parallelism is per-key and no global sort exists; the "
        "change-filter drops rows BEFORE the second/third windows, "
        "and Catalyst runs the two same-key windows in one sort pass.",
)
def scd2_dimension_build(spark, sf_dir):
    from ..streaming.scd2 import scd2_build_batch
    e = t(spark, sf_dir, "events")
    return scd2_build_batch(e)


@register(
    "scd2_state_bootstrap_roundtrip",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ), changes AS (
      SELECT user_id, ts, event_id, event_type FROM ordered
      WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id, event_type AS status, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS valid_to,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS INT)
             AS version,
           LEAD(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) IS NULL AS is_current
    FROM changes
    """,
    doc="State Processor API analog — savepoint bootstrap roundtrip "
        "(reference: flink-libraries/flink-state-processing-api, "
        "BootstrapTransformation writes keyed state from a DataSet "
        "and a restarted job resumes from it). The query builds the "
        "SCD2 dimension over events BEFORE 2024-01-16 only, converts "
        "that snapshot back to seed transitions "
        "(streaming/scd2.py scd2_bootstrap_events — the 'savepoint' "
        "is just a relation), then rebuilds over seed ∪ post-cutoff "
        "events. The oracle is the UNSPLIT full build: hash-equality "
        "proves the bootstrap is lossless — identical version chains, "
        "interval bounds and is_current flags — so a batch backfill "
        "can hand state to the streaming maintainer with no replay of "
        "history (the streaming half of the pin is "
        "tests/test_stateful.py::test_scd2_bootstrap_stream_parity). "
        "Scale: the seed is a map-only projection of the dimension "
        "table; the rebuild windows only ever sort transitions + new "
        "events, never re-reads the historical corpus.",
)
def scd2_state_bootstrap_roundtrip(spark, sf_dir):
    from ..streaming.scd2 import scd2_bootstrap_events, scd2_build_batch
    e = t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id")
    cutoff = F.lit("2024-01-16 00:00:00").cast(e.schema["ts"].dataType)
    dim_early = scd2_build_batch(e.where(F.col("ts") < cutoff))
    seeds = scd2_bootstrap_events(dim_early)
    late = e.where(F.col("ts") >= cutoff)
    return scd2_build_batch(seeds.unionByName(late.select(seeds.columns)))


@register(
    "cdc_debezium_materialize",
    """
    WITH ranked AS (
      SELECT user_id, value, ts, event_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT ts, event_id, user_id, value
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    """,
    doc="debezium-json round trip — the flagship Flink 1.11 CDC "
        "format (DebeziumJsonDeserializationSchema.java:122): events "
        "are serialized into Debezium envelopes ('error' rows as op=d "
        "deletes with a before-image, everything else op=c), parsed "
        "back into +I/-U/+U/-D changelog rows (sources/cdc.py, pure "
        "JVM from_json/to_json — no Python in the path), and the "
        "changelog is materialized to final table state: last change "
        "per user_id wins, a trailing delete erases the key. The "
        "oracle states the endpoint directly (last row per user, "
        "dropped if it is a delete). Scale: serialize+parse are "
        "map-only; materialization is ONE shuffle by primary key.",
)
def cdc_debezium_materialize(spark, sf_dir):
    from ..sources.cdc import materialize_upsert, parse_debezium_json
    e = t(spark, sf_dir, "events")
    is_del = F.col("event_type") == "error"
    payload = F.struct(F.col("user_id"), F.col("value"))
    env = e.select(
        "ts", "event_id",
        F.to_json(F.struct(
            F.when(is_del, payload).alias("before"),
            F.when(~is_del, payload).alias("after"),
            F.when(is_del, F.lit("d")).otherwise(F.lit("c")).alias("op"),
            (F.unix_timestamp("ts") * 1000).alias("ts_ms"),
        )).alias("payload"))
    parsed = parse_debezium_json(env, "payload",
                                 "user_id bigint, value double",
                                 keep_cols=("ts", "event_id"))
    return materialize_upsert(parsed, keys=["user_id"],
                              order_cols=["ts", "event_id"])


@register(
    "cdc_canal_materialize",
    """
    WITH ranked AS (
      SELECT user_id, value, epoch_ms(ts) AS ts_ms, event_id,
             event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT ts_ms, event_id, user_id, value
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    """,
    doc="canal-json round trip — the second Flink 1.11 CDC format "
        "(CanalJsonDeserializationSchema.java:112), exercising the "
        "parts debezium lacks: multi-row `data` ARRAYS (envelopes "
        "batch up to a handful of rows, like Canal batching one MySQL "
        "transaction) and UPDATE `old` entries carrying ONLY the "
        "changed field (the before-image patches absent keys from "
        "data — presence-checked, sources/cdc.py). Events serialize "
        "as INSERT (first row per user), UPDATE (later rows, old = "
        "{value: previous value}), DELETE ('error' rows); parse back "
        "to +I/-U/+U/-D and materialize last-change-wins per user_id. "
        "The oracle states the endpoint directly (last row per user, "
        "dropped if delete). Scale: serialize is one keyed window + "
        "one groupBy into envelopes; parse is map-only JVM from_json; "
        "materialization is ONE shuffle by primary key.",
)
def cdc_canal_materialize(spark, sf_dir):
    from ..sources.cdc import materialize_upsert, parse_canal_json
    e = t(spark, sf_dir, "events")
    wk = W.partitionBy("user_id").orderBy("ts", "event_id")
    rows = e.select(
        "user_id", "value", "event_id", "event_type",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        F.row_number().over(wk).alias("_rn"),
        F.lag("value").over(wk).alias("_prev"))
    op = (F.when(F.col("event_type") == "error", F.lit("DELETE"))
          .when(F.col("_rn") == 1, F.lit("INSERT"))
          .otherwise(F.lit("UPDATE")))
    d = F.struct("ts_ms", "event_id", "user_id", "value")
    # old carries ONLY the changed field; a null prev would be
    # dropped by to_json, degrading to patch-everything-from-data —
    # still spec-legal, so coalesce keeps the envelope deterministic
    o = F.struct(F.coalesce(F.col("_prev"), F.col("value"))
                 .alias("value"))
    env = (rows
           .withColumn("op", op)
           .withColumn("pair", F.struct(d.alias("d"), o.alias("o")))
           .groupBy("user_id", "op",
                    F.pmod(F.col("event_id"), F.lit(2)).alias("_b"))
           .agg(F.array_sort(F.collect_list("pair")).alias("pairs"))
           .select(F.to_json(F.struct(
               F.transform("pairs", lambda x: x["d"]).alias("data"),
               F.when(F.col("op") == "UPDATE",
                      F.transform("pairs", lambda x: x["o"]))
               .alias("old"),
               F.col("op").alias("type"))).alias("payload")))
    parsed = parse_canal_json(
        env, "payload",
        "ts_ms bigint, event_id bigint, user_id bigint, value double")
    return materialize_upsert(parsed, keys=["user_id"],
                              order_cols=["ts_ms", "event_id"])


@register(
    "streaming_iterate_halving",
    """
    WITH RECURSIVE it AS (
      SELECT o_orderkey AS okey,
             CAST(o_orderkey // 2 AS BIGINT) AS cur,
             CAST(1 AS BIGINT) AS steps
      FROM orders WHERE o_orderkey % 25 = 0
      UNION ALL
      SELECT okey, CAST(cur // 2 AS BIGINT), steps + 1
      FROM it WHERE cur > 1
    )
    SELECT okey, cur, steps FROM it WHERE cur <= 1
    """,
    doc="DataStream.iterate as a driver-checkable face "
        "(DataStream.java:520, IterativeStream.closeWith): seed "
        "every 25th order key into the feedback loop, the body "
        "halves it and counts steps, rows exit when the value "
        "reaches <=1 — the canonical convergence-loop shape of the "
        "reference's streaming-iteration examples. Runs the REAL "
        "streaming mechanism (one continuously-running query whose "
        "feedback files become its own next micro-batches, "
        "streaming/iterate.iterate_stream); the oracle is the exact "
        "recursive-CTE unrolling of the same loop. Scale: loop depth "
        "is log2(max key) supersteps, independent of data size; each "
        "superstep is one distributed micro-batch over the feedback "
        "channel, no driver row-work.",
)
def streaming_iterate_halving(spark, sf_dir):
    from ..streaming.iterate import iterate_stream
    orders = t(spark, sf_dir, "orders")
    seed = (orders.where(F.col("o_orderkey") % 25 == 0)
            .select(F.col("o_orderkey").alias("okey"),
                    F.col("o_orderkey").cast("bigint").alias("cur"),
                    F.lit(0).cast("bigint").alias("steps")))

    def body(df):
        return df.select(
            "okey",
            F.floor(F.col("cur") / 2).cast("bigint").alias("cur"),
            (F.col("steps") + 1).alias("steps"))

    return iterate_stream(spark, seed, body, F.col("cur") <= 1)


@register(
    "streaming_iterate_chain_walk",
    """
    WITH sub AS (
      SELECT o_custkey AS ckey, o_orderkey AS okey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_custkey) AS cnt
      FROM orders WHERE o_custkey % 20 = 0
    )
    SELECT ckey, okey, CAST(rn AS BIGINT) AS depth, TRUE AS done
    FROM sub WHERE rn = LEAST(cnt, 8)
    """,
    doc="DataStream.iterate with a JOIN in the loop body — the "
        "Gelly-style message-passing shape (r13 verdict ask #8: "
        "harden the feedback mechanism beyond per-row transforms; "
        "reference IterativeStream.closeWith + the Gelly "
        "scatter-gather loop over DataSet.iterateDelta, "
        "DataSet.java:1179). Each customer's orders form a successor "
        "chain (order -> next order by key); the frontier seeds at "
        "every 20th customer's first order and each superstep "
        "stream-static JOINS the feedback frontier against the "
        "static edge table to advance one hop, rows exiting when "
        "the chain ends or at the 8-hop cap. The oracle states the "
        "walk's closed form independently (row_number/count window: "
        "the walk must land on order #LEAST(cnt, 8)). Scale: loop "
        "depth is min(8, max chain length) supersteps independent "
        "of data size; the per-superstep join is a broadcast "
        "equi-join (the %20 gate makes the edge table dim-sized; at "
        "full scale drop the hint and each superstep is one keyed "
        "shuffle of the SHRINKING frontier, never the full fact).",
)
def streaming_iterate_chain_walk(spark, sf_dir):
    from ..streaming.iterate import iterate_stream
    orders = t(spark, sf_dir, "orders").where(F.col("o_custkey") % 20
                                              == 0)
    w = W.partitionBy("o_custkey").orderBy("o_orderkey")
    edges = (orders.select(F.col("o_custkey").alias("e_ckey"),
                           F.col("o_orderkey").alias("e_okey"),
                           F.lead("o_orderkey").over(w).alias("e_nxt"))
             .persist())
    seed = (orders.groupBy(F.col("o_custkey").alias("ckey"))
            .agg(F.min("o_orderkey").alias("okey"))
            .select("ckey", "okey",
                    F.lit(1).cast("bigint").alias("depth"),
                    F.lit(False).alias("done")))

    def body(df):
        j = df.join(F.broadcast(edges),
                    (df["ckey"] == edges["e_ckey"])
                    & (df["okey"] == edges["e_okey"]), "left")
        adv = (F.col("e_nxt").isNotNull() & (F.col("depth") < 8)
               & ~F.col("done"))
        return j.select(
            "ckey",
            F.when(adv, F.col("e_nxt")).otherwise(F.col("okey"))
            .alias("okey"),
            F.when(adv, F.col("depth") + 1).otherwise(F.col("depth"))
            .alias("depth"),
            F.when(adv, F.lit(False)).otherwise(F.lit(True))
            .alias("done"))

    return iterate_stream(spark, seed, body, F.col("done"))
