"""Batch-mode contract entries for the streaming window builders
(streaming/windows.py): the SAME lineage objects the streaming tests run
against a readStream, executed here over the batch events table so the
DuckDB oracle can pin the semantics (window alignment, session gap
boundaries, inclusive/exclusive edges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from busdata_pipeline_spark.plans.registry import query
from busdata_pipeline_spark.scratch import scratch_dir
from busdata_pipeline_spark.sources import table
from busdata_pipeline_spark.streaming.replay import (
    await_or_raise,
    cdc_merge_replay,
    dedup_replay,
    drain,
    ewma_stream_replay,
    replay_scratch,
    stage_batches,
    staged_stream,
    stream_join_replay,
    stream_left_join_replay,
    watermark_replay,
)
from busdata_pipeline_spark.streaming.windows import (
    session_stats,
    sliding_counts,
    tumbling_counts,
)


@query(
    "st_tumbling_hourly",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM events
GROUP BY 1
""",
)
def st_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h window == epoch-aligned hour truncation."""
    return tumbling_counts(table(spark, sf_dir, "events"), "1 hour")


@query(
    "st_sliding_2h_1h",
    oracle="""
WITH starts AS (
  SELECT date_trunc('hour', ts) AS window_start FROM events
  UNION ALL
  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR FROM events
)
SELECT window_start, COUNT(*) AS n_events
FROM starts GROUP BY 1
""",
)
def st_sliding_2h_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2h/1h: every event lands in exactly two hour-aligned
    windows — the oracle materializes that membership explicitly."""
    return sliding_counts(table(spark, sf_dir, "events"), "2 hours", "1 hour")


@query(
    "st_watermark_late_drop",
    # Encodes the empirically-pinned watermark semantics (see
    # streaming/replay.py): rows of the late batch are dropped iff their
    # window end <= max(ts of the first two batches) - 2h, and only
    # windows with end <= max(ts of the future batch) - 2h are emitted
    # in append mode before the stream stops.
    oracle="""
WITH b1 AS (
  SELECT ts, value FROM events
  WHERE CAST(ts AS DATE) = DATE '2024-01-01' AND event_id % 2 = 0),
fill AS (
  SELECT ts, value FROM events
  WHERE CAST(ts AS DATE) = DATE '2024-01-01' AND event_id % 2 = 1
    AND EXTRACT(hour FROM ts) >= 23),
late AS (
  SELECT ts, value FROM events
  WHERE CAST(ts AS DATE) = DATE '2024-01-01' AND event_id % 2 = 1
    AND EXTRACT(hour FROM ts) < 23),
fut AS (
  SELECT ts, value FROM events
  WHERE CAST(ts AS DATE) = DATE '2024-01-02'),
wm1 AS (
  SELECT MAX(ts) - INTERVAL 2 HOUR AS wm
  FROM (SELECT ts FROM b1 UNION ALL SELECT ts FROM fill)),
wmf AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS wm FROM fut),
kept AS (
  SELECT ts, value FROM b1
  UNION ALL SELECT ts, value FROM fill
  UNION ALL
  SELECT late.ts, late.value FROM late, wm1
  WHERE date_trunc('hour', late.ts) + INTERVAL 1 HOUR > wm1.wm
  UNION ALL SELECT ts, value FROM fut
)
SELECT date_trunc('hour', ts) AS window_start,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM kept
GROUP BY 1
HAVING window_start + INTERVAL 1 HOUR <= (SELECT wm FROM wmf)
""",
)
def st_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 driver-visible: an ACTUAL streaming execution (readStream over
    a four-file replay, withWatermark('2 hours'), tumbling 1h append) —
    batch 1 = day-1 even-id rows (on time), batch 2 = day-1 odd rows of
    hour 23 (filler that seals the watermark), batch 3 = the remaining
    day-1 odd rows arriving LATE (dropped iff window end <= watermark),
    batch 4 = day-2 rows (advance the watermark so finalized windows
    emit).  The oracle recomputes the exact kept/dropped/emitted set in
    SQL, so the drop-vs-keep decision itself is what's hash-checked."""
    ev = table(spark, sf_dir, "events")
    day1 = ev.where(F.to_date("ts") == F.lit("2024-01-01").cast("date"))
    b1 = day1.where(F.col("event_id") % 2 == 0)
    fill = day1.where((F.col("event_id") % 2 == 1) & (F.hour("ts") >= 23))
    late = day1.where((F.col("event_id") % 2 == 1) & (F.hour("ts") < 23))
    fut = ev.where(F.to_date("ts") == F.lit("2024-01-02").cast("date"))
    return watermark_replay(spark, [b1, fill, late, fut])


@query(
    "st_dedup_exactly_once",
    # Exactly-once under redelivery: every batch-2 row is a byte-identical
    # redelivery of a batch-1 row and must be suppressed by the bounded
    # dedup state; the emitted set is therefore exactly the distinct
    # day-1 rows — a closed-form oracle.
    oracle="""
SELECT event_id, ts, ROUND(value, 6) AS value
FROM events
WHERE CAST(ts AS DATE) = DATE '2024-01-01'
""",
)
def st_dedup_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4/S8 driver-visible: a REAL streaming
    ``dropDuplicatesWithinWatermark`` replay — batch 1 = day-1 even-id
    rows, batch 2 = the SAME rows redelivered (an at-least-once
    transport's duplicate delivery), batch 3 = day-1 odd rows.  The
    26h state bound covers the whole replay, so every redelivered row is
    suppressed and the emitted set is exactly the distinct input; at
    scale the same operator holds state only for one delay window per
    key instead of forever."""
    ev = table(spark, sf_dir, "events")
    day1 = ev.where(F.to_date("ts") == F.lit("2024-01-01").cast("date"))
    b1 = day1.where(F.col("event_id") % 2 == 0)
    b3 = day1.where(F.col("event_id") % 2 == 1)
    out = dedup_replay(spark, [b1, b1, b3])
    return out.select(
        "event_id", "ts", F.round("value", 6).alias("value")
    )


@query(
    "st_session_5min",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, value, event_id,
    CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) >= 300 OR LAG(ts) OVER w IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM events
  -- event_id tiebreak: with duplicate (user_id, ts) rows the island
  -- numbering must see the SAME total order in both window passes, or
  -- a tie group can split across sessions nondeterministically
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 5 MINUTE AS session_end,
       COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
FROM numbered GROUP BY user_id, session_id
""",
)
def st_session_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (5 min gap) == gaps-and-islands: a gap of exactly
    the window length starts a NEW session (session end is exclusive) —
    the edge case the oracle's >= 300 encodes."""
    return session_stats(table(spark, sf_dir, "events"), "5 minutes")


@query(
    "st_stream_join_attribution",
    # The streamed inner interval join emits exactly the on-time pairs:
    # the day-1 clicks of user_id % 3 == 0 are replayed two full batches
    # after day 3, when the global watermark (min of both sources, -1h
    # delay) sits in day 3 — far past both the late-input filter bound
    # and the right-state eviction bound (rts + 2h < watermark) for any
    # day-1 partner view.  The oracle therefore joins the ON-TIME click
    # subset against all views; the late clicks' would-be matches are
    # the hash-checked difference (pytest asserts they exist).
    oracle="""
WITH clicks AS (
  SELECT user_id, ts AS lts FROM events
  WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-04 00:00:00'
    AND NOT (ts < TIMESTAMP '2024-01-02 00:00:00' AND user_id % 3 = 0)),
views AS (
  SELECT user_id, ts AS rts, value AS rval FROM events
  WHERE event_type = 'view' AND ts < TIMESTAMP '2024-01-04 00:00:00')
SELECT date_trunc('hour', c.lts) AS click_hour,
       COUNT(*) AS n_pairs,
       ROUND(SUM(v.rval), 2) AS view_value
FROM clicks c
JOIN views v ON v.user_id = c.user_id
  AND v.rts >= c.lts - INTERVAL 2 HOUR AND v.rts <= c.lts
GROUP BY 1
""",
)
def st_stream_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM inner interval join, driver-visible: an
    actual two-source Structured Streaming execution (readStream × 2,
    1h watermarks, append mode) attributing each click to the same
    user's views in the trailing 2 hours.  Batches 0-2 replay days 1-3
    on time (one file per source per micro-batch); batch 3 replays the
    held-back day-1 clicks (user_id % 3 == 0) LATE, after the watermark
    has advanced ~2 days — they are dropped at input and their partner
    state is evicted, so they contribute no pairs.  The kept/dropped
    split is what the oracle hash-checks."""
    ev = table(spark, sf_dir, "events")

    def day(n: int):
        return (F.col("ts") >= F.lit(f"2024-01-0{n} 00:00:00").cast("timestamp")) & (
            F.col("ts") < F.lit(f"2024-01-0{n + 1} 00:00:00").cast("timestamp")
        )

    clicks = ev.where(F.col("event_type") == "click")
    views = ev.where(F.col("event_type") == "view")
    late_pred = F.col("user_id") % 3 == 0
    sentinel = spark.range(1).select(
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("2024-01-03 23:59:00").cast("timestamp").alias("ts"),
        F.lit(0.0).alias("value"),
    )
    left = [
        clicks.where(day(1) & ~late_pred),
        clicks.where(day(2)),
        clicks.where(day(3)),
        clicks.where(day(1) & late_pred),
    ]
    right = [
        views.where(day(1)),
        views.where(day(2)),
        views.where(day(3)),
        sentinel,
    ]
    return stream_join_replay(spark, left, right)


@query(
    "st_jdbc_roundtrip",
    # The oracle is the straight batch aggregate; the Spark side earns it
    # the hard way — two full streaming executions into a real embedded
    # database (the second a forced total redelivery) must land exactly
    # one copy of every row for the counts and sum to hash-match.
    oracle="""
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT user_id) AS n_users,
       ROUND(SUM(value), 2) AS total_value
FROM events
WHERE CAST(ts AS DATE) = DATE '2024-01-01'
""",
)
def st_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 × T4 driver-visible: day-1 events go drop-dir -> readStream ->
    foreachBatch keyed upsert into an embedded Derby database
    (streaming/ingest.stream_into_jdbc), then the SAME stream is replayed
    with a lost checkpoint (worst-case at-least-once redelivery), and the
    aggregate is computed from a JDBC scan of the database — so the
    hash-check covers the full relational round-trip AND the
    exactly-once contract, not a parquet shortcut."""
    from py4j.protocol import Py4JJavaError

    from busdata_pipeline_spark.operators.warehouse import read_jdbc
    from busdata_pipeline_spark.streaming.ingest import stream_into_jdbc

    ev = table(spark, sf_dir, "events")
    day1 = ev.where(F.to_date("ts") == F.lit("2024-01-01").cast("date")).select(
        "event_id", "ts", "user_id", "value"
    )
    with scratch_dir("st_jdbc_") as root:
        drop, db = f"{root}/drop", f"{root}/db"
        day1.coalesce(1).write.json(drop)
        url = f"jdbc:derby:{db};create=true"
        stream = spark.readStream.schema(
            "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE"
        ).json(drop)
        try:
            # ck2 = fresh checkpoint: full redelivery
            for attempt in ("ck1", "ck2"):
                q = stream_into_jdbc(stream, url, "day1_events",
                                     checkpoint=f"{root}/{attempt}",
                                     key="event_id")
                await_or_raise(q, 120)
            return read_jdbc(spark, url, "day1_events").agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct("user_id").alias("n_users"),
                F.round(F.sum("value"), 2).alias("total_value"),
            ).localCheckpoint(eager=True)
        finally:
            # Embedded Derby holds a booted database's files open in the
            # JVM until it is shut down, and reports a clean shutdown
            # (SQLState 08006) or a database never created (XJ004) as
            # an exception.
            try:
                spark._jvm.java.sql.DriverManager.getConnection(
                    f"jdbc:derby:{db};shutdown=true")
            except Py4JJavaError as e:
                if e.java_exception.getSQLState() not in ("08006", "XJ004"):
                    raise


@query(
    "st_cdc_merge_apply",
    # Closed-form net effect of the three ordered CDC batches: batch 1
    # updates custkey%3 (+100, segment UPDATED-1), batch 2 deletes
    # custkey%5 and inserts custkey%7 clones at key+1e6, batch 3 updates
    # the inserted clones (+50).  Double arithmetic (x+100, x+50) is the
    # identical IEEE op on both engines — no rounding required.
    oracle="""
WITH upd AS (
  SELECT c_custkey, c_name,
         c_acctbal + CASE WHEN c_custkey % 3 = 0 THEN 100 ELSE 0 END
           AS c_acctbal,
         CASE WHEN c_custkey % 3 = 0 THEN 'UPDATED-1' ELSE c_mktsegment END
           AS c_mktsegment
  FROM customer),
kept AS (SELECT * FROM upd WHERE c_custkey % 5 <> 0),
ins AS (
  SELECT c_custkey + 1000000 AS c_custkey, c_name,
         c_acctbal + 50 AS c_acctbal, 'INSERTED' AS c_mktsegment
  FROM customer WHERE c_custkey % 7 = 0)
SELECT * FROM kept UNION ALL SELECT * FROM ins ORDER BY c_custkey
""",
)
def st_cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming change-data-apply, driver-visible: three ordered CDC
    batches (update / delete+insert / update-after-insert) replayed
    through a real foreachBatch MERGE loop into a parquet target
    (streaming/replay.cdc_merge_replay); the returned table is the final
    target state, so the hash-check covers batch ordering, every MERGE
    branch, and cross-batch update-after-insert."""
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    k = F.col("c_custkey")
    b1 = cust.where(k % 3 == 0).select(
        "c_custkey", "c_name",
        (F.col("c_acctbal") + 100).alias("c_acctbal"),
        F.lit("UPDATED-1").alias("c_mktsegment"),
        F.lit("update").alias("op"),
    )
    dels = cust.where(k % 5 == 0).select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment",
        F.lit("delete").alias("op"),
    )
    ins = cust.where(k % 7 == 0).select(
        (k + 1000000).alias("c_custkey"), "c_name", "c_acctbal",
        F.lit("INSERTED").alias("c_mktsegment"),
        F.lit("insert").alias("op"),
    )
    b2 = dels.unionByName(ins)
    b3 = cust.where(k % 7 == 0).select(
        (k + 1000000).alias("c_custkey"), "c_name",
        (F.col("c_acctbal") + 50).alias("c_acctbal"),
        F.lit("INSERTED").alias("c_mktsegment"),
        F.lit("update").alias("op"),
    )
    out = cdc_merge_replay(
        spark, cust, [b1, b2, b3], key="c_custkey",
        schema_ddl=("c_custkey bigint, c_name string, c_acctbal double, "
                    "c_mktsegment string, op string"),
    )
    return out.orderBy("c_custkey")


@query(
    "st_stream_static_enrich",
    oracle="""
SELECT e.event_id, e.user_id, c.c_mktsegment, e.value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE CAST(e.ts AS DATE) = DATE '2024-01-01'
ORDER BY e.event_id
""",
)
def st_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC dimension join (the enrichment class between plain
    projection and stream-stream join): day-1 events replayed as a real
    stream in two micro-batches, each joined against the static customer
    dim — Spark re-plans the broadcast per micro-batch, so dim updates
    between batches would be picked up (the canonical streaming-enrich
    contract).  Output is the enriched row set, hash-checked against the
    batch join."""
    ev = table(spark, sf_dir, "events")
    day1 = ev.where(F.to_date("ts") == F.lit("2024-01-01").cast("date")).select(
        "event_id", "user_id", "value"
    )
    dim = table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )

    with replay_scratch(spark, "st_static_") as scratch:
        # two micro-batches: even / odd event ids
        src = staged_stream(
            spark,
            [day1.where(F.col("event_id") % 2 == i) for i in (0, 1)],
            f"{scratch}/stream",
            "event_id bigint, user_id bigint, value double",
        )
        enriched = src.join(
            F.broadcast(dim), src.user_id == dim.c_custkey
        ).select("event_id", "user_id", "c_mktsegment", "value")
        return drain(enriched, lambda t: t.orderBy("event_id"),
                     checkpoint=f"{scratch}/ckpt")


@query(
    "st_stream_left_join",
    # Closed-form fleet: users 1-20 click once (hour 10 for 1-10, hour
    # 11 for 11-20); only even users have a view 30 min before their
    # click.  The LEFT OUTER interval join must emit every click, with
    # the odd users' null rows surfacing only after the watermark seals
    # their 2 h lookback interval.
    oracle="""
WITH c AS (
  SELECT u,
         TIMESTAMP '2024-01-01 10:00:00'
           + to_seconds(CASE WHEN u > 10 THEN 3600 ELSE 0 END + 60 * u)
           AS lts,
         CAST(u AS DOUBLE) AS lval
  FROM range(1, 21) t(u)),
v AS (
  SELECT u, lts - INTERVAL 30 MINUTE AS rts,
         CAST(u AS DOUBLE) * 10 AS rval
  FROM c WHERE u % 2 = 0)
SELECT date_trunc('hour', c.lts) AS click_hour,
       CAST(COUNT(*) AS BIGINT) AS n_clicks,
       CAST(COUNT(v.rval) AS BIGINT) AS n_matched,
       ROUND(COALESCE(SUM(v.rval), 0), 2) AS view_value
FROM c LEFT JOIN v
  ON v.u = c.u AND v.rts >= c.lts - INTERVAL 2 HOUR AND v.rts <= c.lts
GROUP BY 1 ORDER BY 1
""",
)
def st_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join, driver-visible: the
    matched pairs AND the watermark-sealed null emissions are both in
    the hash (streaming/replay.stream_left_join_replay)."""
    base = F.lit("2024-01-01 10:00:00").cast("timestamp")

    def clicks(lo: int, hi: int) -> DataFrame:
        return spark.range(lo, hi).select(
            F.col("id").alias("user_id"),
            (base + F.make_interval(
                secs=F.when(F.col("id") > 10, 3600).otherwise(0)
                + 60 * F.col("id"))).alias("ts"),
            F.col("id").cast("double").alias("value"),
        )

    def views(lo: int, hi: int) -> DataFrame:
        return clicks(lo, hi).where(F.col("user_id") % 2 == 0).select(
            "user_id",
            (F.col("ts") - F.expr("INTERVAL 30 MINUTES")).alias("ts"),
            (F.col("value") * 10).alias("value"),
        )

    return stream_left_join_replay(
        spark,
        left_batches=[clicks(1, 11), clicks(11, 21)],
        right_batches=[views(1, 11), views(11, 21)],
    )


@query(
    "st_trending_types",
    oracle="""
WITH c AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2)
SELECT window_start, event_type, n, rank FROM (
  SELECT c.*, CAST(ROW_NUMBER() OVER (
      PARTITION BY window_start ORDER BY n DESC, event_type) AS INT) AS rank
  FROM c) q
WHERE rank <= 3
""",
)
def st_trending_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending topics: top-3 event types per tumbling hour.  The COUNT
    half streams (incremental state, watermark-bounded); the RANK half
    runs downstream of the sink — the standard split for streaming
    top-k, asserted stream==batch in
    tests/test_streaming.py::test_trending_stream_equals_batch."""
    from busdata_pipeline_spark.streaming.windows import (
        rank_trending,
        type_counts_windowed,
    )

    ev = table(spark, sf_dir, "events")
    return rank_trending(type_counts_windowed(ev, "1 hour"), k=3)


@query(
    "st_stream_ewma",
    # The oracle is the BATCH recurrence replay: the streaming run over
    # a time-boundary batch split must be bit-identical to the batch
    # fold over the whole series, because per-user state (one double)
    # carries the prefix.  Replayed as a rule-14 RECURSIVE walk — the
    # original list_reduce-over-prefix-list form materialized every
    # row's full prefix (O(rows-per-key²) MEMORY), which kernel-OOMed
    # the 100× differential; the recursion carries one double per key
    # per level, linear total work, and runs the SAME IEEE fold
    # (acc = x_1; acc = 0.7*acc + 0.3*x) in the same (ts, event_id)
    # order, so results stay bit-identical.  FLOOR-quantized 6-decimal
    # cut, not ROUND — see rel_ewma_value: the fold lands on exact
    # decimal halves where the engines' ROUNDs disagree (caught by the
    # 10× replica sweep, round 8).
    oracle="""
WITH RECURSIVE p AS MATERIALIZED (
  SELECT user_id, event_id, value,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS BIGINT) AS i
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
rec AS (
  SELECT user_id, i, value AS acc FROM p WHERE i = 1
  UNION ALL
  SELECT p.user_id, p.i, 0.7 * r.acc + 0.3 * p.value
  FROM rec r JOIN p ON p.user_id = r.user_id AND p.i = r.i + 1)
SELECT p.event_id, p.user_id,
       FLOOR(r.acc * 1000000.0 + 0.5) / 1000000.0 AS ewma
FROM rec r
JOIN p ON p.user_id = r.user_id AND p.i = r.i
""",
)
def st_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful EWMA: the events table is split at day
    boundaries into three time-ordered micro-batches and replayed
    through applyInPandasWithState (per-user state = one double); the
    emitted per-event smoothed values must hash-match the batch
    recurrence over the unsplit series — stream == batch for a custom
    stateful operator, driver-checked strictly."""
    # ts IS NOT NULL is part of the contract on BOTH engines: the
    # day-bounded batch split would silently drop NULL-ts rows, and the
    # engines disagree on NULL placement in the recurrence's ORDER BY.
    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .withColumn("d", F.to_date("ts"))
    )
    cut1, cut2 = F.lit("2024-01-10").cast("date"), F.lit("2024-01-20").cast("date")
    batches = [
        ev.where(F.col("d") <= cut1),
        ev.where((F.col("d") > cut1) & (F.col("d") <= cut2)),
        ev.where(F.col("d") > cut2),
    ]
    out = ewma_stream_replay(spark, batches, alpha=0.3)
    return out.select(
        "event_id", "user_id",
        (F.floor(F.col("ewma") * 1000000.0 + 0.5) / 1000000.0)
        .alias("ewma"),
    )


@query(
    "st_stream_countmin",
    # Flat (unsplit) CMS replay: per-micro-batch partial counters merged
    # by addition must equal the one-pass sketch EXACTLY — counting is
    # associative, which is the whole mergeability claim being driver-
    # checked here.
    oracle="""
WITH items AS (
  SELECT CAST(user_id AS VARCHAR) AS item FROM events
  WHERE user_id IS NOT NULL),
slots AS (
  SELECT item, t.r,
         CAST(('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':' || item),
                              1, 15))::UBIGINT AS BIGINT) % 64 AS bucket
  FROM items, range(4) t(r)),
counters AS (
  SELECT r, bucket, COUNT(*) AS cnt FROM slots GROUP BY 1, 2),
exact AS (
  SELECT item, COUNT(*) AS exact_n FROM items GROUP BY item
  ORDER BY exact_n DESC, item LIMIT 10),
probes AS (
  SELECT e.item, t.r,
         CAST(('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':' || e.item),
                              1, 15))::UBIGINT AS BIGINT) % 64 AS bucket
  FROM exact e, range(4) t(r)),
est AS (
  SELECT p.item, MIN(c.cnt) AS cms_est
  FROM probes p JOIN counters c ON c.r = p.r AND c.bucket = p.bucket
  GROUP BY p.item)
SELECT CAST(e.item AS BIGINT) AS user_id, e.exact_n, s.cms_est,
       s.cms_est - e.exact_n AS overcount
FROM exact e JOIN est s USING (item)
ORDER BY e.exact_n DESC, user_id
""",
)
def st_stream_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CountMin heavy-user sketch: the event stream is split
    into three day-bounded micro-batches, each batch builds its PARTIAL
    (r, bucket) counter grid, and the partials merge by addition — the
    plan literally contains the per-batch sub-aggregations, so the
    driver's hash check proves sketch mergeability (partial+merge ==
    one-pass), the property that lets a firehose keep heavy-hitter
    state in depth*width counter rows per executor forever.  The top-10
    heaviest users are then point-queried (min over rows) against their
    exact counts; CMS never undercounts.  The REAL readStream leg
    (state-store incremental aggregation, availableNow trigger) is
    pinned stream==batch in tests/test_sketch_filters.py."""
    from busdata_pipeline_spark.streaming.sketches import (
        cms_counters,
        cms_point_query,
    )

    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .withColumn("d", F.to_date("ts"))
    )
    cut1 = F.lit("2024-01-10").cast("date")
    cut2 = F.lit("2024-01-20").cast("date")
    # NULL-ts rows ride batch 1: the three predicates must PARTITION the
    # non-null-user stream (the oracle counts every such event; a
    # NULL date failing all three bounds would silently vanish from the
    # merged sketch).
    batches = [
        ev.where((F.col("d") <= cut1) | F.col("d").isNull()),
        ev.where((F.col("d") > cut1) & (F.col("d") <= cut2)),
        ev.where(F.col("d") > cut2),
    ]
    partials = [cms_counters(b, "user_id") for b in batches]
    merged = (
        partials[0].unionAll(partials[1]).unionAll(partials[2])
        .groupBy("r", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    exact = (
        ev.select(F.col("user_id").cast("string").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), "item")
        .limit(10)
    )
    est = cms_point_query(merged, exact.select("item"), "item")
    return (
        exact.join(est, "item")
        .select(
            F.col("item").cast("long").alias("user_id"),
            "exact_n",
            "cms_est",
            (F.col("cms_est") - F.col("exact_n")).alias("overcount"),
        )
        .orderBy(F.desc("exact_n"), "user_id")
    )


def _lr_gate_oracle() -> str:
    """Batch replay of the streaming quality gate: the same unrolled
    10-round LR training (curation_ext._lr_round_sql), then score every
    doc and keep p >= 0.5, score half-up-quantized to 6 decimals."""
    from busdata_pipeline_spark.plans.curation_ext import (
        _LR_FEATS_SQL,
        _LR_ROUNDS,
        _lr_round_sql,
    )

    body = ",".join(_lr_round_sql(i) for i in range(1, _LR_ROUNDS + 1))
    return f"""
WITH {_LR_FEATS_SQL.strip()},{body},
scored AS (
  SELECT f.doc_id,
    1.0 / (1.0 + exp(-(w.w0 + w.w1 * f1 + w.w2 * f2 + w.w3 * f3))) AS p
  FROM feats f CROSS JOIN w{_LR_ROUNDS}_ w)
SELECT doc_id,
  floor(p * 1000000.0 + 0.5) / 1000000.0 AS score
FROM scored WHERE p >= 0.5 ORDER BY doc_id
"""


@query("st_stream_quality_gate", oracle=_lr_gate_oracle())
def st_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-in-the-loop streaming ingestion: the LR quality classifier
    is trained batch-side (curation_ext._lr_fit — same 10 quantized GD
    rounds the oracle replays), its 4 weights become broadcast literals
    in a REAL readStream over the doc corpus staged as two micro-
    batches, and only docs scoring p >= 0.5 pass the gate — the
    streaming quality-filter every continuously-ingesting training-data
    pipeline runs between crawl and warehouse.  Scoring is a stateless
    codegen'd projection per micro-batch (no state store, no shuffle);
    the kept set is hash-checked against the batch replay, so the
    stream path provably drops exactly the docs batch training would."""
    from busdata_pipeline_spark.plans.curation_ext import (
        _lr_features,
        _lr_fit,
    )

    feats = _lr_features(spark, sf_dir)
    _hist, w = _lr_fit(feats)

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    with replay_scratch(spark, "st_gate_") as scratch:
        src = staged_stream(
            spark,
            [docs.where(F.col("doc_id") % 2 == i) for i in (0, 1)],
            f"{scratch}/stream",
            "doc_id bigint, text string, n_chars bigint",
        )
        toks = F.filter(
            F.split(F.trim("text"), " "), lambda x: x != F.lit("")
        )
        s = src.select("doc_id", "n_chars", toks.alias("t")).where(
            F.size("t") > 0
        )
        f1 = F.size("t").cast("double") / F.lit(100.0)
        f2 = (
            F.col("n_chars").cast("double")
            / F.size("t").cast("double")
            / F.lit(10.0)
        )
        f3 = (
            F.size(
                F.filter(
                    F.col("t"),
                    lambda x: (x == F.lit("a")) | (x == F.lit("the")),
                )
            ).cast("double")
            / F.size("t").cast("double")
        )
        z = (
            F.lit(w[0]) + F.lit(w[1]) * f1 + F.lit(w[2]) * f2
            + F.lit(w[3]) * f3
        )
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        gated = s.select(
            "doc_id",
            (
                F.floor(p * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
            ).alias("score"),
            p.alias("_p"),
        ).where(F.col("_p") >= 0.5).drop("_p")
        return drain(gated, lambda t: t.orderBy("doc_id"),
                     checkpoint=f"{scratch}/ckpt")


# ---------------------------------------------------------------------------
# transformWithStateInPandas, driver-visible (VERDICT r9 task #7): the
# event-time-timer timeout detector's verdict set as a registered query
# the driver hash-checks directly — previously this tier was only
# pytest/replay-pinned (tools/tws_scale_replay.py at the 100x rung).

_TWS_GAP_MS = 28_800_000     # 8 h — near the median inter-ping gap, so
_TWS_WM_MS = 10_000          # the verdict mix has both outcomes
_TWS_BASE = "2024-01-01 00:00:00"
_TWS_OPD = "01JAN2024:00:00:00"   # breadcrumb_timestamp -> _TWS_BASE day


@query(
    "st_trip_timeout_verdicts",
    # The oracle replays the per-trip episode state machine (open at a
    # ping; follow-up >= gap later -> timed_out + reopen; < gap ->
    # completed + reset) as a RECURSIVE walk over the event-time-ordered
    # pings — each level advances one trip's open-episode pointer by 1
    # (timeout) or 2 (completed pair), exactly the sequential fold the
    # stateful processor runs — then closes still-open episodes with
    # the engine's final timer flush: timed_out iff final watermark
    # (max event ms - delay) >= first_ms + gap, the same >= boundary
    # the timer path uses (streaming/stateful.py TripTimeoutProcessor).
    # Ties within a trip carry identical (act) tuples, so any tie order
    # yields the same verdict multiset.  pings is referenced three
    # times per level -> MATERIALIZED (ORACLES.md rule 7).
    oracle=f"""
WITH RECURSIVE pings AS MATERIALIZED (
  SELECT user_id AS trip_id,
         CAST(FLOOR(EPOCH(ts) - EPOCH(TIMESTAMP '{_TWS_BASE}')) AS BIGINT)
           AS act,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts)
              AS BIGINT) AS i
  FROM events WHERE ts IS NOT NULL),
wm AS MATERIALIZED (
  SELECT MAX(act) * 1000 - {_TWS_WM_MS} AS final_wm_ms FROM pings),
rec AS (
  SELECT trip_id, CAST(1 AS BIGINT) AS i
  FROM (SELECT DISTINCT trip_id FROM pings)
  UNION ALL
  SELECT r.trip_id,
         r.i + CASE WHEN (p2.act - p1.act) * 1000 >= {_TWS_GAP_MS}
                    THEN 1 ELSE 2 END
  FROM rec r
  JOIN pings p1 ON p1.trip_id = r.trip_id AND p1.i = r.i
  JOIN pings p2 ON p2.trip_id = r.trip_id AND p2.i = r.i + 1),
v AS (
  SELECT r.trip_id, p1.act AS first_time,
         CASE WHEN p2.i IS NULL THEN
                CASE WHEN (SELECT final_wm_ms FROM wm)
                          >= p1.act * 1000 + {_TWS_GAP_MS}
                     THEN 'timed_out' END
              WHEN (p2.act - p1.act) * 1000 >= {_TWS_GAP_MS}
                THEN 'timed_out'
              ELSE 'completed' END AS outcome,
         CASE WHEN p2.i IS NOT NULL
                   AND (p2.act - p1.act) * 1000 < {_TWS_GAP_MS}
              THEN 2 ELSE 1 END AS n_pings
  FROM rec r
  JOIN pings p1 ON p1.trip_id = r.trip_id AND p1.i = r.i
  LEFT JOIN pings p2 ON p2.trip_id = r.trip_id AND p2.i = r.i + 1)
SELECT trip_id, first_time, CAST(n_pings AS BIGINT) AS n_pings, outcome
FROM v WHERE outcome IS NOT NULL
ORDER BY trip_id, first_time
""",
)
def st_trip_timeout_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL transformWithStateInPandas run, hash-checked: the events
    table becomes a breadcrumb stream (three event-time-ordered JSONL
    slices, strictly increasing mtimes, maxFilesPerTrigger=1 -> one
    micro-batch per slice, so the per-batch event-time walk equals the
    global walk and the 10 s watermark never drops data), and the
    EVENT-TIME-timer timeout detector (streaming/stateful.py
    TripTimeoutProcessor — RocksDB state store, per-key timers firing
    on watermark advancement) emits the verdict set the oracle replays.
    Deterministic end to end: timers are data-driven (never wall
    clock), the processor walks each batch per-ping (batch-split
    independent), and the availableNow drain fires the final-watermark
    flush for still-open episodes.  Scale shape: per-key state is three
    scalars cleared on verdict; throughput is bounded by the stream
    scan, not the state store."""
    from busdata_pipeline_spark.streaming.stateful import (
        detect_trip_timeouts,
    )

    def build(stream: DataFrame) -> DataFrame:
        return detect_trip_timeouts(
            stream, gap_ms=_TWS_GAP_MS, watermark_delay="10 seconds"
        )

    def finish(raw: DataFrame) -> DataFrame:
        return (
            raw.select(
                F.col("trip_id").cast("long").alias("trip_id"),
                F.col("first_time").cast("long").alias("first_time"),
                F.col("n_pings").cast("long").alias("n_pings"),
                "outcome",
            )
            .orderBy("trip_id", "first_time")
        )

    return _run_tws_over_events(spark, sf_dir, build, finish)


def _run_tws_over_events(spark: SparkSession, sf_dir: str,
                         build, finish) -> DataFrame:
    """Shared transformWithState-over-events runner: the events table
    as three EVENT-TIME-ordered breadcrumb JSONL slices, one per
    micro-batch (so the per-batch event-time walk equals the global
    walk and a 10 s watermark never drops data), drained through
    ``build(stream)`` into a parquet sink with availableNow (which
    fires the final-watermark timer flush); returns
    ``finish(read_back)``.  transformWithState needs the
    multi-column-family RocksDB state store, pinned for the replay."""
    from pyspark.sql.window import Window

    from busdata_pipeline_spark.streaming.ingest import stream_breadcrumbs
    from busdata_pipeline_spark.streaming.stateful import (
        ensure_protobuf_runtime,
    )

    ensure_protobuf_runtime(spark)
    ev = table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    base = F.lit(_TWS_BASE).cast("timestamp")
    crumbs = ev.select(
        F.col("user_id").alias("EVENT_NO_TRIP"),
        F.lit(1).cast("long").alias("EVENT_NO_STOP"),
        F.lit(_TWS_OPD).alias("OPD_DATE"),
        F.lit(1).cast("long").alias("VEHICLE_ID"),
        F.lit(1.0).alias("METERS"),
        F.floor(F.col("ts").cast("double") - base.cast("double"))
        .cast("long").alias("ACT_TIME"),
        F.lit(45.5).alias("GPS_LATITUDE"),
        F.lit(-122.6).alias("GPS_LONGITUDE"),
        F.ntile(3).over(Window.orderBy("ts")).alias("_slice"),
    )
    rocksdb = {
        "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    }
    with replay_scratch(spark, "st_tws_", rocksdb) as scratch:
        drop = f"{scratch}/drop"
        stage_batches(
            [crumbs.where(F.col("_slice") == i).drop("_slice")
             for i in (1, 2, 3)],
            drop, fmt="json",
        )
        out_dir = f"{scratch}/verdicts"
        q = (
            build(stream_breadcrumbs(spark, drop, max_files_per_trigger=1))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", f"{scratch}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q, 600)
        return finish(spark.read.parquet(out_dir)).localCheckpoint(
            eager=True
        )


_SESS_GAP_MS = 21_600_000    # 6 h — a different rhythm than the 8 h
                             # timeout detector, so session shapes mix
                             # multi-ping runs, gap splits, and an
                             # unflushed tail


@query(
    "st_session_gap_verdicts",
    # The oracle is plain LINEAR gap sessionization (lag + prefix-sum
    # session ids + per-session agg) — no recursion, so unlike the
    # trip-timeout replay it scales to the 100x differential rung.
    # Emission rule replayed from the processor's two close paths,
    # which by the batch-split-independence argument in
    # streaming/stateful.py EventTimeSessionProcessor reduce to a pure
    # function of event times: a session followed by a same-key ping
    # >= gap later is always emitted, and a key's FINAL session is
    # emitted iff the final watermark (max event ms - 10 s delay)
    # passes last_ms + gap with the timer's own >= boundary.  act is
    # second-granular and the stream's tstamp is rebuilt from act, so
    # act*1000 is EXACTLY the engine's event-time ms (base shift
    # cancels on both sides of every comparison).
    oracle=f"""
WITH p AS MATERIALIZED (
  SELECT user_id AS trip_id,
         CAST(FLOOR(EPOCH(ts) - EPOCH(TIMESTAMP '{_TWS_BASE}')) AS BIGINT)
           AS act,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1, 2),
-- sessionize over DISTINCT (trip, act): tied timestamps always extend
-- a session (delta 0 < gap), and collapsing them FIRST keeps the
-- running-SUM session id tie-stable (with raw rows, the ROWS-frame
-- prefix sum may enumerate tied acts in a different order than LAG
-- did, splitting a tie group across two sessions — caught at the 10x
-- replica, where every ping is replicated at the same timestamp)
g AS (
  SELECT trip_id, act, cnt,
         CASE WHEN LAG(act) OVER w IS NULL
                   OR (act - LAG(act) OVER w) * 1000 >= {_SESS_GAP_MS}
              THEN 1 ELSE 0 END AS is_new
  FROM p WINDOW w AS (PARTITION BY trip_id ORDER BY act)),
s AS (
  SELECT trip_id, act, cnt,
         SUM(is_new) OVER (PARTITION BY trip_id ORDER BY act
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM g),
agg AS (
  SELECT trip_id, sid,
         MIN(act) AS first_time, MAX(act) AS last_time,
         CAST(SUM(cnt) AS BIGINT) AS n_pings
  FROM s GROUP BY trip_id, sid),
a2 AS (
  SELECT *, MAX(sid) OVER (PARTITION BY trip_id) AS max_sid FROM agg),
wm AS (SELECT MAX(act) * 1000 - {_TWS_WM_MS} AS final_wm FROM p)
SELECT trip_id, first_time, last_time, n_pings
FROM a2
WHERE sid < max_sid
   OR (SELECT final_wm FROM wm) >= last_time * 1000 + {_SESS_GAP_MS}
ORDER BY trip_id, first_time
""",
)
def st_session_gap_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second REAL transformWithStateInPandas entry, hash-checked: the
    EVENT-TIME-timer gap sessionizer (streaming/stateful.py
    EventTimeSessionProcessor — RocksDB store, one live timer per key
    re-armed at last_seen+gap) over the same staged breadcrumb stream
    as st_trip_timeout_verdicts.  Where the timeout detector's oracle
    must replay a sequential episode walk (RECURSIVE CTE, 100x-capped),
    gap sessionization is expressible as a linear window computation —
    this entry is the scale-proof face of the stateful tier.  Scale
    shape: state is four scalars per OPEN session, cleared on close;
    output is one row per closed session; everything is bounded by the
    stream scan."""
    from busdata_pipeline_spark.streaming.stateful import (
        sessionize_event_time,
    )

    def build(stream: DataFrame) -> DataFrame:
        return sessionize_event_time(
            stream, gap_ms=_SESS_GAP_MS, watermark_delay="10 seconds"
        )

    def finish(raw: DataFrame) -> DataFrame:
        return (
            raw.select(
                F.col("trip_id").cast("long").alias("trip_id"),
                F.col("first_time").cast("long").alias("first_time"),
                F.col("last_time").cast("long").alias("last_time"),
                F.col("n_pings").cast("long").alias("n_pings"),
            )
            .orderBy("trip_id", "first_time")
        )

    return _run_tws_over_events(spark, sf_dir, build, finish)
