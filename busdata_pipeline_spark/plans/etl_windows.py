"""The transform.py window semantics (SURVEY.md §2.5 W1-W4, §2.1 S12)
registered as oracle-checked queries over the ``events`` stand-in fact
(user_id = trip analog, value = odometer analog).

These mirror operators/enrich.py exactly — same window shape, same
guards — but run on the driver's tables so the DuckDB differential gate
exercises them every round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from busdata_pipeline_spark.functions import epoch_seconds, service_key_for
from busdata_pipeline_spark.functions.timestamps import breadcrumb_timestamp
from busdata_pipeline_spark.plans.registry import query
from busdata_pipeline_spark.plans.relational import (
    D4_SQL,
    V6_SQL,
    hl_sum_sql,
    sum_exact_units,
    sum_money4,
)
from busdata_pipeline_spark.scratch import scratch_dir
from busdata_pipeline_spark.sources import table


def _user_window():
    # W1 — deterministic total order: event_id breaks ts ties.
    return Window.partitionBy("user_id").orderBy("ts", "event_id")


@query(
    "etl_w2_lag_rate",
    oracle="""
SELECT event_id, user_id,
  ROUND(
    CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) > 0
         THEN (value - LAG(value) OVER w) / (epoch(ts) - epoch(LAG(ts) OVER w))
    END, 6) + 0.0 AS rate
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def etl_w2_lag_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 — lag differencing with the Δt>0 guard (transform.py:219-230):
    speed = Δmeters/Δseconds per trip, NULL on the first row and on
    non-advancing clocks.  One window exchange, no Python."""
    ev = table(spark, sf_dir, "events")
    w = _user_window()
    dt = epoch_seconds("ts") - epoch_seconds(F.lag("ts").over(w))
    dv = F.col("value") - F.lag("value").over(w)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.when(dt > 0, dv / dt), 6).alias("rate"),
    )


@query(
    "etl_w3_lead_backfill",
    oracle="""
WITH rated AS (
  SELECT event_id, user_id,
    CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) > 0
         THEN (value - LAG(value) OVER w) / (epoch(ts) - epoch(LAG(ts) OVER w))
    END AS rate,
    ROW_NUMBER() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id,
  ROUND(CASE WHEN rn = 1 THEN LEAD(rate) OVER w2 ELSE rate END, 6) + 0.0 AS rate
FROM rated
WINDOW w2 AS (PARTITION BY user_id ORDER BY rn)
""",
)
def etl_w3_lead_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 — first-row backfill (transform.py:228-259): row 1 of a
    multi-row trip takes row 2's computed rate, even if that is NULL;
    Δt<=0 NULLs elsewhere are never resurrected (SURVEY.md §7.5.2)."""
    ev = table(spark, sf_dir, "events")
    w = _user_window()
    dt = epoch_seconds("ts") - epoch_seconds(F.lag("ts").over(w))
    dv = F.col("value") - F.lag("value").over(w)
    rate = F.when(dt > 0, dv / dt)
    return ev.select(
        "event_id",
        "user_id",
        F.round(
            F.when(F.row_number().over(w) == 1, F.lead(rate, 1).over(w)).otherwise(rate),
            6,
        ).alias("rate"),
    )


@query(
    "etl_a10_first_row_dim",
    oracle="""
SELECT user_id, event_type AS first_event_type,
  CASE WHEN isodow(ts) = 6 THEN 'Saturday'
       WHEN isodow(ts) = 7 THEN 'Sunday'
       ELSE 'Weekday' END AS service_key
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
""",
)
def etl_a10_first_row_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — group-to-dimension: the first record per trip defines the dim
    row (transform.py:146-181), incl. the Python-weekday service bucket."""
    ev = table(spark, sf_dir, "events")
    w = _user_window()
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("first_event_type"),
            service_key_for(F.to_date("ts")).alias("service_key"),
        )
    )


@query(
    "fn_opd_timestamp_decode",
    oracle="""
SELECT event_id,
  strptime(substr(enc, 1, 9), '%d%b%Y')
    + (event_id % 130000) * INTERVAL 1 SECOND AS decoded
FROM (
  SELECT event_id,
    upper(strftime(CAST(ts AS DATE), '%d%b%Y')) || ':00:00:00' AS enc
  FROM events)
""",
)
def fn_opd_timestamp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — the reference's riskiest semantic, driver-visible: encode an
    OPD_DATE-style string (``25DEC2022:00:00:00``, uppercase month) plus
    an ACT_TIME seconds-since-midnight column from the events table
    deterministically, then decode with ``breadcrumb_timestamp``
    (functions/timestamps.py, matching /root/reference/transform.py:25-59).
    ``event_id % 130000`` yields many values >= 86400, so the service-day
    rollover past midnight (transform.py:42-54) is exercised on every
    run; the oracle decodes the same string independently with DuckDB
    strptime + interval arithmetic."""
    ev = table(spark, sf_dir, "events")
    enc = F.concat(
        F.upper(F.date_format(F.to_date("ts"), "ddMMMyyyy")),
        F.lit(":00:00:00"),
    )
    act = F.pmod(F.col("event_id"), F.lit(130000))
    return ev.select(
        "event_id", breadcrumb_timestamp(enc, act).alias("decoded")
    )


@query(
    "etl_s12_upsert_new_keys",
    oracle="""
SELECT COUNT(*) AS new_users FROM (
  SELECT DISTINCT user_id FROM events e2
  WHERE e2.ts::date = DATE '2024-01-02'
    AND NOT EXISTS (
      SELECT 1 FROM events e1
      WHERE e1.ts::date = DATE '2024-01-01' AND e1.user_id = e2.user_id)
)
""",
)
def etl_s12_upsert_new_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 — ON CONFLICT DO NOTHING as dedup + left-anti join
    (transform.py:193): keys arriving on day 2 that day 1 didn't have."""
    ev = table(spark, sf_dir, "events")
    day1 = ev.where(F.to_date("ts") == F.lit("2024-01-01").cast("date")).select("user_id")
    day2 = (
        ev.where(F.to_date("ts") == F.lit("2024-01-02").cast("date"))
        .select("user_id")
        .dropDuplicates(["user_id"])
    )
    return day2.join(day1, "user_id", "left_anti").agg(
        F.count(F.lit(1)).alias("new_users")
    )


@query(
    "etl_incremental_rollup",
    oracle="""
SELECT user_id,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  ROUND(SUM(value), 6) AS total_value,
  ROUND(MAX(value), 6) AS max_value
FROM events
WHERE CAST(ts AS DATE) = DATE '2024-01-01'
   OR CAST(ts AS DATE) = DATE '2024-01-02'
GROUP BY user_id
""",
)
def etl_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance, driver-checked: two day deltas are
    merged one at a time into a bucket-partitioned rollup table
    (operators/rollup.py — only touched buckets rewritten), and the
    resulting table must equal the batch GROUP BY over both days.  The
    rollup lands in a per-run temp dir; the merge is the thing under
    test, the storage is scratch."""
    from busdata_pipeline_spark.operators.rollup import (
        merge_rollup,
        read_rollup,
        user_day_delta,
    )

    events = table(spark, sf_dir, "events")
    with scratch_dir("rollup_q_") as scratch:
        path = f"{scratch}/rollup"
        for d in ("2024-01-01", "2024-01-02"):
            day = events.where(F.to_date("ts") == F.lit(d).cast("date"))
            merge_rollup(spark, user_day_delta(day), path)
        result = read_rollup(spark, path).select(
            "user_id",
            F.col("n_events").cast("long").alias("n_events"),
            F.round("total_value", 6).alias("total_value"),
            F.round("max_value", 6).alias("max_value"),
        )
        return result.localCheckpoint(eager=True)


@query(
    "etl_merge_upsert_delete",
    # MERGE = (target rows with no source match) ∪ (non-delete source
    # rows).  Source keys are disjoint by construction: updates and
    # deletes hit existing keys, inserts use keys+1000000.  acctbal+100
    # is exact in double (no rounding needed).
    oracle="""
WITH src AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100 AS c_acctbal,
         'UPDATED' AS c_mktsegment, 'update' AS op
  FROM customer WHERE c_custkey % 3 = 0
  UNION ALL
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, 'delete'
  FROM customer WHERE c_custkey % 3 = 1 AND c_custkey < 300
  UNION ALL
  SELECT c_custkey + 1000000, 'new_' || c_name, c_nationkey,
         CAST(42.0 AS DOUBLE), 'BUILDING', 'insert'
  FROM customer WHERE c_custkey % 3 = 2 AND c_custkey < 150
)
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
FROM (
  SELECT t.c_custkey, t.c_name, t.c_nationkey, t.c_acctbal, t.c_mktsegment
  FROM customer t
  WHERE t.c_custkey NOT IN (SELECT c_custkey FROM src)
  UNION ALL
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM src WHERE op <> 'delete'
)
ORDER BY c_custkey
""",
)
def etl_merge_upsert_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI MERGE (update + delete + insert in one statement) over the
    customer dim via operators/warehouse.merge_into — the lakehouse
    primitive generalizing the reference's delete-then-reinsert day
    reload (transform.py:62-83) and insert-ignore (S12).  One
    co-partitioning shuffle; AQE broadcasts the delta when small."""
    from busdata_pipeline_spark.operators.warehouse import merge_into

    cust = table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    upd = cust.where(k % 3 == 0).select(
        "c_custkey", "c_name", "c_nationkey",
        (F.col("c_acctbal") + 100).alias("c_acctbal"),
        F.lit("UPDATED").alias("c_mktsegment"),
        F.lit("update").alias("op"),
    )
    dele = cust.where((k % 3 == 1) & (k < 300)).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
        F.lit("delete").alias("op"),
    )
    ins = cust.where((k % 3 == 2) & (k < 150)).select(
        (k + 1000000).alias("c_custkey"),
        F.concat(F.lit("new_"), F.col("c_name")).alias("c_name"),
        "c_nationkey",
        F.lit(42.0).alias("c_acctbal"),
        F.lit("BUILDING").alias("c_mktsegment"),
        F.lit("insert").alias("op"),
    )
    src = upd.unionByName(dele).unionByName(ins)
    return merge_into(cust, src, "c_custkey").orderBy("c_custkey")


# ---------------------------------------------------------------------------
# CDC-style snapshot diff

@query(
    "etl_snapshot_diff",
    oracle="""
WITH a AS (
  SELECT user_id, COUNT(*) AS n, ROUND(SUM(value), 6) AS sv
  FROM events
  WHERE ts::date BETWEEN DATE '2024-01-04' AND DATE '2024-01-10'
  GROUP BY user_id),
b AS (
  SELECT user_id, COUNT(*) AS n, ROUND(SUM(value), 6) AS sv
  FROM events
  WHERE ts::date BETWEEN DATE '2024-01-14' AND DATE '2024-01-20'
  GROUP BY user_id)
SELECT COALESCE(a.user_id, b.user_id) AS user_id,
  CASE WHEN a.user_id IS NULL THEN 'insert'
       WHEN b.user_id IS NULL THEN 'delete'
       ELSE 'update' END AS change_type,
  a.n AS old_n, b.n AS new_n, a.sv AS old_sum, b.sv AS new_sum
FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
WHERE a.user_id IS NULL OR b.user_id IS NULL
   OR a.n <> b.n OR a.sv <> b.sv
""",
)
def etl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two snapshot states of a derived dim
    (per-user activity over a trailing week, cut at Jan 10 vs Jan 20):
    rows only in the new snapshot are inserts, rows that vanished are
    deletes, rows whose aggregate changed are updates — the diff a
    downstream incremental consumer applies instead of a full reload.

    Scale shape: both snapshots aggregate on the SAME key before the
    full-outer join, so the join co-partitions with the aggs (one
    shuffle reused); date predicates push to the scan.  SUM is rounded
    on both sides before comparison, so the update test is
    float-order-proof."""
    ev = table(spark, sf_dir, "events")

    def snap(lo: str, hi: str) -> DataFrame:
        d = F.col("ts").cast("date")
        return (
            ev.where((d >= F.lit(lo).cast("date")) & (d <= F.lit(hi).cast("date")))
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 6).alias("sv"),
            )
        )

    a = snap("2024-01-04", "2024-01-10").alias("a")
    b = snap("2024-01-14", "2024-01-20").alias("b")
    au, bu = F.col("a.user_id"), F.col("b.user_id")
    return (
        a.join(b, au == bu, "full_outer")
        .where(
            au.isNull()
            | bu.isNull()
            | (F.col("a.n") != F.col("b.n"))
            | (F.col("a.sv") != F.col("b.sv"))
        )
        .select(
            F.coalesce(au, bu).alias("user_id"),
            F.when(au.isNull(), F.lit("insert"))
            .when(bu.isNull(), F.lit("delete"))
            .otherwise(F.lit("update"))
            .alias("change_type"),
            F.col("a.n").alias("old_n"),
            F.col("b.n").alias("new_n"),
            F.col("a.sv").alias("old_sum"),
            F.col("b.sv").alias("new_sum"),
        )
    )


@query(
    "etl_quality_report",
    # Each rule is a scalar aggregate; the oracle states them as a
    # UNION ALL of scalar selects — the relational form of the engine's
    # single-aggregate + stack unpivot.
    oracle="""
SELECT * FROM (
  SELECT 'duplicate_event_id' AS rule,
         CAST(COUNT(event_id) - COUNT(DISTINCT event_id) AS BIGINT)
           AS n_violations
  FROM events
  UNION ALL
  SELECT 'null_ts', CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)
    AS BIGINT) FROM events
  UNION ALL
  SELECT 'null_value', CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
    AS BIGINT) FROM events
  UNION ALL
  SELECT 'empty_event_type',
         CAST(SUM(CASE WHEN event_type IS NULL OR event_type = ''
                       THEN 1 ELSE 0 END) AS BIGINT) FROM events
  UNION ALL
  SELECT 'value_out_of_range',
         CAST(SUM(CASE WHEN value IS NOT NULL
                        AND (value < -1000000 OR value > 1000000)
                       THEN 1 ELSE 0 END) AS BIGINT) FROM events
  UNION ALL
  SELECT 'ts_out_of_window',
         CAST(SUM(CASE WHEN ts IS NOT NULL
                        AND (ts <  TIMESTAMP '2024-01-01 00:00:00'
                          OR ts >= TIMESTAMP '2025-01-01 00:00:00')
                       THEN 1 ELSE 0 END) AS BIGINT) FROM events
) ORDER BY rule
""",
)
def etl_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation-suite constraint report over the fact table (the
    acceptance gate the reference approximates with per-line try/except
    skipping, /root/reference/transform.py:28-59 — here the violations
    are COUNTED per rule, not silently dropped).  All predicate rules +
    the uniqueness rule fold into one aggregate over one scan
    (operators/profile.quality_report)."""
    from busdata_pipeline_spark.operators.profile import quality_report

    ev = table(spark, sf_dir, "events")
    rules = [
        ("null_ts", F.col("ts").isNull()),
        ("null_value", F.col("value").isNull()),
        ("empty_event_type",
         F.col("event_type").isNull() | (F.col("event_type") == "")),
        ("value_out_of_range",
         F.col("value").isNotNull()
         & ((F.col("value") < -1000000) | (F.col("value") > 1000000))),
        ("ts_out_of_window",
         F.col("ts").isNotNull()
         & ((F.col("ts") < F.lit("2024-01-01 00:00:00").cast("timestamp"))
            | (F.col("ts") >= F.lit("2025-01-01 00:00:00").cast("timestamp")))),
    ]
    return quality_report(ev, rules, unique_key="event_id")


@query(
    "etl_surrogate_keys",
    oracle="""
SELECT CAST(ROW_NUMBER() OVER (ORDER BY c_name) AS BIGINT) AS sk,
       c_custkey, c_name
FROM customer
ORDER BY sk
""",
)
def etl_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense surrogate-key assignment for the customer dim, computed with
    the two-level distributed formulation (range sort -> local rank ->
    tiny offset window) — never a global single-partition window; the
    oracle states the same keys as the naive global ROW_NUMBER."""
    from busdata_pipeline_spark.operators.warehouse import (
        assign_surrogate_keys,
    )

    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        assign_surrogate_keys(cust, order_col="c_name", n_parts=8)
        .select("sk", "c_custkey", "c_name")
        .orderBy("sk")
    )


@query(
    "etl_incremental_join_view",
    # revenue via the hi/lo-split exact unit sum (sum_exact_units): the
    # cents-ROUND double SUM failed the strict 100x differential at
    # 12M-row priority groups.
    oracle=f"""
WITH li AS (
  SELECT l_orderkey, {D4_SQL} AS d4 FROM lineitem)
SELECT o.o_orderpriority,
       {hl_sum_sql("l.d4", "1.0e4")} AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM orders o JOIN li l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
""",
)
def etl_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance (the join half of IVM; the
    aggregate half is etl_incremental_rollup): orders and lineitem each
    arrive in two append batches, the orders⨝lineitem view is maintained
    delta-wise (ΔA⨝B ∪ A⨝ΔB ∪ ΔA⨝ΔB per round), and the maintained view
    must aggregate identically to the one-shot join."""
    from busdata_pipeline_spark.operators.rollup import merge_join_view

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    ).withColumnRenamed("l_orderkey", "o_orderkey")

    a1 = orders.where(F.col("o_orderkey") % 2 == 0)
    a2 = orders.where(F.col("o_orderkey") % 2 == 1)
    b1 = li.where(F.col("l_extendedprice") < 30000)
    b2 = li.where(F.col("l_extendedprice") >= 30000)

    empty_a, empty_b = a1.limit(0), b1.limit(0)
    view1 = merge_join_view(
        a1.join(b1, "o_orderkey").limit(0),  # empty view, joined schema
        empty_a, empty_b, a1, b1, on="o_orderkey",
    )
    view2 = merge_join_view(view1, a1, b1, a2, b2, on="o_orderkey")
    return (
        view2.groupBy("o_orderpriority")
        .agg(
            # exact hi/lo unit sum — the cents-ROUND double SUM this
            # replaces failed the strict 100x differential (order error
            # beyond the ROUND at 12M-row groups)
            sum_money4(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "etl_time_travel",
    # Commit log: v1 append day1, v2 append day2, v3 OVERWRITE day3,
    # v4 append day4.  Snapshot@2 = days 1-2; snapshot@4 = days 3-4;
    # the overwrite must erase days 1-2 from later snapshots.
    oracle="""
SELECT 2 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(SUM(value), 6) AS total_value
FROM events
WHERE CAST(ts AS DATE) = DATE '2024-01-01'
   OR CAST(ts AS DATE) = DATE '2024-01-02'
UNION ALL
SELECT 4, CAST(COUNT(*) AS BIGINT), ROUND(SUM(value), 6)
FROM events
WHERE CAST(ts AS DATE) = DATE '2024-01-03'
   OR CAST(ts AS DATE) = DATE '2024-01-04'
ORDER BY version
""",
)
def etl_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned-table time travel (operators/versioned.py): four
    commits (append, append, overwrite, append), then BOTH historical
    snapshots are read back and profiled — the overwrite boundary and
    the as-of reconstruction are in the hash."""
    from busdata_pipeline_spark.operators.versioned import (
        read_version,
        write_version,
    )

    ev = table(spark, sf_dir, "events")

    def day(d: str) -> DataFrame:
        return ev.where(F.to_date("ts") == F.lit(d).cast("date"))

    with scratch_dir("ttravel_q_") as path:
        write_version(day("2024-01-01"), path, "append")
        write_version(day("2024-01-02"), path, "append")
        write_version(day("2024-01-03"), path, "overwrite")
        write_version(day("2024-01-04"), path, "append")

        def snap(v: int) -> DataFrame:
            return read_version(spark, path, v).agg(
                F.lit(v).alias("version"),
                F.count("*").alias("n_rows"),
                F.round(F.sum("value"), 6).alias("total_value"),
            ).select("version", "n_rows", "total_value")

        return (
            snap(2).unionByName(snap(4)).orderBy("version")
            .localCheckpoint(eager=True)
        )


@query(
    "etl_compaction_roundtrip",
    # total_value is the 1e-6-quantized hi/lo sum (sum-of-rounded
    # semantic; the raw double SUM failed the 100x differential).
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       TRUE AS files_reduced,
       TRUE AS single_file,
       {hl_sum_sql(V6_SQL, "1.0e6")} AS total_value
FROM events
WHERE CAST(ts AS DATE) = DATE '2024-01-01'
""",
)
def etl_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction, driver-visible: day-1 events land as ~32
    streaming-sized files in a date-partitioned scratch warehouse,
    `compact_day` rewrites the closed day into ONE file via writer-local
    dynamic overwrite, and the result row carries the file-count
    booleans plus the value checksum — so the hash covers both the
    atomic swap's losslessness and the layout change."""
    import glob

    from busdata_pipeline_spark.operators.warehouse import (
        _fact_path,
        compact_day,
    )

    ev = table(spark, sf_dir, "events")
    day1 = (
        ev.where(F.to_date("ts") == F.lit("2024-01-01").cast("date"))
        .withColumnRenamed("ts", "tstamp")
        .withColumn("event_date", F.to_date("tstamp"))
    )
    with scratch_dir("compact_q_") as warehouse:
        (
            day1.repartition(32)
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(_fact_path(warehouse))
        )

        def n_files() -> int:
            return len(
                glob.glob(
                    f"{_fact_path(warehouse)}/event_date=2024-01-01/*.parquet"
                )
            )

        before = n_files()
        compact_day(spark, warehouse, "2024-01-01", target_files=1)
        after = n_files()
        compacted = spark.read.parquet(_fact_path(warehouse))
        return (
            compacted.agg(
                F.count("*").alias("n_rows"),
                F.lit(before > after).alias("files_reduced"),
                F.lit(after == 1).alias("single_file"),
                (sum_exact_units(F.col("value"), 1000000.0)
                 / F.lit(1000000.0)).alias("total_value"),
            ).localCheckpoint(eager=True)
        )


@query(
    "etl_multi_table_txn",
    # The mid snapshot reads THROUGH a torn write: both tables' v2 data
    # AND table-level version manifests are already on disk, only the
    # cross-table txn manifest is missing — so the counts must still be
    # v1's.  If table-level visibility leaked into the txn view, the
    # mid counts would include v2 rows and the hash would fail.
    oracle="""
SELECT
 (SELECT CAST(COUNT(*) AS BIGINT) FROM customer WHERE c_custkey <= 50)
   AS mid_dim_rows,
 (SELECT CAST(COUNT(*) AS BIGINT) FROM events
  WHERE CAST(ts AS DATE) = DATE '2024-01-01') AS mid_fact_rows,
 (SELECT CAST(COUNT(*) AS BIGINT) FROM customer WHERE c_custkey <= 80)
   AS final_dim_rows,
 (SELECT CAST(COUNT(*) AS BIGINT) FROM events
  WHERE CAST(ts AS DATE) = DATE '2024-01-01'
     OR CAST(ts AS DATE) = DATE '2024-01-02') AS final_fact_rows
""",
)
def etl_multi_table_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table atomic snapshot (operators/versioned.py txn layer):
    dim and fact each commit v2 — data on disk, per-table manifests
    renamed — but until the ONE transaction manifest lands, ``txn_read``
    serves both tables at v1 (the mid counts in the hash prove the torn
    write is unobservable).  After ``txn_commit``, both flip together.
    This closes the window the reference's two sequential INSERTs leave
    open (`/root/reference/transform.py:186-288`: Trip then BreadCrumb,
    a reader between them sees dangling trips)."""
    from busdata_pipeline_spark.operators.versioned import (
        txn_commit,
        txn_read,
        write_version,
    )

    cust = table(spark, sf_dir, "customer")
    ev = table(spark, sf_dir, "events")
    with scratch_dir("txn_q_") as root:
        dim_p, fact_p = f"{root}/dim", f"{root}/fact"
        v_dim1 = write_version(
            cust.where(F.col("c_custkey") <= 50), dim_p, "append")
        v_fact1 = write_version(
            ev.where(F.to_date("ts") == F.lit("2024-01-01").cast("date")),
            fact_p, "append")
        txn_commit(root, {"dim": v_dim1, "fact": v_fact1})

        # v2 of BOTH tables fully lands at table level — no txn yet
        v_dim2 = write_version(
            cust.where((F.col("c_custkey") > 50) & (F.col("c_custkey") <= 80)),
            dim_p, "append")
        v_fact2 = write_version(
            ev.where(F.to_date("ts") == F.lit("2024-01-02").cast("date")),
            fact_p, "append")

        mid = txn_read(spark, root, {"dim": dim_p, "fact": fact_p})
        mid_counts = (mid["dim"].count(), mid["fact"].count())

        txn_commit(root, {"dim": v_dim2, "fact": v_fact2})
        fin = txn_read(spark, root, {"dim": dim_p, "fact": fact_p})
        return spark.createDataFrame(
            [(mid_counts[0], mid_counts[1],
              fin["dim"].count(), fin["fact"].count())],
            "mid_dim_rows long, mid_fact_rows long, "
            "final_dim_rows long, final_fact_rows long",
        )


@query(
    "etl_psi_drift",
    # Laplace +1 on bucket counts keeps every log argument a positive
    # rational of integers (no log(0) branch, same float discipline as
    # td_unigram_logprob); PSI contributions and the total round to 6.
    oracle="""
WITH b AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(least(floor(value / 50), 9) AS INTEGER) AS bucket
  FROM events
  WHERE value IS NOT NULL
    AND (CAST(ts AS DATE) = DATE '2024-01-01'
         OR CAST(ts AS DATE) = DATE '2024-01-15')),
c AS (
  SELECT bucket,
         SUM(CASE WHEN d = DATE '2024-01-01' THEN 1 ELSE 0 END) + 1 AS c1,
         SUM(CASE WHEN d = DATE '2024-01-15' THEN 1 ELSE 0 END) + 1 AS c2
  FROM b GROUP BY bucket),
t AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM c)
SELECT bucket,
  CAST(c1 - 1 AS BIGINT) AS day1_rows,
  CAST(c2 - 1 AS BIGINT) AS day15_rows,
  ROUND((CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2)
        * ln((CAST(c1 AS DOUBLE) / n1) / (CAST(c2 AS DOUBLE) / n2)), 6)
    AS psi_term
FROM c CROSS JOIN t
""",
)
def etl_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift report between two daily
    snapshots of the fact's value distribution — the monitoring gate
    that catches upstream shifts before they poison models trained on
    the warehouse.  PSI_i = (p_i − q_i)·ln(p_i/q_i) per equal-width
    bucket (Laplace-smoothed so empty buckets stay defined); the total
    is Σ over buckets, conventionally alarmed at 0.2.

    One scan over the two partitions (date filter prunes at the
    source), one 10-bucket conditional aggregate, a 1-row totals
    broadcast — drift monitoring at 100 TB is a partition-pruned
    two-day read, never a full-table scan."""
    ev = table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    d = F.to_date("ts")
    d1, d15 = (F.lit(x).cast("date") for x in ("2024-01-01", "2024-01-15"))
    b = ev.where((d == d1) | (d == d15)).select(
        d.alias("d"),
        F.least(F.floor(F.col("value") / 50), F.lit(9)).cast("int")
        .alias("bucket"),
    )
    c = b.groupBy("bucket").agg(
        (F.sum(F.when(F.col("d") == d1, 1).otherwise(0)) + 1).alias("c1"),
        (F.sum(F.when(F.col("d") == d15, 1).otherwise(0)) + 1).alias("c2"),
    )
    t = c.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    p = F.col("c1").cast("double") / F.col("n1")
    q = F.col("c2").cast("double") / F.col("n2")
    return c.join(F.broadcast(t)).select(
        "bucket",
        (F.col("c1") - 1).alias("day1_rows"),
        (F.col("c2") - 1).alias("day15_rows"),
        F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
    )


@query(
    "etl_cusum_changepoint",
    # CUSUM over the daily mean series: all means and the running sums
    # quantize to 6 decimals on BOTH engines before comparison, so the
    # argmax day (an output ROW, not just a score) is engine-stable —
    # same predicate discipline as rel_mad_outliers.
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         ROUND(AVG(value), 6) AS m,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE value IS NOT NULL GROUP BY 1),
g AS (SELECT ROUND(AVG(m), 6) AS gbar FROM daily),
s AS (
  SELECT d, m, n,
         ROUND(SUM(m - gbar) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cusum
  FROM daily CROSS JOIN g)
SELECT d, m AS day_mean, n AS day_rows, cusum,
       CAST(ROW_NUMBER() OVER (ORDER BY abs(cusum) DESC, d) AS INT)
         AS change_rank
FROM s
""",
)
def etl_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point scan over the daily-mean series (Page 1954 —
    the classic sequential shift detector, paired with etl_psi_drift as
    the monitoring tier): S_t = Σ_{i≤t} (x̄_i − x̄), and the day where
    |S_t| peaks is the most likely level-shift point (change_rank = 1).

    The day grain collapses the fact table to one row per partition
    (partial-agg shuffle of day-count rows), so the window runs over a
    DAYS-long series — the single-partition running sum is bounded by
    the calendar, not the data, and is the correct frame for a global
    ordered statistic at any scale."""
    ev = table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.round(F.avg("value"), 6).alias("m"),
        F.count(F.lit(1)).alias("n"),
    )
    g = daily.agg(F.round(F.avg("m"), 6).alias("gbar"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    s = daily.join(F.broadcast(g)).select(
        "d", "m", "n",
        F.round(F.sum(F.col("m") - F.col("gbar")).over(w), 6).alias("cusum"),
    )
    wr = Window.orderBy(F.abs(F.col("cusum")).desc(), F.asc("d"))
    return s.select(
        "d",
        F.col("m").alias("day_mean"),
        F.col("n").alias("day_rows"),
        "cusum",
        F.row_number().over(wr).cast("int").alias("change_rank"),
    )


@query(
    "etl_benford_audit",
    # chi-square contribution per digit: (obs - exp)^2 / exp with
    # exp = N * log10(1 + 1/d) — logs of exact integer ratios, one
    # multiply per digit, ROUND 6 (same float discipline as the LM
    # scorers); digit extraction is integer math on both engines.
    oracle="""
WITH v AS (
  SELECT CAST(floor(value / power(10, floor(log10(value)))) AS INTEGER)
           AS digit
  FROM events WHERE value IS NOT NULL AND value >= 1),
c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS obs FROM v GROUP BY digit),
t AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM c),
d AS (SELECT unnest(range(1, 10)) AS digit),
e AS (
  SELECT d.digit, COALESCE(c.obs, 0) AS obs,
         t.n * log10(1 + 1.0 / d.digit) AS exp
  FROM d LEFT JOIN c ON c.digit = d.digit CROSS JOIN t)
SELECT CAST(digit AS INTEGER) AS digit,
       CAST(obs AS BIGINT) AS observed,
       ROUND(exp, 6) AS expected,
       ROUND((obs - exp) * (obs - exp) / exp, 6) AS chi2_term
FROM e
""",
)
def etl_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford leading-digit audit of the fact's value column — the
    forensic data-quality check for fabricated or truncated numeric
    feeds: observed first-digit counts vs the Benford expectation
    N·log10(1+1/d), with per-digit chi-square contributions (alarm on
    the sum).  One scan, a 9-group aggregate, a 1-row total broadcast —
    the audit costs one partial-agg pass at any scale."""
    ev = table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & (F.col("value") >= 1)
    )
    digit = F.floor(
        F.col("value") / F.pow(F.lit(10.0), F.floor(F.log10("value")))
    ).cast("int")
    c = ev.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("obs")
    )
    t = c.agg(F.sum("obs").alias("n"))
    d = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    e = (
        d.join(c, "digit", "left")
        .join(F.broadcast(t))
        .select(
            "digit",
            F.coalesce("obs", F.lit(0)).alias("obs"),
            (F.col("n") * F.log10(1 + 1.0 / F.col("digit"))).alias("exp"),
        )
    )
    return e.select(
        F.col("digit").cast("int").alias("digit"),
        F.col("obs").cast("long").alias("observed"),
        F.round("exp", 6).alias("expected"),
        F.round((F.col("obs") - F.col("exp")) * (F.col("obs") - F.col("exp"))
                / F.col("exp"), 6).alias("chi2_term"),
    )


@query(
    "etl_gdpr_erasure",
    # total_value is the 1e-6-quantized hi/lo sum (sum-of-rounded
    # semantic; the raw ROUND(SUM(value),6) over the ~10M-row survivor
    # set failed the 100x differential).
    oracle=f"""
WITH s AS (SELECT MIN(user_id) AS subj FROM events),
d AS (SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS days_rewritten,
             CAST(COUNT(*) AS BIGINT) AS rows_removed
      FROM events, s WHERE user_id = s.subj)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM events, s WHERE user_id <> s.subj)
    AS n_rows_after,
  d.days_rewritten,
  d.rows_removed,
  (SELECT {hl_sum_sql(V6_SQL, "1.0e6")}
   FROM events, s WHERE user_id <> s.subj) AS total_value,
  TRUE AS subject_gone,
  TRUE AS untouched_partitions_stable
FROM d
""",
)
def etl_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure, driver-visible end to end, on the VERSIONED
    table layer: events land as a date-partition-laid-out versioned
    commit, the lowest-id user is erased via
    operators/warehouse.erase_subject_versioned — one manifest-last
    ``replace`` commit (atomic: readers see pre- or post-erasure, never
    a torn mix) followed by a history purge that deletes only the
    masked day subdirectories — and the result row hashes the audit,
    the survivor count + value checksum, and two file-level booleans:
    the subject is gone FROM EVERY VERSION (current snapshot and purged
    history), and every file of every untouched day is byte-identical
    (path+size snapshot) — the bounded-rewrite contract that makes
    erasure affordable at 100 TB."""
    import glob
    import os

    from busdata_pipeline_spark.operators.versioned import (
        read_version,
        write_version,
    )
    from busdata_pipeline_spark.operators.warehouse import (
        erase_subject_versioned,
    )

    ev = table(spark, sf_dir, "events")
    fact = ev.withColumn("event_date", F.to_date("ts"))
    with scratch_dir("gdpr_q_") as warehouse:
        # repartition BY the partition column: one file per day dir (29
        # files) instead of tasks x days (8 x 29 = 232) — the classic
        # small-files tax; write, vacuum footer reads and re-reads all
        # drop ~8x in file count.  At 100 TB the same rule holds per
        # partition-writer task: co-partition by the layout key.
        write_version(fact.repartition(F.col("event_date")), warehouse,
                      "overwrite", partition_col="event_date")
        # subject id + the subject's day set in ONE job (round-12,
        # guide §1.2): the min-user aggregate broadcasts into the day
        # scan as a 1-row build side, so the former two sequential
        # collect jobs (min, then days-of-min) become one.
        subj_rows_days = (
            fact.join(
                F.broadcast(ev.agg(F.min("user_id").alias("s"))),
                F.col("user_id") == F.col("s"),
            )
            .select("s", F.to_date("ts").alias("d"))
            .distinct()
            .collect()
        )
        # empty-corpus parity with the old two-job form: min over empty
        # is NULL and NULL never equi-joins, so subj stays None
        subj = subj_rows_days[0]["s"] if subj_rows_days else None
        subj_days = {f"event_date={r['d']}" for r in subj_rows_days}

        def file_sizes(only_untouched: bool) -> dict:
            out = {}
            root = os.path.join(warehouse, "_v1")
            for f in glob.glob(f"{root}/event_date=*/*.parquet"):
                rel = os.path.relpath(f, root)
                if only_untouched and rel.split(os.sep)[0] in subj_days:
                    continue
                out[rel] = os.path.getsize(f)
            return out

        before = file_sizes(only_untouched=True)
        audit = erase_subject_versioned(spark, warehouse, "user_id", subj)
        after = file_sizes(only_untouched=True)

        post = read_version(spark, warehouse)
        # subject_gone (current snapshot AND v1 history both free of the
        # subject) is folded into the ONE final aggregate job instead of
        # two standalone .count() actions — two fewer full reads of the
        # erased table (round-12, guide §1.2: don't compute things
        # twice).  Both relations are non-empty (other users survive),
        # so the conditional sums are exact 0/positive longs and the
        # boolean equals the old count()==0 conjunction.
        subj_rows = F.sum(
            F.when(F.col("user_id") == subj, 1).otherwise(0)
        ).cast("long")
        v1_check = read_version(spark, warehouse, 1).agg(
            subj_rows.alias("v1_subj_rows")
        )
        return (
            post.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows_after"),
                (sum_exact_units(F.col("value"), 1000000.0)
                 / F.lit(1000000.0)).alias("total_value"),
                subj_rows.alias("post_subj_rows"),
            )
            .join(F.broadcast(v1_check))
            .select(
                "n_rows_after",
                F.lit(audit["days_rewritten"]).cast("long")
                .alias("days_rewritten"),
                F.lit(audit["rows_removed"]).cast("long")
                .alias("rows_removed"),
                "total_value",
                ((F.col("post_subj_rows") == 0)
                 & (F.col("v1_subj_rows") == 0)).alias("subject_gone"),
                F.lit(before == after and len(before) > 0)
                .alias("untouched_partitions_stable"),
            )
            .localCheckpoint(eager=True)
        )


@query(
    "etl_retract_rollup",
    # Effective dataset after maintenance = base (days ≤ 15) minus the
    # retracted slice (error events of days 10-15) plus the late delta
    # (days 16-18); the oracle recomputes that closed form from scratch,
    # so the driver hash-checks that incremental state == full rebuild.
    oracle="""
WITH eff AS (
  SELECT user_id, value FROM events
  WHERE CAST(ts AS DATE) <= DATE '2024-01-15'
    AND NOT (event_type = 'error' AND CAST(ts AS DATE) >= DATE '2024-01-10')
  UNION ALL
  SELECT user_id, value FROM events
  WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-16' AND DATE '2024-01-18')
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
  ROUND(CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
        / 100.0, 6) AS total_value
FROM eff GROUP BY user_id
""",
)
def etl_retract_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retraction-aware incremental rollup (IVM with deletes): a
    per-user COUNT/SUM state is built from days ≤ 15, then maintained by
    ONE signed-delta merge that simultaneously retracts the error events
    of days 10-15 (multiplicity −1) and applies the late-arriving days
    16-18 (+1) — cost bounded by the delta's hash buckets, never a
    history rescan.  The merge runs on the VERSIONED table layer
    (operators/rollup.merge_rollup_retract_versioned → manifest-last
    ``replace`` commits, operators/versioned.py): atomic on object
    stores, pre-retraction state time-travelable, no in-place deletes.
    Sums are maintained in exact integer cents so retraction subtracts
    out bit-exactly; the oracle's from-scratch rebuild must hash-match
    the incrementally maintained state."""
    from busdata_pipeline_spark.operators.rollup import (
        merge_rollup_retract_versioned,
        read_rollup_versioned,
        retract_partials,
    )

    ev = table(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    base = ev.where(F.col("d") <= F.lit("2024-01-15").cast("date"))
    retract = base.where(
        (F.col("event_type") == "error")
        & (F.col("d") >= F.lit("2024-01-10").cast("date"))
    )
    late = ev.where(
        F.col("d").between(
            F.lit("2024-01-16").cast("date"), F.lit("2024-01-18").cast("date")
        )
    )
    with scratch_dir("retract_rollup_q_") as path:
        merge_rollup_retract_versioned(
            spark, retract_partials(base, +1), path)
        delta = retract_partials(retract, -1).unionByName(
            retract_partials(late, +1)
        ).groupBy("user_id").agg(
            F.sum("dn").cast("long").alias("dn"),
            F.sum("dc").cast("long").alias("dc"),
        )
        merge_rollup_retract_versioned(spark, delta, path)
        return (
            read_rollup_versioned(spark, path)
            .select(
                "user_id",
                F.col("dn").alias("n_events"),
                F.round(F.col("dc").cast("double") / F.lit(100.0), 6)
                .alias("total_value"),
            )
            .localCheckpoint(eager=True)
        )
