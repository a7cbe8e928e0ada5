"""Columnar-format parity beyond parquet.

The reference's storage surface is JSONL + CSV + PostgreSQL tables; the
engine's warehouse is parquet.  ORC is the other columnar format Spark
ships built-in (vectorized reader, predicate pushdown, column pruning),
and a complete engine must round-trip it — e.g. when ingesting an
ORC-resident lake produced elsewhere.  Avro — the row format the
streaming world hands off — round-trips through ``sources/avro.py``:
the short-name DataSource registration is missing in this runtime, but
the connector classes resolve by full name, and a spec-conforming pure-
Python container codec (JVM-Avro-conformance-tested) covers the
no-jar case.

The registered queries prove the full loop: events → ORC/Avro write →
scan back → aggregate, hash-checked against the same aggregate computed
by DuckDB from the original parquet — if the format conversion dropped
or mangled anything, the hashes diverge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from busdata_pipeline_spark.plans.registry import query
from busdata_pipeline_spark.scratch import scratch_dir
from busdata_pipeline_spark.sources import table


def write_events_orc(spark: SparkSession, sf_dir: str, path: str) -> None:
    ev = table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    ev.write.mode("overwrite").orc(path)


def orc_day_profile(spark: SparkSession, path: str, day: str) -> DataFrame:
    """Day-sliced aggregate over the ORC copy; the date filter reaches
    the ORC reader as a pushed predicate (pinned in test_formats.py)."""
    return (
        spark.read.orc(path)
        .where(F.col("event_date") == F.lit(day).cast("date"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .orderBy("event_type")
    )


@query(
    "etl_orc_roundtrip",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 6) AS total_value
FROM events
WHERE CAST(ts AS DATE) = DATE '2024-01-01'
GROUP BY event_type
ORDER BY event_type
""",
)
def etl_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC format parity end-to-end: events land in ORC, the day-1
    profile is computed from the ORC scan (pushdown intact), and the
    oracle computes the same profile from the original parquet — any
    loss in the conversion breaks the hash."""
    with scratch_dir("orc_q_") as scratch:
        path = f"{scratch}/orc"
        write_events_orc(spark, sf_dir, path)
        return orc_day_profile(spark, path, "2024-01-01").localCheckpoint(
            eager=True
        )


@query(
    "etl_avro_roundtrip",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 6) AS total_value,
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_value
FROM events
WHERE CAST(ts AS DATE) = DATE '2024-01-02'
GROUP BY event_type
ORDER BY event_type
""",
)
def etl_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro format parity end-to-end (the mirror of etl_orc_roundtrip):
    events are serialized to Avro object-container files by the
    pure-Python codec (sources/avro.py — executor-side via mapInPandas,
    JVM-Avro-conformance-tested), read back through the JVM Avro
    DataSource when resolvable (binaryFile+decode otherwise), and the
    day-2 profile from that scan is hash-checked against DuckDB on the
    original parquet.  NULL count is part of the profile because
    null→union-index-0 encoding is exactly where a lossy codec slips."""
    from busdata_pipeline_spark.sources.avro import read_avro, write_avro

    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    with scratch_dir("avro_q_") as path:
        write_avro(ev, path)
        back = read_avro(spark, path, ev.schema)
        return (
            back.where(F.to_date("ts") == F.lit("2024-01-02").cast("date"))
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.round(F.sum("value"), 6).alias("total_value"),
                F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
                .cast("long").alias("n_null_value"),
            )
            .orderBy("event_type")
            .localCheckpoint(eager=True)
        )


@query(
    "etl_pyds_breadcrumb_fetch",
    # The fake fetcher is a pure function of (vehicle_id, i) — the
    # oracle regenerates the fleet in closed form (range x range) and
    # applies the same F1 timestamp decode arithmetic (service-day
    # midnight + ACT_TIME seconds).
    oracle="""
SELECT v AS vehicle_id,
       v * 100 + i AS event_no_trip,
       CAST(250.0 * i AS DOUBLE) AS meters,
       TIMESTAMP '2022-12-25 00:00:00' + to_seconds(30000 + 60 * i) AS ts
FROM range(1, 200) t(v), range(3) s(i)
ORDER BY vehicle_id, event_no_trip
""",
)
def etl_pyds_breadcrumb_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2 through the Spark 4 Python DataSource API: the collector
    fan-out as a real ``spark.read.format("breadcrumbs")`` source (one
    InputPartition per id slice = the fetch parallelism), decoded with
    the F1 OPD_DATE/ACT_TIME timestamp algebra — hash-checked against a
    closed-form replay of the deterministic fetcher."""
    from busdata_pipeline_spark.functions.timestamps import (
        breadcrumb_timestamp,
    )
    from busdata_pipeline_spark.sources import pyds

    pyds.register(spark)
    raw = (
        spark.read.format("breadcrumbs")
        .option("n_vehicles", "199")
        .option("parts", "8")
        .load()
    )
    return (
        raw.select(
            F.col("VEHICLE_ID").cast("bigint").alias("vehicle_id"),
            F.col("EVENT_NO_TRIP").alias("event_no_trip"),
            F.col("METERS").alias("meters"),
            breadcrumb_timestamp("OPD_DATE", "ACT_TIME").alias("ts"),
        )
        .orderBy("vehicle_id", "event_no_trip")
    )


@query(
    "st_pyds_poll_stream",
    # Three polls of the 199-vehicle fleet, each advancing ACT_TIME by
    # the 300 s cadence — the closed-form replay of the streaming
    # source's deterministic offset math.
    oracle="""
SELECT v AS vehicle_id,
       v * 100 + i AS event_no_trip,
       CAST(30000 + 60 * i + 300 * k AS BIGINT) AS act_time,
       TIMESTAMP '2022-12-25 00:00:00'
         + to_seconds(30000 + 60 * i + 300 * k) AS ts
FROM range(1, 200) t(v), range(3) s(i), range(3) r(k)
ORDER BY vehicle_id, event_no_trip, act_time
""",
)
def st_pyds_poll_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 through the Python DataSource STREAM reader: an offset-tracked
    readStream over the collector fleet (poll counter = offset, id
    slices = partitions), drained with availableNow into a memory sink
    and hash-checked against the closed-form poll replay."""
    from busdata_pipeline_spark.functions.timestamps import (
        breadcrumb_timestamp,
    )
    from busdata_pipeline_spark.sources import pyds
    from busdata_pipeline_spark.streaming.replay import drain

    pyds.register(spark)
    stream = (
        spark.readStream.format("breadcrumbs")
        .option("n_vehicles", "199")
        .option("parts", "4")
        .option("max_polls", "3")
        .load()
    )
    return drain(
        stream,
        lambda t: t.select(
            F.col("VEHICLE_ID").cast("bigint").alias("vehicle_id"),
            F.col("EVENT_NO_TRIP").alias("event_no_trip"),
            F.col("ACT_TIME").alias("act_time"),
            breadcrumb_timestamp("OPD_DATE", "ACT_TIME").alias("ts"),
        ).orderBy("vehicle_id", "event_no_trip", "act_time"),
    )


@query(
    "etl_file_lineage",
    # Layout-independent invariant oracle (the table may be one file or
    # a many-file directory — the 10x replica is the latter): every row
    # carries a parquet file name, and the per-file counts cover the
    # table exactly.
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       TRUE AS all_files_parquet
FROM events
""",
)
def etl_file_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level file lineage via the hidden ``_metadata`` struct — the
    scan-time provenance a 100 TB audit needs (which files fed this
    result, with no extra scan or join; the reader materializes the
    constant per split).  Per-file counts are summed back to the table
    total and every row's provenance is checked well-formed, so the
    hash covers the metadata column at any file layout."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per_file = (
        ev.select(F.col("_metadata.file_name").alias("file_name"))
        .groupBy("file_name")
        .agg(F.count("*").alias("n"))
    )
    return per_file.agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.min(F.col("file_name").endswith(".parquet"))
        .alias("all_files_parquet"),
    )


def schema_drift(old: DataFrame, new: DataFrame) -> DataFrame:
    """Schema-drift report between two table states: one row per
    (column, change) with change ∈ added | removed | type_changed.
    Pure metadata — no data scan; the DataFrame form keeps it
    engine-checkable and composable with the quality gate."""
    spark = old.sparkSession
    o = [(f.name, f.dataType.simpleString()) for f in old.schema.fields]
    n = [(f.name, f.dataType.simpleString()) for f in new.schema.fields]
    od, nd = dict(o), dict(n)
    rows = (
        [(c, "added", None, t) for c, t in n if c not in od]
        + [(c, "removed", t, None) for c, t in o if c not in nd]
        + [
            (c, "type_changed", od[c], nd[c])
            for c in od
            if c in nd and od[c] != nd[c]
        ]
    )
    return spark.createDataFrame(
        rows, "column string, change string, old_type string, new_type string"
    ).orderBy("column", "change")


@query(
    "etl_schema_drift_report",
    # v1 = events minus props; v2 = adds a source_file string and turns
    # value into float.  The expected drift is closed-form.
    oracle="""
SELECT * FROM (
  VALUES ('props', 'removed', 'string', NULL),
         ('source_file', 'added', NULL, 'string'),
         ('value', 'type_changed', 'double', 'float'))
  AS t(column_name, change, old_type, new_type)
ORDER BY column_name, change
""",
)
def etl_schema_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution, reported instead of silently merged: the drift
    between two warehouse snapshots as (column, change, old, new) rows —
    the gate an ingest pipeline runs before enabling mergeSchema (the
    read side of evolution is covered by the fact table's mergeSchema
    support)."""
    ev = table(spark, sf_dir, "events")
    v1 = ev
    v2 = (
        ev.drop("props")
        .withColumn("source_file", F.lit("drop.jsonl"))
        .withColumn("value", F.col("value").cast("float"))
    )
    return schema_drift(v1, v2).withColumnRenamed("column", "column_name")


@query(
    "etl_bronze_roundtrip",
    # Closed-form: every vehicle's 3 deterministic crumbs survive the
    # partitioned JSON archive round-trip; meters sum 0+250+500 = 750.
    oracle="""
SELECT v AS vehicle_id,
       CAST(3 AS BIGINT) AS n_crumbs,
       CAST(750.0 AS DOUBLE) AS total_meters
FROM range(1, 200) t(v)
ORDER BY vehicle_id
""",
)
def etl_bronze_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 driver-visible: fetch fan-out → bronze raw-JSON archive
    (partitioned by vehicle/service-day, the reference's
    vehicle_{id}_{date}.json layout) → partition-pruned read-back →
    per-vehicle profile.  The hash covers the fetch, the partitioned
    JSON write, and the read's type round-trip."""
    from busdata_pipeline_spark.sources.collector import (
        fake_fetcher,
        fetch_breadcrumbs,
        write_bronze,
    )

    ids = spark.range(1, 200).select(F.col("id").cast("int").alias("vehicle_id"))
    crumbs = fetch_breadcrumbs(ids, fake_fetcher, parallelism=8)
    with scratch_dir("bronze_q_") as scratch:
        path = f"{scratch}/bronze"
        write_bronze(crumbs, path)
        back = spark.read.json(path)
        return (
            back.groupBy(F.col("VEHICLE_ID").cast("bigint").alias("vehicle_id"))
            .agg(
                F.count("*").alias("n_crumbs"),
                F.sum("METERS").cast("double").alias("total_meters"),
            )
            .orderBy("vehicle_id")
            .localCheckpoint(eager=True)
        )


@query(
    "etl_warc_roundtrip",
    # Oracle runs on the ORIGINAL parquet: the WARC write+read must be
    # lossless, so per-lang counts, char totals, and an order-
    # independent payload signature (sum of 60-bit md5 mod 1e9+7 —
    # bounded so a 1e7-doc corpus can't overflow BIGINT) all match.
    oracle="""
SELECT lang, COUNT(*) AS n_records,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars,
       CAST(SUM(CAST(('0x' || substr(md5(text), 1, 15))::UBIGINT AS BIGINT)
                % 1000000007) AS BIGINT) AS payload_sig
FROM documents
GROUP BY lang
ORDER BY lang
""",
)
def etl_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC (ISO 28500) container parity end-to-end: the documents
    corpus is serialized to WARC files (one per partition,
    executor-side — sources/warc.py), read back through the
    binaryFile-parallel parser, and the per-lang profile of THAT scan —
    record counts, char totals, and an order-independent md5 payload
    signature — is hash-checked against DuckDB on the original
    parquet.  Content-Length framing means payloads containing
    header-lookalike lines survive byte-exactly; the signature is what
    catches a lossy decode.  One file per partition is the production
    WARC parallelization unit (Common Crawl segments)."""
    from busdata_pipeline_spark.sources.warc import read_warc, write_warc

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    with scratch_dir("warc_q_") as path:
        write_warc(docs.repartition(4), path)
        back = read_warc(spark, path)
        return (
            back.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_records"),
                F.sum(F.length("text")).alias("sum_chars"),
                F.sum(
                    F.conv(F.md5("text").substr(1, 15), 16, 10).cast("long")
                    % 1000000007
                ).alias("payload_sig"),
            )
            .orderBy("lang")
            .localCheckpoint(eager=True)
        )


@query(
    "etl_csv_roundtrip",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 6) AS total_value,
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_value,
       CAST(SUM(length(props)) AS BIGINT) AS props_chars,
       CAST(MAX(hour(ts)) AS INTEGER) AS max_hour
FROM events
WHERE CAST(ts AS DATE) = DATE '2024-01-03'
GROUP BY event_type
ORDER BY event_type
""",
)
def etl_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV format parity end-to-end, the hostile-row edition: events
    (whose ``props`` JSON embeds the separator AND the quote char) are
    written to RFC-4180-style CSV with explicit quote/escape/null
    options, read back under an explicit schema with the symmetric
    options, and the day-3 profile from that scan is hash-checked
    against DuckDB on the original parquet.  The profile is chosen to
    trip every classic CSV lossiness: quote mangling (props_chars),
    null-vs-empty conflation (n_null_value vs the '\\\\N' marker),
    double formatting (total_value — Spark writes shortest-roundtrip
    repr), timestamp truncation (max_hour under an explicit micros
    format).  multiLine stays OFF so the read splits per-block at any
    scale — embedded newlines belong in quoted parquet/WARC payloads,
    not CSV interchange (documented constraint)."""
    from pyspark.sql import types as T

    ev = table(spark, sf_dir, "events")
    opts = {
        "header": "true",
        "quote": '"',
        "escape": '"',  # RFC 4180 doubled-quote escaping
        "nullValue": "\\N",
        "timestampFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS",
    }
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    with scratch_dir("csv_q_") as scratch:
        path = f"{scratch}/csv"
        w = ev.write.mode("overwrite")
        for k, v in opts.items():
            w = w.option(k, v)
        w.csv(path)
        r = spark.read.schema(schema)
        for k, v in opts.items():
            r = r.option(k, v)
        back = r.csv(path)
        return (
            back.where(F.col("ts").cast("date") == F.lit("2024-01-03").cast("date"))
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.round(F.sum("value"), 6).alias("total_value"),
                F.sum(
                    F.when(F.col("value").isNull(), 1).otherwise(0)
                ).cast("long").alias("n_null_value"),
                F.sum(F.length("props")).cast("long").alias("props_chars"),
                F.max(F.hour("ts")).cast("int").alias("max_hour"),
            )
            .orderBy("event_type")
            .localCheckpoint(eager=True)
        )


@query(
    "etl_schema_evolution_read",
    oracle="""
WITH flagged AS (
  SELECT CAST(ts AS DATE) AS d, value,
    CASE WHEN CAST(ts AS DATE) = DATE '2024-01-02'
         THEN CASE WHEN value IS NOT NULL AND value >= 50.0
                   THEN 1 ELSE 0 END
    END AS quality_flag
  FROM events
  -- explicit ORs: DuckDB 1.0.0 mis-evaluates DATE IN-lists (returns
  -- empty where the equivalent equality matches)
  WHERE CAST(ts AS DATE) = DATE '2024-01-01'
     OR CAST(ts AS DATE) = DATE '2024-01-02')
SELECT d, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CASE WHEN quality_flag IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_flag_null,
  CAST(COALESCE(SUM(quality_flag), 0) AS BIGINT) AS n_flag_set,
  ROUND(SUM(value), 6) AS total_value
FROM flagged GROUP BY d ORDER BY d
""",
)
def etl_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the lake path: day-1 files land with the v1
    schema, day-2 files add a ``quality_flag`` column (the classic
    additive evolution), and ONE mergeSchema read unions both vintages
    — old rows surface the new column as NULL, which the profile pins
    (n_flag_null = all of day 1, none of day 2).  The oracle derives
    the same flag from the original parquet, so any loss in the
    write→merge→read loop breaks the hash.  Scale note: mergeSchema
    costs a footer read per file at planning time — production tables
    pin the merged schema in the catalog instead (spark.read.schema),
    which this query documents as the 100 TB path; the data-plane union
    itself is ordinary split-parallel parquet."""
    ev = table(spark, sf_dir, "events")
    d1 = ev.where(F.col("ts").cast("date") == F.lit("2024-01-01").cast("date"))
    d2 = ev.where(
        F.col("ts").cast("date") == F.lit("2024-01-02").cast("date")
    ).withColumn(
        "quality_flag",
        F.when(
            F.col("value").isNotNull() & (F.col("value") >= 50.0), 1
        ).otherwise(0).cast("int"),
    )
    with scratch_dir("schevo_q_") as scratch:
        path = f"{scratch}/events"
        d1.select("event_id", "ts", "user_id", "event_type", "value") \
            .write.mode("overwrite").parquet(path)
        d2.select(
            "event_id", "ts", "user_id", "event_type", "value",
            "quality_flag",
        ).write.mode("append").parquet(path)
        back = spark.read.option("mergeSchema", "true").parquet(path)
        return (
            back.groupBy(F.col("ts").cast("date").alias("d"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(
                    F.when(F.col("quality_flag").isNull(), 1).otherwise(0)
                ).cast("long").alias("n_flag_null"),
                F.coalesce(F.sum("quality_flag"), F.lit(0)).cast("long")
                .alias("n_flag_set"),
                F.round(F.sum("value"), 6).alias("total_value"),
            )
            .orderBy("d")
            .localCheckpoint(eager=True)
        )
