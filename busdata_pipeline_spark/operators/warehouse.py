"""Warehouse writes — the reference's PostgreSQL star-schema load
(/root/reference/transform.py:62-83,186-201,263-293) as Parquet with
Spark-native idempotency.

- S11 idempotent day re-load: the reference DELETEs the day's fact rows
  then re-inserts (transform.py:62-83).  Here: date-partitioned Parquet +
  dynamic partition overwrite — re-running a day atomically replaces only
  that day's partitions, no delete pass, safe under retry.
- S12 upsert-ignore: ``ON CONFLICT (trip_id) DO NOTHING``
  (transform.py:193) becomes dropDuplicates + left-ANTI join against the
  existing dim — only genuinely new trip_ids are appended.
- A11 audit count: the post-load ``SELECT COUNT(*) WHERE DATE(tstamp)=d``
  (transform.py:291-293).

At scale: the fact table is partitioned by event_date (partition pruning
for every date-sliced analytic query); within a day, files are written
from the enrichment shuffle's trip-hash partitions, so a day's write is
parallel across the cluster.  The dim anti-join broadcasts the *new*
side when small; the existing dim scan only reads the trip_id column.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from busdata_pipeline_spark.schemas import (
    BREADCRUMB,
    RAW_BREADCRUMB_DECODED,
    TRIP,
)

FACT = "breadcrumb"
DIM = "trip"
STAGE = "breadcrumb_stage"

#: The fact table as written: BREADCRUMB plus its event_date partition
#: column.  Reads the engine owns pass it so no footer-inference job runs.
_FACT_READ = T.StructType(
    BREADCRUMB.fields + [T.StructField("event_date", T.DateType())]
)


def _fact_path(warehouse: str) -> str:
    return os.path.join(warehouse, FACT)


def _dim_path(warehouse: str) -> str:
    return os.path.join(warehouse, DIM)


def _stage_path(warehouse: str) -> str:
    return os.path.join(warehouse, STAGE)


def _hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` through Hadoop's FS API: works
    on any filesystem Spark can write to, not just local disk."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def write_fact_idempotent(fact: DataFrame, warehouse: str) -> None:
    """S11 — overwrite exactly the event-date partitions present in
    ``fact``.  partitionOverwriteMode is pinned on the writer itself:
    on a vanilla session (static mode) a session-level dependency would
    silently truncate every OTHER date partition of the fact table."""
    (
        fact.withColumn("event_date", F.to_date("tstamp"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_date")
        .parquet(_fact_path(warehouse))
    )


def upsert_trip_ignore(trip: DataFrame, warehouse: str) -> None:
    """S12 — append only trip_ids not already in the dim."""
    spark = trip.sparkSession
    path = _dim_path(warehouse)
    new = trip.dropDuplicates(["trip_id"])
    # First-load probe instead of catching a broad read failure that
    # could mask real errors.
    fs, hpath = _hadoop_path(spark, path)
    if fs.exists(hpath):
        existing = spark.read.schema(TRIP).parquet(path).select("trip_id")
        new = new.join(existing, "trip_id", "left_anti")
    new.write.mode("append").parquet(path)


def write_jdbc(df: DataFrame, url: str, table_name: str,
               batchsize: int = 1000, mode: str = "append",
               **options: str) -> None:
    """S10 — the reference's psycopg2 batched INSERT into Postgres
    (transform.py:190-201,263-288, batch_size=1000 at :271) as Spark's
    JDBC sink: each task opens its own connection and writes its
    partition in ``batchsize`` batches, so the load parallelizes across
    the cluster instead of single-threading through one cursor.

    Untestable in this container (no JDBC endpoint); the Parquet
    warehouse above is the primary sink, this is the relational egress.
    """
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table_name)
        .option("batchsize", str(batchsize))
    )
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.mode(mode).save()


def read_jdbc(spark: SparkSession, url: str, table_name: str,
              **options: str) -> DataFrame:
    """JDBC table scan — the read leg of the S10 relational round-trip.

    Pass ``partitionColumn``/``lowerBound``/``upperBound``/``numPartitions``
    to parallelize the scan across executors; without them the read is a
    single task (fine for dims, wrong for facts)."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table_name)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def upsert_ignore_jdbc(df: DataFrame, url: str, table_name: str,
                       key: str, batchsize: int = 1000,
                       **options: str) -> None:
    """S12 over the relational sink: ``ON CONFLICT (key) DO NOTHING``
    (the reference's trip-dim load, transform.py:193) expressed as a
    distributed anti-join against the target table's current keys, then
    one batched append — instead of a per-row conflict check inside the
    database.  Only the key column crosses the JDBC boundary on the probe
    read; the anti-join and dedup run on the cluster.

    First load (table absent) appends everything: the probe read raises
    on a missing table and we fall through to a plain create-and-append.
    """
    spark = df.sparkSession
    new = df.dropDuplicates([key])
    try:
        existing = read_jdbc(spark, url, table_name, **options).select(key)
    except Exception:
        existing = None  # table does not exist yet -> create on write
    if existing is not None:
        new = new.join(existing, key, "left_anti")
    write_jdbc(new, url, table_name, batchsize=batchsize, mode="append",
               **options)


def exec_jdbc_update(spark: SparkSession, url: str, sql: str) -> bool:
    """Run one DDL/DML statement over a raw JDBC connection (the escape
    hatch DataFrameWriter doesn't cover: scoped DELETEs, DDL).  Returns
    False instead of raising when the statement fails because its target
    table doesn't exist yet — the caller's first-batch case."""
    jvm = spark._jvm
    try:
        conn = jvm.java.sql.DriverManager.getConnection(url)
    except Exception:
        raise RuntimeError(f"cannot open JDBC connection to {url}")
    try:
        st = conn.createStatement()
        try:
            st.executeUpdate(sql)
            return True
        finally:
            st.close()
    except Exception:
        return False
    finally:
        conn.close()


def compact_day(spark: SparkSession, warehouse: str, day: str,
                target_files: int = 1) -> None:
    """Small-files compaction for one fact partition.

    A streaming sink appends a file per micro-batch per partition; after
    a day closes, thousands of small files tax every later scan (footer
    reads, task scheduling).  Rewrite the closed day into
    ``target_files`` right-sized files — dynamic partition overwrite
    makes the swap atomic and scoped to that day, identical to the S11
    re-load path, so a concurrent reader sees old or new files, never a
    mix.
    """
    fact = read_fact(spark, warehouse)
    day_df = fact.where(F.col("event_date") == F.lit(day).cast("date"))
    # Break lineage from the source files: Spark refuses to overwrite a
    # path its own plan still reads.  localCheckpoint materializes the
    # (single-day) slice to executor-local storage first.
    day_df = day_df.localCheckpoint(eager=True)
    (
        day_df.repartition(target_files)
        .write.mode("overwrite")
        # Writer-local dynamic mode: only the compacted day's partition
        # is replaced, regardless of the caller session's conf.
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_date")
        .parquet(_fact_path(warehouse))
    )


def stage_raw_batch(raw: DataFrame, warehouse: str, batch_id: int) -> None:
    """Incremental-stream landing: write one micro-batch's RAW rows to a
    batch-id-keyed staging directory — the Spark analog of the
    reference's subscriber appending messages to the day's JSONL file
    (data_subscriber.py:49-56) with transform deferred to day close.

    The path is deterministic in ``batch_id`` and written with
    ``overwrite``, so a replayed micro-batch (foreachBatch re-runs after
    failure — at-least-once) replaces exactly its own output and nothing
    else: per-batch idempotency without touching the main fact table.
    Multiple batches of the same event_date coexist side by side — the
    round-1 design overwrote the whole day per batch, silently erasing
    earlier batches whenever a day spanned micro-batches.

    Staging raw (not enriched) rows also keeps the per-trip window
    semantics exact when a trip spans micro-batches: enrichment runs
    once over the FULL day at ``promote_stage``, identical to the batch
    job, instead of per-batch with truncated lag context.
    """
    raw.write.mode("overwrite").parquet(
        os.path.join(_stage_path(warehouse), f"ingest_batch={batch_id}")
    )


def promote_stage(spark: SparkSession, warehouse: str) -> int:
    """Day-close transform: ``load_day`` over ALL staged raw rows, so the
    fact enrichment sees full-day window context and the trip dim takes
    each trip's earliest staged ping, exactly as the batch job does.  It
    dynamic-overwrites the touched event-date partitions of the fact
    table and upsert-ignores the trips into the dim; dim rows therefore
    appear at promote, together with the fact rows they describe.

    The stage is NOT deleted — promote is a pure function of the staged
    raw, so re-running it (crash-retry, or after more batches landed) is
    exactly idempotent: it recomputes the touched days wholesale.  Late
    rows staged after an earlier promote re-enter the recomputation with
    their day's full raw context still present.  ``vacuum_stage``
    reclaims closed days once the retention boundary passes them.
    Returns the number of staged raw rows promoted.
    """
    stage = _stage_path(warehouse)
    fs, hpath = _hadoop_path(spark, stage)
    if not fs.exists(hpath):
        return 0
    staged = (
        spark.read.schema(RAW_BREADCRUMB_DECODED)
        .option("basePath", stage)
        .parquet(stage)
        .drop("ingest_batch")
    )
    n = staged.count()
    if n:
        load_day(staged, warehouse)
    return n


def vacuum_stage(spark: SparkSession, warehouse: str, before_day: str) -> int:
    """Drop staged raw for event-days strictly before ``before_day``
    (the retention boundary: days that can no longer receive late data).

    A day must stay in the stage until it is closed — ``promote_stage``
    recomputes a day ONLY from staged raw, so vacuuming an open day
    would make a later promote clobber it with partial data.  Offline
    maintenance op: do not run concurrently with an active stream.
    Returns the number of retained rows.
    """
    from busdata_pipeline_spark.functions.timestamps import breadcrumb_timestamp

    stage = _stage_path(warehouse)
    fs, hpath = _hadoop_path(spark, stage)
    if not fs.exists(hpath):
        return 0
    staged = spark.read.option("basePath", stage).parquet(stage)
    day = F.coalesce(
        F.to_date(breadcrumb_timestamp("OPD_DATE", "ACT_TIME")), F.current_date()
    )
    kept = staged.where(day >= F.lit(before_day).cast("date"))
    n = kept.count()
    # Durability first: materialize the retained batches into a sibling
    # temp directory while the original stage is still intact, then swap
    # via rename.  A failure before the swap leaves the stage untouched;
    # after it, the retained data is already durable on disk — no window
    # where the only copy lives in non-fault-tolerant checkpoint blocks.
    tmp = stage.rstrip("/") + ".vacuum-tmp"
    _, htmp = _hadoop_path(spark, tmp)
    fs.delete(htmp, True)
    if n:
        for (bid,) in kept.select("ingest_batch").distinct().collect():
            (
                kept.where(F.col("ingest_batch") == bid)
                .drop("ingest_batch")
                .write.mode("overwrite")
                .parquet(os.path.join(tmp, f"ingest_batch={bid}"))
            )
        fs.delete(hpath, True)
        fs.rename(htmp, hpath)
    else:
        fs.delete(hpath, True)
    return n


def read_fact(spark: SparkSession, warehouse: str,
              merge_schema: bool = False) -> DataFrame:
    """``merge_schema=True`` unions the schemas of every day partition —
    the schema-evolution read: a column added to the feed mid-history
    appears as NULL for days written before it existed.  Off by default
    because footer-merging every file costs a listing pass; evolved
    tables should pin the target schema once known."""
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(_fact_path(warehouse))


def read_dim(spark: SparkSession, warehouse: str) -> DataFrame:
    return spark.read.parquet(_dim_path(warehouse))


def audit_day_count(spark: SparkSession, warehouse: str, day: str) -> int:
    """A11 — post-load verification count for one service day; the
    event_date filter prunes to a single partition directory."""
    return (
        spark.read.schema(_FACT_READ)
        .parquet(_fact_path(warehouse))
        .where(F.col("event_date") == F.lit(day).cast("date"))
        .count()
    )


def load_day(raw: DataFrame, warehouse: str) -> None:
    """The reference's whole per-day job (transform.py:86-312): enrich,
    upsert dim, overwrite the day's fact partitions.

    The dim upsert and the fact write touch different directories and
    each ends in a single-task tail, so the upsert runs on a worker
    thread while the fact write runs on this one.  The worker inherits
    this thread's Spark local properties (job group, description) and
    job tags, and its error re-raises here after the fact write returns."""
    from busdata_pipeline_spark.operators.enrich import (
        enrich_breadcrumbs,
        trip_dimension,
    )

    with ThreadPoolExecutor(max_workers=1) as pool:
        upsert = inheritable_thread_target(raw.sparkSession)(upsert_trip_ignore)
        dim = pool.submit(upsert, trip_dimension(raw), warehouse)
        try:
            write_fact_idempotent(enrich_breadcrumbs(raw), warehouse)
        finally:
            dim.result()


def merge_into(target: DataFrame, source: DataFrame, key: str,
               op_col: str = "op") -> DataFrame:
    """ANSI MERGE semantics as one full-outer join (the lakehouse
    upsert/delete primitive the reference approximates with
    delete-then-reinsert per day, transform.py:62-83):

    - source row with ``op='delete'`` matching a target row -> row gone;
    - any other matching source row -> target row replaced by source's
      values (WHEN MATCHED THEN UPDATE);
    - unmatched source row (unless 'delete') -> inserted;
    - unmatched target rows pass through.

    Scale: a single shuffle co-partitioning both sides on ``key`` (AQE
    turns it into a broadcast when the delta is small); no driver
    round-trips, no per-row logic.  Value columns are taken whole-row
    from whichever side wins, so the operator works for any shared
    schema.
    """
    val_cols = [c for c in target.columns if c != key]
    t = target.alias("t")
    s = source.alias("s")
    joined = t.join(s, F.col(f"t.{key}") == F.col(f"s.{key}"), "full_outer")
    matched = F.col(f"t.{key}").isNotNull() & F.col(f"s.{key}").isNotNull()
    deleted = matched & (F.col(f"s.{op_col}") == "delete")
    src_only = F.col(f"t.{key}").isNull()
    take_source = (matched & (F.col(f"s.{op_col}") != "delete")) | (
        src_only & (F.col(f"s.{op_col}") != "delete")
    )
    out_key = F.coalesce(F.col(f"t.{key}"), F.col(f"s.{key}")).alias(key)
    outs = [out_key] + [
        F.when(take_source, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
        for c in val_cols
    ]
    return joined.where(~deleted & ~(src_only & (F.col(f"s.{op_col}") == "delete"))) \
                 .select(*outs)


def assign_surrogate_keys(df: DataFrame, order_col: str | list[str],
                          key_col: str = "sk",
                          n_parts: int | None = None) -> DataFrame:
    """Dense 1..N surrogate keys in ``order_col`` order — the dim-build
    primitive (the reference leans on PostgreSQL sequences for this;
    `monotonically_increasing_id` is neither dense nor order-defined).

    A naive ``row_number() OVER (ORDER BY ...)`` is a single-partition
    global sort at any scale.  This is the two-level formulation (same
    discipline as operators/packing.py's distributed prefix sum):

    1. range-partition + sort within partitions on ``order_col`` (the
       normal distributed sort — no single reducer);
    2. per-partition local rank;
    3. per-partition row counts -> cumulative offsets (a window over
       ~n_partitions rows — bounded by cluster width, not data);
    4. key = partition offset + local rank.

    Output depends only on the total order of ``order_col`` (which must
    be unique), NOT on where the range sampler drew partition
    boundaries, so re-runs and different cluster sizes assign identical
    keys.
    """
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    n = n_parts or df.sparkSession.sparkContext.defaultParallelism
    parted = (
        df.repartitionByRange(n, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    local = parted.withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("_pid").orderBy(*order_cols)
        ),
    )
    # PIN the sampled range boundaries: the ranks branch and the counts
    # branch below both consume `local`, and without a materialization
    # barrier Spark may re-evaluate repartitionByRange per branch with a
    # FRESH random sample — slightly different boundaries, offsets that
    # disagree with the ranks, corrupted keys (caught by the 10x-replica
    # differential; exchange reuse masks it at small scale).  One eager
    # localCheckpoint makes both branches read the same partitioning.
    local = local.localCheckpoint(eager=True)
    counts = local.groupBy("_pid").agg(F.count("*").alias("_cnt"))
    offsets = counts.withColumn(
        "_off",
        F.coalesce(
            F.sum("_cnt").over(
                Window.orderBy("_pid")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("_pid", "_off")
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(key_col, (F.col("_off") + F.col("_rn")).cast("long"))
        .drop("_pid", "_rn", "_off")
    )


def erase_subject(spark: SparkSession, warehouse: str, subject_col: str,
                  subject_value, date_col: str = "event_date") -> dict:
    """Right-to-erasure (GDPR Art. 17) over the date-partitioned fact
    layout: delete every row of one subject by rewriting ONLY the
    partitions that contain them.

    Parquet is immutable, so "delete" means rewrite — the scale lever is
    to bound the rewrite to affected partitions, not the table:

    1. one aggregate finds the subject's distinct partition days
       (bounded driver collect — day count, the scalar-pruning
       contract of the rollup/compaction ops);
    2. those partitions are re-read with the subject anti-filter and
       swapped in via writer-pinned dynamic partition overwrite — every
       other partition's files are not touched, read, or listed.

    Cost scales with the subject's footprint, not table size; at 100 TB
    this is the difference between a full-table rewrite and touching a
    handful of day directories.  Returns an audit dict
    (days_rewritten, rows_removed) — the erasure log every compliance
    workflow keeps.
    """
    fact = spark.read.parquet(_fact_path(warehouse))
    subject_rows = fact.where(F.col(subject_col) == F.lit(subject_value))
    # One aggregate finds the affected days AND the removal count (every
    # subject row is by definition inside an affected day, so the rows
    # removed are exactly the subject's row count) — one driver round
    # trip, day-cardinality-bounded.
    per_day = (
        subject_rows.groupBy(F.col(date_col).alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    days = [r["d"] for r in per_day]
    removed = sum(r["n"] for r in per_day)
    if not days:
        return {"days_rewritten": 0, "rows_removed": 0}
    affected = fact.where(F.col(date_col).isin(days))
    survivors = (
        # ~eqNullSafe, not !=: a NULL subject compares UNKNOWN under
        # `!=` and would be silently dropped from the rewritten
        # partitions — erasure must delete exactly one subject's rows.
        affected.where(
            ~F.col(subject_col).eqNullSafe(F.lit(subject_value))
        )
        # Materialize before overwriting the directory being read:
        # reading and dynamic-overwriting the same path in one job is
        # a self-overwrite data-loss hazard on direct-write committers
        # (same discipline as rollup.merge_rollup).
        .localCheckpoint(eager=True)
    )
    (
        survivors
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(date_col)
        .parquet(_fact_path(warehouse))
    )
    # Dynamic overwrite only rewrites partitions PRESENT in the output:
    # a day whose every row belonged to the subject yields no survivors,
    # so its stale files (still holding the subject!) would silently
    # survive.  Delete those partitions explicitly (same stale-bucket
    # discipline as rollup.merge_rollup_retract).
    import shutil

    survivor_days = {
        r["d"] for r in
        survivors.select(F.col(date_col).alias("d")).distinct().collect()
    }
    for day in days:
        if day not in survivor_days:
            shutil.rmtree(
                os.path.join(_fact_path(warehouse), f"{date_col}={day}"),
                ignore_errors=True,
            )
    return {"days_rewritten": len(days), "rows_removed": removed}


def erase_subject_versioned(spark: SparkSession, path: str,
                            subject_col: str, subject_value,
                            date_col: str = "event_date",
                            purge_history: bool = True) -> dict:
    """``erase_subject`` on the manifest-last versioned-table layer
    (operators/versioned.py): the affected days' survivors land as one
    ``replace`` commit — the manifest rename is the only commit point,
    so on any store a reader sees either the full pre-erasure snapshot
    or the full post-erasure one, never a torn mix (the dynamic-
    overwrite + rmtree window of the in-place variant cannot occur).

    The commit makes the subject INVISIBLE atomically; with
    ``purge_history`` (the GDPR default) the masked rows are then
    physically removed from earlier commits' files too
    (``vacuum_replaced``), so time travel cannot resurrect the subject
    — the legal erasure completes when the purge pass does, exactly
    Delta's delete-then-VACUUM contract.  Cost stays bounded by the
    subject's partition footprint in both phases.

    Returns the in-place variant's audit dict plus the commit version
    and purge counters.
    """
    from busdata_pipeline_spark.operators.versioned import (
        read_version,
        vacuum_replaced,
        write_replace_partitions,
    )

    snap = read_version(spark, path)
    per_day = (
        snap.where(F.col(subject_col).eqNullSafe(F.lit(subject_value)))
        .groupBy(F.col(date_col).alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    days = [r["d"] for r in per_day]
    removed = sum(r["n"] for r in per_day)
    if not days:
        return {"days_rewritten": 0, "rows_removed": 0, "version": None,
                "rows_purged": 0}
    survivors = snap.where(F.col(date_col).isin(days)).where(
        ~F.col(subject_col).eqNullSafe(F.lit(subject_value))
    )
    version = write_replace_partitions(survivors, path, date_col, days)
    purged = (vacuum_replaced(spark, path) if purge_history
              else {"rows_purged": 0})
    return {"days_rewritten": len(days), "rows_removed": removed,
            "version": version, "rows_purged": purged["rows_purged"]}
