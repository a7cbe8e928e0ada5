"""Streaming ingest — the reference's collector -> Pub/Sub -> subscriber
-> daily JSONL -> transform chain (/root/reference/data_subscriber.py,
SURVEY.md §2.9) as Structured Streaming.

Mapping (reference -> here):

- Pub/Sub streaming pull (data_subscriber.py:107-110)  -> file-source
  ``readStream`` over a drop directory (the drop dir reproduces the
  at-least-once queue in this repro); the Kafka form of both queue legs
  lives in ``streaming/kafka.py`` — same decoded schema, same
  checkpoint/idempotent-sink chain, gated on the connector jar.
- JSON decode per message (:70)                        -> schema'd stream read
- event-date routing from the RECORD's timestamp, not arrival time
  (:74-79, T2)                                          -> event_date column
  from F1, processing-date fallback
- daily append files + reopen-on-late (:49-56,85, T3)  -> ``writeStream
  .partitionBy("event_date")`` — late rows append to their (old) partition
- ack/redelivery at-least-once (:89,98, T4)            -> checkpointed source
  offsets + idempotent sink (S11) = exactly-once end to end
- shutdown -> transform.main(date) handoff (:122-143, T5) -> foreachBatch
  sinks.  Live (incremental) micro-batches only stage their raw rows,
  as the subscriber only appends to the day file; ``promote_stage`` is
  the day-close transform and runs the SAME ``load_day`` as the batch
  job (enrich -> fact, first ping -> trip dim) over the whole staged
  day.  Trigger.AvailableNow replays a backlog then stops.

At scale: the stream never aggregates unbounded state here — per-trip
windowing runs in the batch engine over whole days (at promote, or
inside the one micro-batch of whole-day replay), so state stores stay
empty and throughput is the batch engine's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from busdata_pipeline_spark.functions.timestamps import breadcrumb_timestamp
from busdata_pipeline_spark.schemas import RAW_BREADCRUMB_DECODED


def stream_breadcrumbs(spark: SparkSession, drop_dir: str,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """S5 — streaming source over the subscriber drop directory."""
    reader = (
        spark.readStream.schema(RAW_BREADCRUMB_DECODED)
        .option("mode", "DROPMALFORMED")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(drop_dir)


def with_event_date(stream: DataFrame) -> DataFrame:
    """T2 — route by the record's own event time; fall back to processing
    date only when the record carries no usable timestamp
    (data_subscriber.py:74-79)."""
    ts = breadcrumb_timestamp("OPD_DATE", "ACT_TIME")
    return stream.withColumn("tstamp", ts).withColumn(
        "event_date", F.coalesce(F.to_date("tstamp"), F.current_date())
    )


def write_bronze(stream: DataFrame, out_dir: str, checkpoint: str,
                 available_now: bool = True):
    """S7 — date-partitioned append sink with checkpointed offsets.
    A late record lands in its original event_date partition (the
    reference reopens old day files in append mode — T3)."""
    writer = (
        with_event_date(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .partitionBy("event_date")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_into_warehouse(stream: DataFrame, warehouse: str, checkpoint: str,
                          available_now: bool = True,
                          incremental: bool = False):
    """T5 — the stream->batch handoff: the warehouse is loaded by the
    SAME ``load_day`` as the batch job (one code path, two execution
    modes), with exactly-once semantics from checkpointed offsets plus
    an idempotent sink (T4).

    Two sink modes, because partition-overwrite per micro-batch is only
    safe when a micro-batch covers a whole day:

    - ``incremental=False`` (whole-day replay): each batch dynamic-
      overwrites its days via ``load_day``.  ONLY safe with
      ``availableNow`` and no ``maxFilesPerTrigger`` — i.e. exactly one
      batch holding every record of each day.  If a day ever spans two
      batches, the second overwrite erases the first's rows, so this
      mode refuses a live (non-availableNow) trigger.
    - ``incremental=True`` (live / multi-batch): each batch only lands
      its RAW rows in a batch-id-keyed staging dir (``stage_raw_batch``);
      ``promote_stage`` runs ``load_day`` over the full staged days at
      day close, writing the fact and the trip dim.  Neither table
      changes before promote.  A replayed batch overwrites only its own
      staging dir — no cross-batch data loss — and trips that span
      micro-batches get exact window semantics and their earliest ping
      as dim row, because both are derived from the whole day, not per
      batch.
    """
    from busdata_pipeline_spark.operators.warehouse import (
        load_day,
        stage_raw_batch,
    )

    if not incremental and not available_now:
        raise ValueError(
            "whole-day replay mode overwrites day partitions per batch; "
            "with a live trigger a day can span batches and lose rows — "
            "use incremental=True for live streams"
        )

    def handle_replay(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        load_day(batch, warehouse)

    def handle_incremental(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        stage_raw_batch(batch, warehouse, batch_id)

    writer = (
        stream.writeStream.foreachBatch(
            handle_incremental if incremental else handle_replay
        )
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_into_jdbc(stream: DataFrame, url: str, table_name: str,
                     checkpoint: str, key: str | None = None,
                     batchsize: int = 1000, available_now: bool = True):
    """S10 × T4 — stream into a RELATIONAL sink with exactly-once effect.

    Spark's JDBC format has no streaming sink; the standard shape is
    foreachBatch + an idempotent per-batch write, which this provides in
    the two forms at-least-once redelivery can take:

    - ``key`` given (dimension-like data): each micro-batch runs the
      S12 upsert-ignore — a replayed batch re-offers rows whose keys
      already exist and inserts nothing.  Idempotent under ANY replay,
      including a lost checkpoint.
    - ``key=None`` (append-only facts): rows are tagged with the
      micro-batch id and each batch first clears its OWN tag scope
      (``DELETE WHERE _batch_id = n``) before appending — a replayed
      batch replaces exactly its previous output (the JDBC analog of
      ``stage_raw_batch``'s overwrite-by-batch-dir).  Idempotent under
      checkpoint-driven replay, where a redelivered batch keeps its id.

    At scale both modes parallelize across the cluster: the DELETE is
    one scoped statement on the database; the insert is per-partition
    batched connections (write_jdbc)."""
    from busdata_pipeline_spark.operators.warehouse import (
        exec_jdbc_update,
        upsert_ignore_jdbc,
        write_jdbc,
    )

    def handle(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        if key is not None:
            upsert_ignore_jdbc(batch, url, table_name, key=key,
                               batchsize=batchsize)
        else:
            exec_jdbc_update(
                batch.sparkSession, url,
                f'DELETE FROM {table_name} WHERE "_batch_id" = {int(batch_id)}',
            )
            write_jdbc(batch.withColumn("_batch_id", F.lit(int(batch_id))),
                       url, table_name, batchsize=batchsize, mode="append")

    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
