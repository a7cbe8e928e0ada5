"""Kafka-format legs of the subscriber chain (S4 publish / S5 source).

The reference's queue is Google Pub/Sub (data_collector.py:81-142
publishes each breadcrumb as a JSON message; data_subscriber.py:107-110
runs the streaming pull).  ``streaming/ingest.py`` reproduces that
contract with a file-source drop directory; THIS module is the
advertised "one-line source swap" made real: the same decoded breadcrumb
stream and the same publish payloads, over Spark's Kafka connector.

Layering (so everything testable without a broker IS tested):

- ``decode_kafka_breadcrumbs`` — Kafka wire rows (``value: binary``) ->
  the exact schema ``stream_breadcrumbs`` produces, DROPMALFORMED
  semantics included.  Pure DataFrame transform: batch-tested for parity
  against the JSONL reader in ``tests/test_kafka_format.py``.
- ``breadcrumb_kafka_payload`` — rows -> (key, value) publish payloads;
  key = vehicle id so a vehicle's readings stay in one partition
  (ordered per vehicle, the same per-vehicle ordering the reference
  gets from its per-vehicle fetch loop).
- ``stream_breadcrumbs_kafka`` / ``publish_kafka`` — the connector-bound
  readStream/writeStream wrappers, gated on ``kafka_available``: the
  kafka-sql connector jar is a runtime add-on (``--packages
  org.apache.spark:spark-sql-kafka-0-10_2.13:<spark version>``) and this
  container does not ship it, so these raise a clear error instead of an
  opaque ClassNotFound deep in a stream start.

Exactly-once: unchanged from the file-source chain — the Kafka source's
offsets live in the SAME checkpoint, and the sink side is the SAME
idempotent warehouse write (``stream_into_warehouse``), so swapping the
source preserves the at-least-once -> exactly-once contract (T4/S8);
``tests/test_kafka_format.py`` pins that the decoded stream plugs into
the identical downstream lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from busdata_pipeline_spark.schemas import RAW_BREADCRUMB_DECODED


def kafka_available(spark: SparkSession) -> bool:
    """True when the kafka-sql connector is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001 - classpath probe
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:  # noqa: BLE001 - any JVM error means "not installed"
        return False


def decode_kafka_breadcrumbs(raw: DataFrame) -> DataFrame:
    """Kafka records -> breadcrumb rows, matching ``stream_breadcrumbs``.

    ``from_json`` yields NULL for undecodable payloads; dropping those
    rows is the DROPMALFORMED behavior of the file-source leg (S9's
    bad-line skip).  A message whose value is valid JSON but misses
    every schema field decodes to an all-null struct — also dropped
    (nothing to route).  Rows with SOME decoded fields but missing
    timestamp fields are KEPT, exactly like the file leg: downstream
    ``with_event_date`` falls back to the processing date for routing
    (T2), so the two legs stay drop-in interchangeable for every
    decodable message.
    """
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), RAW_BREADCRUMB_DECODED)
        .alias("r")
    )
    any_field = None
    for f in RAW_BREADCRUMB_DECODED.fields:
        c = F.col(f"r.{f.name}").isNotNull()
        any_field = c if any_field is None else (any_field | c)
    return (
        parsed.where(F.col("r").isNotNull() & any_field)
        .select("r.*")
    )


def breadcrumb_kafka_payload(rows: DataFrame) -> DataFrame:
    """Rows -> Kafka publish payloads: key = vehicle id (per-vehicle
    ordering within a partition), value = the JSON the subscriber leg
    decodes — a lossless round trip through decode_kafka_breadcrumbs."""
    return rows.select(
        F.col("VEHICLE_ID").cast("string").alias("key"),
        F.to_json(F.struct(*rows.columns)).alias("value"),
    )


def stream_breadcrumbs_kafka(spark: SparkSession, bootstrap_servers: str,
                             topic: str,
                             starting_offsets: str = "earliest",
                             max_offsets_per_trigger: int | None = None
                             ) -> DataFrame:
    """S5, Kafka form — drop-in for ``stream_breadcrumbs``: same output
    schema, offsets checkpointed by the engine exactly like file-source
    offsets.  ``maxOffsetsPerTrigger`` is the ``maxFilesPerTrigger``
    analog (micro-batch admission control)."""
    if not kafka_available(spark):
        raise RuntimeError(
            "spark-sql-kafka connector not on the classpath; add "
            "org.apache.spark:spark-sql-kafka-0-10_2.13 via spark.jars."
            "packages (the file-source leg in streaming/ingest.py needs "
            "no extra package)"
        )
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger:
        reader = reader.option(
            "maxOffsetsPerTrigger", max_offsets_per_trigger
        )
    return decode_kafka_breadcrumbs(reader.load())


def publish_kafka(rows: DataFrame, bootstrap_servers: str, topic: str,
                  checkpoint: str):
    """S4, Kafka form — publish a (batch or streaming) breadcrumb
    DataFrame; batching per micro-batch is the engine's (T6)."""
    spark = rows.sparkSession
    if not kafka_available(spark):
        raise RuntimeError(
            "spark-sql-kafka connector not on the classpath; add "
            "org.apache.spark:spark-sql-kafka-0-10_2.13 via spark.jars."
            "packages"
        )
    payload = breadcrumb_kafka_payload(rows)
    if rows.isStreaming:
        return (
            payload.writeStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("topic", topic)
            .option("checkpointLocation", checkpoint)
            .start()
        )
    return (
        payload.write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .save()
    )
