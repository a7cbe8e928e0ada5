"""S10 — LIVE JDBC round-trip against embedded Apache Derby.

The reference's relational sink is a psycopg2 batched INSERT into
Postgres (/root/reference/transform.py:190-201,263-288, batch_size=1000
at :271).  No network database exists in this container, but Spark ships
the Derby embedded engine on its classpath (derby-*.jar), so these tests
exercise the REAL JDBC code path end-to-end — DataFrameWriter -> JDBC
driver -> SQL INSERT batches -> on-disk database -> DataFrameReader —
not a mock.  Embedded Derby runs inside the driver/executor JVM and
accepts concurrent connections from parallel write tasks, so the
partition-parallel write path (each task opens its own connection, the
exact shape a cluster-wide Postgres load takes) is exercised too.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from busdata_pipeline_spark.operators.warehouse import (
    read_jdbc,
    upsert_ignore_jdbc,
    write_jdbc,
)

from conftest import SF0001


@pytest.fixture(scope="module")
def derby_url(tmp_path_factory):
    db = tmp_path_factory.mktemp("derby") / "db"
    return f"jdbc:derby:{db};create=true"


@pytest.fixture()
def events(spark):
    return (
        spark.read.parquet(f"{SF0001}/events.parquet")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("event_id")
        .limit(500)
    )


def _read_sorted(spark, url, table):
    return read_jdbc(spark, url, table).orderBy("event_id").collect()


def test_jdbc_roundtrip_append(spark, derby_url, events):
    """Write -> read back -> byte-identical rows (incl. NULL value rows
    and timestamps crossing the JDBC type bridge)."""
    write_jdbc(events, derby_url, "events_rt", batchsize=100)
    got = _read_sorted(spark, derby_url, "events_rt")
    want = events.collect()
    assert len(got) == len(want) == 500
    for g, w in zip(got, want):
        assert g.event_id == w.event_id
        assert g.ts == w.ts
        assert g.user_id == w.user_id
        assert g.event_type == w.event_type
        assert g.value == w.value or (g.value is None and w.value is None)


def test_jdbc_parallel_partition_write(spark, derby_url, events):
    """4 write tasks -> 4 concurrent connections -> no lost/dup rows.
    This is the shape of the reference's load distributed cluster-wide:
    every partition streams its own batched INSERTs."""
    write_jdbc(events.repartition(4), derby_url, "events_par", batchsize=50)
    got = read_jdbc(spark, derby_url, "events_par")
    assert got.count() == 500
    assert got.select("event_id").distinct().count() == 500


def test_jdbc_overwrite_replaces(spark, derby_url, events):
    write_jdbc(events.limit(100), derby_url, "events_ow")
    write_jdbc(events.limit(37), derby_url, "events_ow", mode="overwrite")
    assert read_jdbc(spark, derby_url, "events_ow").count() == 37


def test_jdbc_upsert_ignore(spark, derby_url, events):
    """The reference's ON CONFLICT DO NOTHING trip-dim load
    (transform.py:193) against a real database: first load creates the
    table; a second load overlapping 400 of 500 keys inserts only the
    100 new ones; a full-duplicate third load is a no-op."""
    first = events.limit(400)
    upsert_ignore_jdbc(first, derby_url, "trip_dim", key="event_id")
    assert read_jdbc(spark, derby_url, "trip_dim").count() == 400

    upsert_ignore_jdbc(events, derby_url, "trip_dim", key="event_id")
    got = read_jdbc(spark, derby_url, "trip_dim")
    assert got.count() == 500
    assert got.select("event_id").distinct().count() == 500

    upsert_ignore_jdbc(events, derby_url, "trip_dim", key="event_id")
    assert read_jdbc(spark, derby_url, "trip_dim").count() == 500


def test_jdbc_predicate_pushdown(spark, derby_url, events):
    """Filters cross the JDBC boundary as WHERE clauses — the database
    prunes, Spark doesn't full-scan.  PushedFilters must appear in the
    physical scan description."""
    write_jdbc(events, derby_url, "events_pd")
    df = read_jdbc(spark, derby_url, "events_pd").where(F.col("user_id") == 7)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "user_id" in plan
    want = events.where(F.col("user_id") == 7).count()
    assert df.count() == want


# ---------------------------------------------------------------------------
# streaming -> JDBC exactly-once (S10 x T4)

from busdata_pipeline_spark.operators.warehouse import exec_jdbc_update
from busdata_pipeline_spark.streaming.ingest import stream_into_jdbc

STREAM_SCHEMA = "id BIGINT, v STRING"


def _write_chunk(d, name, ids):
    rows = "\n".join('{"id": %d, "v": "r%d"}' % (i, i) for i in ids)
    (d / name).write_text(rows + "\n")


def _stream(spark, d):
    return spark.readStream.schema(STREAM_SCHEMA).json(str(d))


def test_stream_jdbc_keyed_exactly_once(spark, derby_url, tmp_path):
    """Keyed (dimension) mode: upsert-ignore per micro-batch makes the
    sink idempotent under ANY redelivery — even a lost checkpoint that
    replays the entire source."""
    d = tmp_path / "drop_k"
    d.mkdir()
    _write_chunk(d, "f0.jsonl", range(0, 50))
    _write_chunk(d, "f1.jsonl", range(40, 80))  # 10 overlapping keys

    ck1 = str(tmp_path / "ck1")
    q = stream_into_jdbc(_stream(spark, d), derby_url, "s_dim",
                         checkpoint=ck1, key="id")
    assert q.awaitTermination(120)
    assert read_jdbc(spark, derby_url, "s_dim").count() == 80

    # lost checkpoint -> full source redelivery -> still 80 rows
    ck2 = str(tmp_path / "ck2")
    q = stream_into_jdbc(_stream(spark, d), derby_url, "s_dim",
                         checkpoint=ck2, key="id")
    assert q.awaitTermination(120)
    got = read_jdbc(spark, derby_url, "s_dim")
    assert got.count() == 80
    assert got.select("id").distinct().count() == 80


def test_stream_jdbc_append_batch_scoped(spark, derby_url, tmp_path):
    """Append (fact) mode: rows are tagged with the micro-batch id and a
    replayed batch REPLACES its own scope — checkpointed restart consumes
    only new files, and re-applying a batch's write is a no-op in count."""
    d = tmp_path / "drop_a"
    d.mkdir()
    _write_chunk(d, "f0.jsonl", range(0, 30))

    ck = str(tmp_path / "cka")

    def run():
        q = stream_into_jdbc(_stream(spark, d), derby_url, "s_fact",
                             checkpoint=ck)
        assert q.awaitTermination(120)

    run()
    assert read_jdbc(spark, derby_url, "s_fact").count() == 30

    # restart with nothing new: no-op
    run()
    assert read_jdbc(spark, derby_url, "s_fact").count() == 30

    # restart with one new file: only its rows are added
    _write_chunk(d, "f1.jsonl", range(100, 120))
    run()
    fact = read_jdbc(spark, derby_url, "s_fact")
    assert fact.count() == 50
    batch_of_new = fact.where(F.col("id") >= 100).select("_batch_id").distinct().collect()
    assert len(batch_of_new) == 1
    bid = batch_of_new[0][0]

    # simulate an at-least-once REDELIVERY of that batch: clear its scope
    # and re-append the same rows under the same id — count must not move
    exec_jdbc_update(spark, derby_url,
                     f'DELETE FROM s_fact WHERE "_batch_id" = {bid}')
    redelivered = (
        spark.read.schema(STREAM_SCHEMA).json(str(d / "f1.jsonl"))
        .withColumn("_batch_id", F.lit(int(bid)))
    )
    write_jdbc(redelivered, derby_url, "s_fact", mode="append")
    assert read_jdbc(spark, derby_url, "s_fact").count() == 50
