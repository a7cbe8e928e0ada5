"""Structured Streaming behavior tests: file-source replay of the
subscriber drop dir, event-date routing, stream==batch window equality,
foreachBatch warehouse handoff, and watermark late-data dropping.
"""

from __future__ import annotations

import json
import os
import time
from datetime import date

import pytest
from pyspark.sql import functions as F

from busdata_pipeline_spark.operators.warehouse import read_dim, read_fact
from busdata_pipeline_spark.sources import table
from busdata_pipeline_spark.sources.jsonl import read_breadcrumb_jsonl
from busdata_pipeline_spark.streaming.ingest import (
    stream_breadcrumbs,
    stream_into_warehouse,
    write_bronze,
)
from busdata_pipeline_spark.streaming.windows import (
    tumbling_counts,
    with_watermark,
)
from tests.conftest import SF0001
from tests.test_breadcrumb_etl import fixture_lines


@pytest.fixture()
def drop_dir(tmp_path):
    d = tmp_path / "drop"
    d.mkdir()
    lines = fixture_lines()
    half = len(lines) // 2
    (d / "chunk_0.jsonl").write_text("\n".join(lines[:half]) + "\n")
    (d / "chunk_1.jsonl").write_text("\n".join(lines[half:]) + "\n")
    return str(d)


def test_bronze_event_date_routing(spark, drop_dir, tmp_path):
    """T2/S7 — records route to partitions by the RECORD's event date."""
    out, ckpt = str(tmp_path / "bronze"), str(tmp_path / "ckpt1")
    q = write_bronze(stream_breadcrumbs(spark, drop_dir), out, ckpt)
    assert q.awaitTermination(120)
    bronze = spark.read.parquet(out)
    batch = read_breadcrumb_jsonl(spark, drop_dir + "/*.jsonl")
    # every JSON-valid record landed exactly once (the unparseable-date
    # record routes to the processing-date fallback partition, T2)
    assert bronze.count() == batch.count()
    fallback = bronze.where("OPD_DATE = 'notadate:00:00:00'").collect()
    assert len(fallback) == 1 and fallback[0].tstamp is None
    # rollover trip (ACT_TIME>=86400) landed on the NEXT day's partition
    dates = {
        str(r.event_date)
        for r in bronze.where("EVENT_NO_TRIP = 9004").select("event_date").collect()
    }
    assert dates == {"2023-01-01", "2023-01-02"}


def test_stream_warehouse_equals_batch(spark, drop_dir, tmp_path):
    """T5 — foreachBatch handoff produces the same warehouse as the batch
    job (same enrichment lineage, different engine)."""
    wh_s, ckpt = str(tmp_path / "wh_stream"), str(tmp_path / "ckpt2")
    q = stream_into_warehouse(stream_breadcrumbs(spark, drop_dir), wh_s, ckpt)
    assert q.awaitTermination(180)

    from busdata_pipeline_spark.operators.warehouse import load_day

    wh_b = str(tmp_path / "wh_batch")
    load_day(read_breadcrumb_jsonl(spark, drop_dir + "/*.jsonl"), wh_b)

    def canon_fact(wh):
        return sorted(
            (
                (str(r.tstamp), r.latitude, r.longitude,
                 None if r.speed is None else round(r.speed, 9), r.trip_id)
                for r in read_fact(spark, wh).collect()
            ),
            key=repr,
        )

    assert canon_fact(wh_s) == canon_fact(wh_b)
    assert canon_dim(spark, wh_s) == canon_dim(spark, wh_b)


def canon_dim(spark, wh):
    return sorted(map(tuple, read_dim(spark, wh).collect()))


def test_stream_windows_equal_batch_windows(spark, tmp_path):
    """One window definition, two engines: tumbling counts over a
    readStream == the same builder over the batch table."""
    events = table(spark, SF0001, "events")
    src = str(tmp_path / "ev_json")
    events.select(
        "event_id", F.col("ts").cast("string").alias("ts"),
        "user_id", "event_type", "value",
    ).coalesce(2).write.json(src)

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    stream = spark.readStream.schema(schema).json(src)
    agg = tumbling_counts(with_watermark(stream, "2 hours"), "1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        (str(r.window_start), r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM tumbling_stream").collect()
    }
    want = {
        (str(r.window_start), r.n_events, r.total_value)
        for r in tumbling_counts(
            events.select("event_id", "ts", "user_id", "event_type", "value")
        ).collect()
    }
    assert got == want


def test_stream_dedup_drops_redelivered(spark, tmp_path):
    """At-least-once redelivery (same EVENT_NO_TRIP/ACT_TIME record in a
    later micro-batch) is dropped in flight by
    dropDuplicatesWithinWatermark."""
    from busdata_pipeline_spark.streaming.dedup import dedup_stream
    from busdata_pipeline_spark.streaming.ingest import with_event_date

    src = str(tmp_path / "redeliver_src")
    os.makedirs(src)

    def rec(trip, act):
        return json.dumps({
            "EVENT_NO_TRIP": trip, "EVENT_NO_STOP": 1,
            "OPD_DATE": "25DEC2022:00:00:00", "VEHICLE_ID": 1,
            "METERS": 1.0, "ACT_TIME": act,
            "GPS_LATITUDE": 45.5, "GPS_LONGITUDE": -122.6,
        })

    f0 = os.path.join(src, "a0.jsonl")
    with open(f0, "w") as fh:
        fh.write("\n".join([rec(1, 100), rec(1, 160), rec(2, 100)]) + "\n")
    # batch 1 redelivers (1,100) and (2,100), plus one genuinely new row
    f1 = os.path.join(src, "b1.jsonl")
    with open(f1, "w") as fh:
        fh.write("\n".join([rec(1, 100), rec(2, 100), rec(2, 220)]) + "\n")
    now = time.time()
    os.utime(f0, (now - 600, now - 600))
    os.utime(f1, (now, now))

    stream = with_event_date(stream_breadcrumbs(spark, src, max_files_per_trigger=1))
    deduped = dedup_stream(stream, ["EVENT_NO_TRIP", "ACT_TIME"],
                           ts_col="tstamp", watermark="24 hours")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql(
        "SELECT EVENT_NO_TRIP, ACT_TIME FROM dedup_stream_t"
    ).collect()
    got = sorted((r.EVENT_NO_TRIP, r.ACT_TIME) for r in rows)
    assert got == [(1, 100), (1, 160), (2, 100), (2, 220)]


def test_compact_day_preserves_rows(spark, drop_dir, tmp_path):
    """Compaction rewrites one day partition into target_files files with
    identical rows; other days untouched."""
    import glob

    from busdata_pipeline_spark.operators.enrich import enrich_breadcrumbs
    from busdata_pipeline_spark.operators.warehouse import (
        compact_day,
        write_fact_idempotent,
    )

    wh = str(tmp_path / "wh_compact")
    raw = read_breadcrumb_jsonl(spark, drop_dir + "/*.jsonl")
    # micro-batch analog: rows scattered over many writer tasks => many
    # small files inside each day partition
    write_fact_idempotent(enrich_breadcrumbs(raw).repartition(6), wh)

    day = "2023-01-02"
    part_glob = os.path.join(wh, "breadcrumb", f"event_date={day}", "*.parquet")
    before_rows = sorted(
        map(repr, read_fact(spark, wh).where(F.col("event_date") == day).collect())
    )
    total_before = read_fact(spark, wh).count()
    assert len(glob.glob(part_glob)) > 1

    compact_day(spark, wh, day, target_files=1)
    assert len(glob.glob(part_glob)) == 1
    after_rows = sorted(
        map(repr, read_fact(spark, wh).where(F.col("event_date") == day).collect())
    )
    assert after_rows == before_rows
    assert read_fact(spark, wh).count() == total_before


def test_stateful_trip_progress_across_batches(spark, tmp_path):
    """applyInPandasWithState — per-trip state persists ACROSS
    micro-batches: the second batch's emission reports cumulative
    totals, not batch-local ones."""
    from busdata_pipeline_spark.streaming.stateful import track_trip_progress

    src = str(tmp_path / "trips_src")
    os.makedirs(src)

    def rec(trip, act_time, meters):
        return json.dumps({
            "EVENT_NO_TRIP": trip, "EVENT_NO_STOP": 1,
            "OPD_DATE": "25DEC2022:00:00:00", "VEHICLE_ID": 1,
            "METERS": meters, "ACT_TIME": act_time,
            "GPS_LATITUDE": 45.5, "GPS_LONGITUDE": -122.6,
        })

    f0 = os.path.join(src, "a_batch0.jsonl")
    with open(f0, "w") as fh:
        fh.write("\n".join([rec(1, 100, 0.0), rec(1, 160, 500.0),
                            rec(2, 100, 0.0)]) + "\n")
    f1 = os.path.join(src, "b_batch1.jsonl")
    with open(f1, "w") as fh:
        fh.write("\n".join([rec(1, 220, 1200.0), rec(1, 280, 1500.0)]) + "\n")
    now = time.time()
    os.utime(f0, (now - 600, now - 600))
    os.utime(f1, (now, now))

    stream = stream_breadcrumbs(spark, src, max_files_per_trigger=1)
    q = (
        track_trip_progress(stream)
        .writeStream.format("memory")
        .queryName("trip_progress")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM trip_progress").collect()
    per_trip = {}
    for r in rows:
        per_trip.setdefault(r.trip_id, []).append(
            (r.n_pings, r.meters_traveled, r.duration_sec)
        )
    # trip 1: batch0 emits (2, 500, 60); batch1 emits CUMULATIVE (4, 1500, 180)
    assert (2, 500.0, 60) in per_trip[1]
    assert (4, 1500.0, 180) in per_trip[1]
    # trip 2 only seen in batch0; exactly one emission
    assert per_trip[2] == [(1, 0.0, 0)]


def test_watermark_drops_late_rows(spark, tmp_path):
    """T3 — a record later than the watermark is excluded from its
    (already-finalized) window in append mode."""
    src = str(tmp_path / "late_src")
    os.makedirs(src)
    on_time = [
        {"event_id": i, "ts": f"2024-03-01 {h:02d}:15:00", "user_id": 1, "value": 1.0}
        for i, h in enumerate([9, 10, 11, 12])
    ]
    f0 = os.path.join(src, "a_batch0.json")
    with open(f0, "w") as fh:
        fh.write("\n".join(json.dumps(r) for r in on_time) + "\n")
    # batch1 advances processing so the 09/10 windows get EVICTED (a
    # watermark drops input only once the window's state is gone —
    # while state is live, a late row still merges; Spark semantics).
    f1 = os.path.join(src, "b_batch1.json")
    with open(f1, "w") as fh:
        fh.write(json.dumps(
            {"event_id": 50, "ts": "2024-03-01 13:15:00", "user_id": 1, "value": 1.0}
        ) + "\n")
    late = {"event_id": 99, "ts": "2024-03-01 09:20:00", "user_id": 1, "value": 1.0}
    f2 = os.path.join(src, "c_batch2.json")
    with open(f2, "w") as fh:
        fh.write(json.dumps(late) + "\n")
    now = time.time()
    os.utime(f0, (now - 600, now - 600))  # modTime => batch order
    os.utime(f1, (now - 300, now - 300))
    os.utime(f2, (now, now))

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    agg = tumbling_counts(with_watermark(stream, "1 hour"), "1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("late_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = {
        str(r.window_start): r.n_events
        for r in spark.sql("SELECT * FROM late_stream").collect()
    }
    # the 09:20 row arrived after the 09:00 window was finalized+evicted
    # (watermark 12:15 by then) -> dropped, window count stays 1.
    assert rows.get("2024-03-01 09:00:00") == 1
    assert rows.get("2024-03-01 10:00:00") == 1
    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
         if p["stateOperators"] else 0)
        for p in q.recentProgress
    )
    assert dropped == 1


def test_incremental_mode_survives_multibatch_day(spark, drop_dir, tmp_path):
    """Round-2 regression (ADVICE): a day spanning multiple micro-batches
    must not lose the earlier batches' rows.  maxFilesPerTrigger=1 forces
    each drop-dir chunk into its own batch; both chunks carry the same
    days.  After promote_stage the warehouse equals the batch job's, row
    for row in both tables.  Trip 7001's earliest ping, on another
    vehicle, arrives in the SECOND batch: its dim row must still come
    from that ping, as in the batch load."""
    from busdata_pipeline_spark.operators.warehouse import (
        load_day,
        promote_stage,
    )
    from tests.test_breadcrumb_etl import rec

    day = date(2023, 1, 3)
    chunks = [os.path.join(drop_dir, f"chunk_{i}.jsonl") for i in (0, 1)]
    planted = [
        [rec(7001, 3001, day, 50000, 900), rec(7001, 3001, day, 50060, 1200)],
        [rec(7001, 3002, day, 49900, 600)],
    ]
    now = time.time()
    for path, rows, age in zip(chunks, planted, (600, 0)):
        with open(path, "a") as fh:
            fh.write("".join(json.dumps(r) + "\n" for r in rows))
        os.utime(path, (now - age, now - age))  # older file, earlier batch

    wh_s, ckpt = str(tmp_path / "wh_inc"), str(tmp_path / "ckpt_inc")
    q = stream_into_warehouse(
        stream_breadcrumbs(spark, drop_dir, max_files_per_trigger=1),
        wh_s, ckpt, incremental=True,
    )
    assert q.awaitTermination(180)
    promoted = promote_stage(spark, wh_s)
    assert promoted > 0

    wh_b = str(tmp_path / "wh_inc_batch")
    load_day(read_breadcrumb_jsonl(spark, drop_dir + "/*.jsonl"), wh_b)

    def canon_fact(wh):
        return sorted(
            (
                (str(r.tstamp), r.latitude, r.longitude,
                 None if r.speed is None else round(r.speed, 9), r.trip_id)
                for r in read_fact(spark, wh).collect()
            ),
            key=repr,
        )

    assert canon_fact(wh_s) == canon_fact(wh_b)
    assert canon_dim(spark, wh_s) == canon_dim(spark, wh_b)
    assert read_dim(spark, wh_s).where("trip_id = 7001").first().vehicle_id == 3002
    # promote is a pure function of the retained stage: re-running it
    # (crash-retry) recomputes the same days with the same rows
    assert promote_stage(spark, wh_s) == promoted
    assert canon_fact(wh_s) == canon_fact(wh_b)
    # vacuum everything (all days closed) -> next promote is a no-op
    from busdata_pipeline_spark.operators.warehouse import vacuum_stage

    assert vacuum_stage(spark, wh_s, "2099-01-01") == 0
    assert promote_stage(spark, wh_s) == 0
    assert canon_fact(wh_s) == canon_fact(wh_b)


def test_vacuum_stage_keeps_open_days(spark, drop_dir, tmp_path):
    """vacuum_stage drops only days before the retention boundary; a
    later promote still recomputes the retained days in full."""
    from busdata_pipeline_spark.operators.warehouse import (
        promote_stage,
        vacuum_stage,
    )

    wh, ckpt = str(tmp_path / "wh_vac"), str(tmp_path / "ckpt_vac")
    q = stream_into_warehouse(
        stream_breadcrumbs(spark, drop_dir, max_files_per_trigger=1),
        wh, ckpt, incremental=True,
    )
    assert q.awaitTermination(180)
    total = promote_stage(spark, wh)
    kept = vacuum_stage(spark, wh, "2023-01-04")
    assert 0 < kept < total
    before = sorted(map(repr, read_fact(spark, wh).collect()))
    # promote again: only open days recomputed, closed days untouched
    assert promote_stage(spark, wh) == kept
    after = sorted(map(repr, read_fact(spark, wh).collect()))
    assert before == after


def test_replay_mode_refuses_live_trigger(spark, drop_dir, tmp_path):
    """Whole-day-overwrite mode on a live trigger can erase earlier
    batches of the same day — must refuse loudly."""
    with pytest.raises(ValueError, match="incremental"):
        stream_into_warehouse(
            stream_breadcrumbs(spark, drop_dir),
            str(tmp_path / "wh_live"), str(tmp_path / "ckpt_live"),
            available_now=False,
        )


def test_tws_trip_progress_across_batches(spark, tmp_path):
    """transformWithStateInPandas (Spark 4 StatefulProcessor) — same
    cumulative-across-batches semantics as the applyInPandasWithState
    tracker, on the RocksDB state backend the new API requires."""
    from busdata_pipeline_spark.streaming.stateful import (
        ensure_protobuf_runtime,
        track_trip_progress_tws,
    )

    # real protobuf when installed, else the repo's wire-validated shim
    # (vendor/protoshim, cross-checked in tests/test_protoshim.py)
    assert ensure_protobuf_runtime(spark) in ("protobuf", "shim")

    src = str(tmp_path / "tws_src")
    os.makedirs(src)

    def rec(trip, act_time, meters):
        return json.dumps({
            "EVENT_NO_TRIP": trip, "EVENT_NO_STOP": 1,
            "OPD_DATE": "25DEC2022:00:00:00", "VEHICLE_ID": 1,
            "METERS": meters, "ACT_TIME": act_time,
            "GPS_LATITUDE": 45.5, "GPS_LONGITUDE": -122.6,
        })

    f0 = os.path.join(src, "a_batch0.jsonl")
    with open(f0, "w") as fh:
        fh.write("\n".join([rec(1, 100, 0.0), rec(1, 160, 500.0),
                            rec(2, 100, 0.0)]) + "\n")
    f1 = os.path.join(src, "b_batch1.jsonl")
    with open(f1, "w") as fh:
        fh.write("\n".join([rec(1, 220, 1200.0), rec(1, 280, 1500.0)]) + "\n")
    now = time.time()
    os.utime(f0, (now - 600, now - 600))
    os.utime(f1, (now, now))

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = stream_breadcrumbs(spark, src, max_files_per_trigger=1)
        q = (
            track_trip_progress_tws(stream)
            .writeStream.format("memory")
            .queryName("trip_progress_tws")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        rows = spark.sql("SELECT * FROM trip_progress_tws").collect()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    per_trip = {}
    for r in rows:
        per_trip.setdefault(r.trip_id, []).append(
            (r.n_pings, r.meters_traveled, r.duration_sec)
        )
    assert (2, 500.0, 60) in per_trip[1]
    assert (4, 1500.0, 180) in per_trip[1]
    assert per_trip[2] == [(1, 0.0, 0)]


def test_checkpoint_restart_is_exactly_once(spark, tmp_path):
    """T4 hard case: STOP the stream, add new data for the SAME days,
    RESTART with the same checkpoint — the resumed query must process
    only the new files, promote must fold both batches' rows into the
    day (this is precisely the case whole-day-replay mode cannot serve,
    the round-1 data-loss bug), and a restart with nothing new must
    change nothing."""
    from busdata_pipeline_spark.operators.warehouse import (
        load_day,
        promote_stage,
        read_fact,
    )

    d = tmp_path / "restart_drop"
    d.mkdir()
    lines = fixture_lines()
    half = len(lines) // 2
    (d / "chunk_0.jsonl").write_text("\n".join(lines[:half]) + "\n")
    wh, ckpt = str(tmp_path / "wh_restart"), str(tmp_path / "ckpt_restart")

    def run_stream():
        q = stream_into_warehouse(
            stream_breadcrumbs(spark, str(d)), wh, ckpt, incremental=True
        )
        assert q.awaitTermination(120)
        promote_stage(spark, wh)

    run_stream()
    n_first = read_fact(spark, wh).count()
    assert n_first > 0

    # restart with NEW data for the same days: only chunk_1 is consumed,
    # and promote recomputes the touched days over BOTH batches' rows
    (d / "chunk_1.jsonl").write_text("\n".join(lines[half:]) + "\n")
    run_stream()
    n_second = read_fact(spark, wh).count()
    assert n_second > n_first

    # restart with NOTHING new: a no-op, counts identical
    run_stream()
    assert read_fact(spark, wh).count() == n_second

    # and the final warehouse equals the one-shot batch load
    wh_b = str(tmp_path / "wh_restart_batch")
    load_day(read_breadcrumb_jsonl(spark, str(d) + "/*.jsonl"), wh_b)
    assert read_fact(spark, wh).count() == read_fact(spark, wh_b).count()


def test_watermark_replay_semantics(spark):
    """Pin the empirical watermark model streaming/replay.py documents:
    late filter = (window_end <= wm lagged one batch), final emission =
    (window_end <= final wm), both boundaries INCLUSIVE."""
    from datetime import datetime

    from busdata_pipeline_spark.streaming.replay import watermark_replay

    def ts(s):
        return datetime.fromisoformat(s)

    def batch(rows):
        return spark.createDataFrame(rows, "ts timestamp, value double")

    # on_time max 12:00 -> wm 10:00 after filler batch seals it
    on_time = batch([(ts("2024-01-01 09:10:00"), 1.0),
                     (ts("2024-01-01 12:00:00"), 1.0)])
    filler = batch([(ts("2024-01-01 12:00:00"), 1.0)])
    late = batch([
        (ts("2024-01-01 08:30:00"), 10.0),   # end 09:00 <  wm -> drop
        (ts("2024-01-01 09:30:00"), 10.0),   # end 10:00 == wm -> drop
        (ts("2024-01-01 10:30:00"), 10.0),   # end 11:00 >  wm -> keep
    ])
    # final wm = 20:00 - 2h = 18:00: [17,18) end == wm emits, [20,21) not
    future = batch([(ts("2024-01-01 17:30:00"), 5.0),
                    (ts("2024-01-01 20:00:00"), 100.0)])

    out = {
        r.window_start: (r.n_events, r.total_value)
        for r in watermark_replay(spark, [on_time, filler, late, future]).collect()
    }
    assert out == {
        ts("2024-01-01 09:00:00"): (1, 1.0),    # late 09:30 dropped
        ts("2024-01-01 10:00:00"): (1, 10.0),   # late 10:30 kept
        ts("2024-01-01 12:00:00"): (2, 2.0),
        ts("2024-01-01 17:00:00"): (1, 5.0),    # end == final wm emits
    }
    assert ts("2024-01-01 08:00:00") not in out  # late 08:30 dropped
    assert ts("2024-01-01 20:00:00") not in out  # above final wm: unemitted


def test_stream_join_replay_semantics(spark):
    """Stream-stream interval join: same-batch and cross-batch on-time
    pairs emit; a left row replayed two batches after its partner
    emits nothing (late input dropped + right state evicted), even
    though the batch-mode join would match it."""
    from datetime import datetime

    from busdata_pipeline_spark.streaming.replay import stream_join_replay

    def ts(s):
        return datetime.fromisoformat(s)

    def batch(rows):
        return spark.createDataFrame(rows, "user_id long, ts timestamp, value double")

    # day-1 on-time: click 10:00 matches views 09:00 and 10:00 (same
    # batch); view 23:30 is the partner of the day-2 00:15 click
    # (cross-batch).
    l0 = batch([(1, ts("2024-01-01 10:00:00"), 1.0)])
    r0 = batch([(1, ts("2024-01-01 09:00:00"), 2.0),
                (1, ts("2024-01-01 10:00:00"), 3.0),
                (1, ts("2024-01-01 11:00:00"), 50.0),   # after click: no match
                (2, ts("2024-01-01 23:30:00"), 4.0)])
    # day-2: the cross-batch click, plus fresh rows advancing both
    # watermarks a full day.
    l1 = batch([(2, ts("2024-01-02 00:15:00"), 1.0),
                (9, ts("2024-01-02 23:00:00"), 1.0)])
    r1 = batch([(9, ts("2024-01-02 22:30:00"), 5.0)])
    # day-3: margin batch (watermark moves ~2 days past day 1).
    l2 = batch([(8, ts("2024-01-03 23:00:00"), 1.0)])
    r2 = batch([(8, ts("2024-01-03 22:00:00"), 6.0)])
    # LATE: a day-1 click whose partner view (09:00/10:00) is long
    # evicted and whose own ts is far below the watermark.
    l3 = batch([(1, ts("2024-01-01 10:30:00"), 99.0)])
    r3 = batch([(-1, ts("2024-01-03 23:59:00"), 0.0)])  # sentinel

    out = {
        r.click_hour: (r.n_pairs, r.view_value)
        for r in stream_join_replay(
            spark, [l0, l1, l2, l3], [r0, r1, r2, r3]
        ).collect()
    }
    assert out == {
        ts("2024-01-01 10:00:00"): (2, 5.0),   # 09:00 + 10:00 views
        ts("2024-01-02 00:00:00"): (1, 4.0),   # cross-batch 23:30 view
        ts("2024-01-02 23:00:00"): (1, 5.0),
        ts("2024-01-03 23:00:00"): (1, 6.0),
    }
    # The late click is absent — but batch mode WOULD have matched it.
    assert ts("2024-01-01 10:30:00") not in out


# ---------------------------------------------------------------------------
# streaming CDC merge-apply (cdc_merge_replay)

def _cdc_batches(spark):
    cust = table(spark, SF0001, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    k = F.col("c_custkey")
    b1 = cust.where(k % 3 == 0).select(
        "c_custkey", "c_name",
        (F.col("c_acctbal") + 100).alias("c_acctbal"),
        F.lit("UPDATED-1").alias("c_mktsegment"),
        F.lit("update").alias("op"),
    )
    b2 = cust.where(k % 5 == 0).select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment",
        F.lit("delete").alias("op"),
    ).unionByName(cust.where(k % 7 == 0).select(
        (k + 1000000).alias("c_custkey"), "c_name", "c_acctbal",
        F.lit("INSERTED").alias("c_mktsegment"),
        F.lit("insert").alias("op"),
    ))
    b3 = cust.where(k % 7 == 0).select(
        (k + 1000000).alias("c_custkey"), "c_name",
        (F.col("c_acctbal") + 50).alias("c_acctbal"),
        F.lit("INSERTED").alias("c_mktsegment"),
        F.lit("update").alias("op"),
    )
    return cust, [b1, b2, b3]


def test_cdc_merge_replay_equals_sequential_batch_merge(spark):
    """The streaming foreachBatch loop must land exactly where applying
    the same merges in batch, in order, lands."""
    from busdata_pipeline_spark.operators.warehouse import merge_into
    from busdata_pipeline_spark.streaming.replay import cdc_merge_replay

    cust, batches = _cdc_batches(spark)
    got = sorted(map(tuple, cdc_merge_replay(
        spark, cust, batches, key="c_custkey",
        schema_ddl=("c_custkey bigint, c_name string, c_acctbal double, "
                    "c_mktsegment string, op string"),
    ).collect()))
    want = cust
    for b in batches:
        want = merge_into(want, b, key="c_custkey")
    assert got == sorted(map(tuple, want.collect()))
    assert len(got) > 0


def test_cdc_full_replay_is_idempotent(spark):
    """Redelivering the whole ordered CDC sequence against the final
    state reproduces the final state (absolute-valued change rows, so
    re-merging re-asserts, never compounds) — the exactly-once-effect
    contract under lost-checkpoint replay."""
    from busdata_pipeline_spark.operators.warehouse import merge_into

    cust, batches = _cdc_batches(spark)
    once = cust
    for b in batches:
        once = merge_into(once, b, key="c_custkey")
    once = once.localCheckpoint(eager=True)
    twice = once
    for b in batches:
        twice = merge_into(twice, b, key="c_custkey")
    assert sorted(map(tuple, once.collect())) == \
        sorted(map(tuple, twice.collect()))


def test_trending_stream_equals_batch(spark, tmp_path):
    """Trending top-k: the count half runs as a REAL stream (complete
    mode, memory sink); the rank half applies to the sink state and
    must equal the batch twin end to end."""
    from busdata_pipeline_spark.sources import table
    from busdata_pipeline_spark.streaming.windows import (
        rank_trending,
        type_counts_windowed,
        with_watermark,
    )
    from tests.conftest import SF0001

    ev = table(spark, SF0001, "events")
    src = tmp_path / "trend_src"
    ev.coalesce(2).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema(ev.schema).parquet(str(src))
    counts = type_counts_windowed(with_watermark(stream, "2 hours"), "1 hour")
    q = (
        counts.writeStream.format("memory")
        .queryName("trend_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    streamed = rank_trending(spark.sql("SELECT * FROM trend_stream"), k=3)
    batch = rank_trending(type_counts_windowed(ev, "1 hour"), k=3)
    got = sorted(map(tuple, streamed.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(want) > 0


def test_stream_ewma_equals_batch_fold(spark):
    """applyInPandasWithState EWMA over a 2-batch time split must be
    bit-identical to the batch recurrence over the whole series."""
    from busdata_pipeline_spark.operators.temporal import ewma_smooth
    from busdata_pipeline_spark.streaming.replay import ewma_stream_replay
    from tests.conftest import SF0001

    from busdata_pipeline_spark.sources import table as _table

    ev = _table(spark, SF0001, "events").withColumn("d", F.to_date("ts"))
    cut = F.lit("2024-01-15").cast("date")
    got = {
        r["event_id"]: r["ewma"]
        for r in ewma_stream_replay(
            spark,
            [ev.where(F.col("d") <= cut), ev.where(F.col("d") > cut)],
        ).collect()
    }
    want = {
        r["event_id"]: r["ewma"] for r in ewma_smooth(ev).collect()
    }
    assert got == want and len(got) > 0


def test_replay_drain_timeout_stops_and_cleans_up(spark):
    """A replay drain that cannot finish within its bound raises
    TimeoutError instead of reading a half-filled sink, and leaves
    nothing behind: its query is stopped, its temp view dropped, its
    scratch dir removed and the session's shuffle-partition count
    restored.  Six staged files at one file per micro-batch cannot
    drain in 10 ms."""
    from busdata_pipeline_spark.streaming.replay import (
        drain,
        replay_scratch,
        staged_stream,
    )

    def views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    active_before = {q.id for q in spark.streams.active}
    views_before = views()
    batches = [
        spark.range(10 * i, 10 * i + 10).select(
            F.col("id").alias("event_id"),
            F.col("id").cast("double").alias("value"),
        )
        for i in range(6)
    ]
    try:
        with pytest.raises(TimeoutError, match="did not finish within"):
            with replay_scratch(spark, "timeout_replay_") as scratch:
                src = staged_stream(spark, batches, f"{scratch}/stream",
                                    "event_id bigint, value double")
                drain(src, checkpoint=f"{scratch}/ckpt", timeout=0.01)
        assert {q.id for q in spark.streams.active} <= active_before
        assert views() == views_before
        assert not os.path.exists(scratch)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def _drain_tws(q, rows, min_rows, min_input, timeout=90):
    """Poll a ProcessingTime-timeMode TWS query until it has consumed
    ``min_input`` rows and emitted ``min_rows``, then stop it.  An
    availableNow trigger does NOT self-terminate under ProcessingTime
    time mode (the engine keeps scheduling batches for pending
    timers/TTL), so awaitTermination alone burns its whole timeout."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        seen = sum(p.numInputRows for p in q.recentProgress)
        if seen >= min_input and len(rows) >= min_rows:
            break
        time.sleep(0.3)
    q.stop()
    q.awaitTermination(60)


def _run_ttl_counter(spark, src, ckpt, ttl_ms, min_input):
    """One pass of the TTL'd counter over whatever is in ``src``,
    resuming state from ``ckpt``; returns the emitted rows.
    foreachBatch sink (memory sink refuses checkpoint recovery)."""
    from busdata_pipeline_spark.streaming.stateful import count_pings_ttl_tws

    rows: list = []
    q = (
        count_pings_ttl_tws(stream_breadcrumbs(spark, src), ttl_ms=ttl_ms)
        .writeStream.foreachBatch(
            lambda batch, _id: rows.extend(batch.collect())
        )
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain_tws(q, rows, min_rows=1, min_input=min_input)
    return rows


def test_tws_value_state_ttl_expires(spark, tmp_path):
    """End-to-end proof of TTL'd ValueState through
    transformWithStateInPandas: a trip idle past the TTL restarts from
    zero on the next batch; a control with a long TTL resumes.  This is
    the query-level pin of the protoshim auto-vivify fix (the
    ``state_call_command.ttl.durationMs`` wire path) — under the broken
    shim the TTL was silently dropped and the short-TTL leg would
    resume instead of restarting."""
    from busdata_pipeline_spark.streaming.stateful import (
        ensure_protobuf_runtime,
    )

    assert ensure_protobuf_runtime(spark) in ("protobuf", "shim")

    def rec(trip, act_time):
        return json.dumps({
            "EVENT_NO_TRIP": trip, "EVENT_NO_STOP": 1,
            "OPD_DATE": "25DEC2022:00:00:00", "VEHICLE_ID": 1,
            "METERS": 1.0, "ACT_TIME": act_time,
            "GPS_LATITUDE": 45.5, "GPS_LONGITUDE": -122.6,
        })

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    # 4 query runs x one RocksDB store per shuffle partition: keep the
    # store count (and the test's wall time) down — 1 key in play.
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        results = {}
        for leg, ttl_ms in (("short", 1500), ("long", 600_000)):
            src = str(tmp_path / f"ttl_src_{leg}")
            ckpt = str(tmp_path / f"ttl_ckpt_{leg}")
            os.makedirs(src)
            with open(os.path.join(src, "batch0.jsonl"), "w") as fh:
                fh.write(rec(1, 100) + "\n" + rec(1, 160) + "\n")
            first = _run_ttl_counter(spark, src, ckpt, ttl_ms, min_input=2)
            assert [(r["n_pings"], r["resumed"]) for r in first] == [
                (2, False)
            ]
            time.sleep(2.5)  # beyond the short TTL, well inside the long
            with open(os.path.join(src, "batch1.jsonl"), "w") as fh:
                fh.write(rec(1, 220) + "\n")
            second = _run_ttl_counter(spark, src, ckpt, ttl_ms, min_input=1)
            results[leg] = [
                (r["n_pings"], r["resumed"]) for r in second
            ]
        # idle past TTL: state expired, count restarts
        assert results["short"] == [(1, False)]
        # same flow, long TTL: state survives the gap and resumes
        assert results["long"] == [(3, True)]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def test_tws_timer_session_close(spark, tmp_path):
    """Timer-driven sessionization (registerTimer/handleExpiredTimer):
    sessions emit exactly once, on close.  A trip idle past the gap with
    NO new traffic closes via its timer; a trip whose next ping arrives
    after the gap closes its old session exactly once (timer or
    gap-on-input, whichever the engine runs first) and opens a new one
    that stays unemitted.

    The gap must exceed run 1's lifetime after its data batch: under
    ProcessingTime time mode the engine keeps scheduling batches past
    the data, and a gap smaller than that window closes every session
    inside run 1 (observed with 1.5 s) — correct semantics, useless
    test.  _drain_tws stops the query within a poll tick of the data
    batch committing, so 20 s clears it with a wide margin."""
    from busdata_pipeline_spark.streaming.stateful import (
        ensure_protobuf_runtime,
        sessionize_with_timers,
    )

    assert ensure_protobuf_runtime(spark) in ("protobuf", "shim")

    def rec(trip, act_time):
        return json.dumps({
            "EVENT_NO_TRIP": trip, "EVENT_NO_STOP": 1,
            "OPD_DATE": "25DEC2022:00:00:00", "VEHICLE_ID": 1,
            "METERS": 1.0, "ACT_TIME": act_time,
            "GPS_LATITUDE": 45.5, "GPS_LONGITUDE": -122.6,
        })

    src = str(tmp_path / "sess_src")
    ckpt = str(tmp_path / "sess_ckpt")
    os.makedirs(src)

    def run(min_rows, min_input):
        rows: list = []
        q = (
            sessionize_with_timers(
                stream_breadcrumbs(spark, src), gap_ms=20_000
            )
            .writeStream.foreachBatch(
                lambda batch, _id: rows.extend(batch.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain_tws(q, rows, min_rows=min_rows, min_input=min_input)
        return rows

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        with open(os.path.join(src, "batch0.jsonl"), "w") as fh:
            fh.write("\n".join(
                [rec(1, 100), rec(1, 160), rec(2, 100)]
            ) + "\n")
        # run 1 stops right after its data batch commits (well inside
        # the 20 s gap), so both sessions are still open.
        first = run(min_rows=0, min_input=3)
        assert first == []  # both sessions open: nothing emitted
        time.sleep(25)  # idle past the 20 s gap
        with open(os.path.join(src, "batch1.jsonl"), "w") as fh:
            fh.write(rec(2, 220) + "\n")
        second = run(min_rows=2, min_input=1)
        closed = {(r["trip_id"], r["n_pings"]) for r in second}
        # trip 1: pure-idle close (2 pings) — must be the timer path.
        # trip 2: old 1-ping session closes once; new session unemitted.
        assert closed == {(1, 2), (2, 1)}, second
        by_trip = {r["trip_id"]: r["closed_by"] for r in second}
        assert by_trip[1] == "timer"
        assert by_trip[2] in ("timer", "gap_on_input")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def test_tws_event_time_timer_timeouts(spark, tmp_path):
    """EVENT-TIME timers (watermark-driven, zero wall-clock coupling):
    a trip whose first ping gets no follow-up within 10 EVENT-time
    minutes is flagged when the watermark passes its deadline; a trip
    with a prompt follow-up completes; a trip still inside its window
    stays unjudged.  Deterministic under replay — no sleeps anywhere."""
    from busdata_pipeline_spark.streaming.stateful import (
        detect_trip_timeouts,
        ensure_protobuf_runtime,
    )

    assert ensure_protobuf_runtime(spark) in ("protobuf", "shim")

    def rec(trip, act_time):
        return json.dumps({
            "EVENT_NO_TRIP": trip, "EVENT_NO_STOP": 1,
            "OPD_DATE": "25DEC2022:00:00:00", "VEHICLE_ID": 1,
            "METERS": 1.0, "ACT_TIME": act_time,
            "GPS_LATITUDE": 45.5, "GPS_LONGITUDE": -122.6,
        })

    src = str(tmp_path / "to_src")
    os.makedirs(src)
    # batch 0: trips 1 and 2 start at t=1000; trip 4's follow-up lands
    # in the SAME batch (must complete, not time out — the min-of-batch
    # regression); trip 5 has two pings 700 s apart in one batch: the
    # first episode times out by data, the second (t=1700) by timer.
    f0 = os.path.join(src, "a0.jsonl")
    with open(f0, "w") as fh:
        fh.write(
            rec(1, 1000) + "\n" + rec(2, 1000) + "\n"
            + rec(4, 1000) + "\n" + rec(4, 1100) + "\n"
            + rec(5, 1000) + "\n" + rec(5, 1700) + "\n"
        )
    # batch 1: trip 1 follows up at +120 s (completes); trip 3's ping at
    # t=4600 advances the watermark to 4590 — past trip 2's 1600
    # deadline (timed_out fires) but inside trip 3's own window.
    f1 = os.path.join(src, "b1.jsonl")
    with open(f1, "w") as fh:
        fh.write(rec(1, 1120) + "\n" + rec(3, 4600) + "\n")
    now = time.time()
    os.utime(f0, (now - 600, now - 600))
    os.utime(f1, (now, now))

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        rows: list = []
        q = (
            detect_trip_timeouts(
                stream_breadcrumbs(spark, src, max_files_per_trigger=1),
                gap_ms=600_000,
            )
            .writeStream.foreachBatch(
                lambda batch, _id: rows.extend(batch.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "to_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _drain_tws(q, rows, min_rows=5, min_input=8)
        verdicts = {}
        for r in rows:
            verdicts.setdefault(r["trip_id"], []).append(
                (r["first_time"], r["n_pings"], r["outcome"])
            )
        assert verdicts[1] == [(1000, 2, "completed")]
        assert verdicts[2] == [(1000, 1, "timed_out")]
        # same-batch follow-up completes (regression: a min-of-batch
        # shortcut used to flag this trip timed_out)
        assert verdicts[4] == [(1000, 2, "completed")]
        # two pings 700 s apart: first episode timed out by the data
        # path, the reopened one by the watermark timer
        assert sorted(verdicts[5]) == [
            (1000, 1, "timed_out"), (1700, 1, "timed_out")
        ]
        assert 3 not in verdicts  # still inside its window
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def test_tws_event_time_sessionizer(spark, tmp_path):
    """EVENT-TIME-timer gap sessionization (EventTimeSessionProcessor):
    sessions extend while pings are < gap apart, split inline when a
    follow-up proves the gap (>= boundary, including EXACTLY == gap),
    and a key's final session flushes iff the final watermark passes
    last+gap.  Batches are event-time-ordered (the staging contract of
    _run_tws_over_events), under which close-by-timer and
    close-by-follow-up provably emit the same session set — this test
    includes a mid-stream-timer race (trip 1) to pin that."""
    from busdata_pipeline_spark.streaming.stateful import (
        ensure_protobuf_runtime,
        sessionize_event_time,
    )

    assert ensure_protobuf_runtime(spark) in ("protobuf", "shim")

    def rec(trip, act_time):
        return json.dumps({
            "EVENT_NO_TRIP": trip, "EVENT_NO_STOP": 1,
            "OPD_DATE": "25DEC2022:00:00:00", "VEHICLE_ID": 1,
            "METERS": 1.0, "ACT_TIME": act_time,
            "GPS_LATITUDE": 45.5, "GPS_LONGITUDE": -122.6,
        })

    src = str(tmp_path / "sess_src")
    os.makedirs(src)
    # gap = 600 s.  batch 0 (all ts <= 2000): trip 1 opens a 2-ping
    # session; trip 2 splits IN-BATCH at exactly +700; trip 6 splits
    # at EXACTLY +600 (the >= boundary); trip 5 is a singleton.
    f0 = os.path.join(src, "a0.jsonl")
    with open(f0, "w") as fh:
        fh.write(
            rec(1, 1000) + "\n" + rec(1, 1100) + "\n"
            + rec(2, 1000) + "\n" + rec(2, 1700) + "\n"
            + rec(6, 1000) + "\n" + rec(6, 1600) + "\n"
            + rec(5, 2000) + "\n"
        )
    # batch 1 (all ts >= 2000, the event-time-ordered contract):
    # trip 1's ping at 2100 races the timer armed at 1100+600=1700
    # (watermark after batch 0 is 1990) — both paths must yield the
    # same closed session; trip 3's ping at 9999 drives the final
    # watermark to 9989, flushing every open session except its own.
    f1 = os.path.join(src, "b1.jsonl")
    with open(f1, "w") as fh:
        fh.write(rec(1, 2100) + "\n" + rec(3, 9999) + "\n")
    now = time.time()
    os.utime(f0, (now - 600, now - 600))
    os.utime(f1, (now, now))

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        rows: list = []
        q = (
            sessionize_event_time(
                stream_breadcrumbs(spark, src, max_files_per_trigger=1),
                gap_ms=600_000,
            )
            .writeStream.foreachBatch(
                lambda batch, _id: rows.extend(batch.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _drain_tws(q, rows, min_rows=7, min_input=9)
        sessions = {}
        for r in rows:
            sessions.setdefault(r["trip_id"], []).append(
                (r["first_time"], r["last_time"], r["n_pings"])
            )
        for v in sessions.values():
            v.sort()
        # mid-stream timer race: one session either way, then the
        # reopened singleton flushes at the final watermark
        assert sessions[1] == [(1000, 1100, 2), (2100, 2100, 1)]
        # in-batch split at +700
        assert sessions[2] == [(1000, 1000, 1), (1700, 1700, 1)]
        # split at EXACTLY the gap (>= boundary, matches timer path)
        assert sessions[6] == [(1000, 1000, 1), (1600, 1600, 1)]
        # singleton, flushed by final watermark
        assert sessions[5] == [(2000, 2000, 1)]
        # still inside its window: withheld
        assert 3 not in sessions
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def test_tws_sessionizer_late_ping_cannot_shorten_session(spark, tmp_path):
    """A same-key ping arriving in a LATER micro-batch with an event
    time BELOW the session's current end (possible within the watermark
    delay) must not regress last_ms/last_act backwards — a shorter end
    would re-arm the close timer earlier and shorten the emitted
    session.  Batch 0: trip 7 pings at 1000 and 1008 (watermark -> 998).
    Batch 1: a late trip-7 ping at 1005 (> watermark, < session end) and
    a trip-8 ping at 9999 driving the final watermark to flush.  The
    session must still close as (first=1000, last=1008, n=3)."""
    from busdata_pipeline_spark.streaming.stateful import (
        ensure_protobuf_runtime,
        sessionize_event_time,
    )

    assert ensure_protobuf_runtime(spark) in ("protobuf", "shim")

    def rec(trip, act_time):
        return json.dumps({
            "EVENT_NO_TRIP": trip, "EVENT_NO_STOP": 1,
            "OPD_DATE": "25DEC2022:00:00:00", "VEHICLE_ID": 1,
            "METERS": 1.0, "ACT_TIME": act_time,
            "GPS_LATITUDE": 45.5, "GPS_LONGITUDE": -122.6,
        })

    src = str(tmp_path / "late_src")
    os.makedirs(src)
    f0 = os.path.join(src, "a0.jsonl")
    with open(f0, "w") as fh:
        fh.write(rec(7, 1000) + "\n" + rec(7, 1008) + "\n")
    f1 = os.path.join(src, "b1.jsonl")
    with open(f1, "w") as fh:
        fh.write(rec(7, 1005) + "\n" + rec(8, 9999) + "\n")
    now = time.time()
    os.utime(f0, (now - 600, now - 600))
    os.utime(f1, (now, now))

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        rows: list = []
        q = (
            sessionize_event_time(
                stream_breadcrumbs(spark, src, max_files_per_trigger=1),
                gap_ms=600_000,
            )
            .writeStream.foreachBatch(
                lambda batch, _id: rows.extend(batch.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "late_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _drain_tws(q, rows, min_rows=1, min_input=4)
        sessions = {}
        for r in rows:
            sessions.setdefault(r["trip_id"], []).append(
                (r["first_time"], r["last_time"], r["n_pings"])
            )
        # the late 1005 ping is counted but the boundary is unchanged
        assert sessions[7] == [(1000, 1008, 3)]
        assert 8 not in sessions  # still inside its window: withheld
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
