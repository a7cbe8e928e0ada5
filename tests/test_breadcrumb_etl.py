"""Golden tests for the breadcrumb ETL (transform.py semantics).

The expected values come from an independent, from-the-spec Python model
written here (not from the reference's code): FIXTURES.md §1-3 and
SURVEY.md §2.5/§7.5 define the semantics under test.
"""

from __future__ import annotations

import json
import math
from datetime import date, datetime, timedelta

import pytest

from busdata_pipeline_spark.operators.enrich import enrich_breadcrumbs, trip_dimension
from busdata_pipeline_spark.operators.warehouse import (
    audit_day_count,
    load_day,
    read_dim,
    read_fact,
)
from busdata_pipeline_spark.sources.jsonl import (
    corrupt_line_count,
    read_breadcrumb_jsonl,
)

MONTHS = ["JAN", "FEB", "MAR", "APR", "MAY", "JUN",
          "JUL", "AUG", "SEP", "OCT", "NOV", "DEC"]


def opd(d: date) -> str:
    return f"{d.day:02d}{MONTHS[d.month - 1]}{d.year}:00:00:00"


def rec(trip, veh, d, act, meters, lat=45.5, lon=-122.6, stop=1):
    return {
        "EVENT_NO_TRIP": trip, "EVENT_NO_STOP": stop, "OPD_DATE": opd(d),
        "VEHICLE_ID": veh, "METERS": float(meters), "ACT_TIME": act,
        "GPS_LATITUDE": lat, "GPS_LONGITUDE": lon,
    }


def fixture_lines() -> list[str]:
    """Deterministic day files covering every edge in FIXTURES.md §1."""
    rows = []
    base = date(2023, 1, 1)  # Sunday; the week covers all 7 weekdays
    trip = 100
    for day_off in range(7):
        d = base + timedelta(days=day_off)
        for t in range(3):
            trip += 1
            n = 5 + (trip % 4) * 3
            for i in range(n):
                rows.append(rec(trip, 2900 + t, d, 30000 + i * 90 + (i % 3),
                                1000 * t + i * 250 + (i % 5) * 7,
                                45.40 + 0.01 * i, -122.75 + 0.01 * i))
    d = base
    trip_1row = 9001
    rows.append(rec(trip_1row, 2999, d, 40000, 5000))          # 1-row trip
    trip_2row = 9002                                            # 2-row trip
    rows.append(rec(trip_2row, 2998, d, 41000, 6000))
    rows.append(rec(trip_2row, 2998, d, 41060, 6300))
    trip_dup = 9003                    # duplicate ACT_TIME pair (Δt == 0)
    rows.append(rec(trip_dup, 2997, d, 42000, 7000))
    rows.append(rec(trip_dup, 2997, d, 42050, 7500))
    rows.append(rec(trip_dup, 2997, d, 42050, 7500))            # identical twin
    rows.append(rec(trip_dup, 2997, d, 42110, 8100))
    trip_roll = 9004                   # ACT_TIME >= 86400: day rollover
    rows.append(rec(trip_roll, 2996, d, 86300, 9000))
    rows.append(rec(trip_roll, 2996, d, 86500, 9600))

    lines = [json.dumps(r) for r in rows]
    lines.insert(3, "{this is not json")                        # corrupt line
    bad = rec(9005, 2995, d, 1000, 10)
    bad["OPD_DATE"] = "notadate:00:00:00"                       # unparseable
    lines.append(json.dumps(bad))
    return lines


# --- independent model of transform.py semantics (from the spec) -----------

def model(lines):
    recs = []
    for ln in lines:
        try:
            recs.append(json.loads(ln))
        except ValueError:
            continue
    parsed = []
    for r in recs:
        try:
            d = datetime.strptime(r["OPD_DATE"].split(":")[0], "%d%b%Y").date()
        except ValueError:
            continue
        ts = datetime(d.year, d.month, d.day) + timedelta(seconds=r["ACT_TIME"])
        parsed.append((r, ts, d))
    by_trip: dict[int, list] = {}
    for r, ts, d in sorted(parsed, key=lambda x: (x[0]["EVENT_NO_TRIP"], x[0]["ACT_TIME"])):
        by_trip.setdefault(r["EVENT_NO_TRIP"], []).append((r, ts, d))
    facts, dims = [], []
    for trip_id, rows in by_trip.items():
        speeds = []
        for i, (r, ts, d) in enumerate(rows):
            if i == 0:
                speeds.append(None)
            else:
                dt = r["ACT_TIME"] - rows[i - 1][0]["ACT_TIME"]
                dm = r["METERS"] - rows[i - 1][0]["METERS"]
                speeds.append(dm / dt if dt > 0 else None)
        if len(rows) > 1:
            speeds[0] = speeds[1]
        for (r, ts, d), s in zip(rows, speeds):
            facts.append((ts, r["GPS_LATITUDE"], r["GPS_LONGITUDE"], s, trip_id))
        r0, _, d0 = rows[0]
        wd = d0.weekday()
        key = "Saturday" if wd == 5 else ("Sunday" if wd == 6 else "Weekday")
        dims.append((trip_id, None, r0["VEHICLE_ID"], key, "Out"))
    return facts, dims


def canon(rows):
    return sorted(
        [tuple("%.9g" % v if isinstance(v, float) else v for v in r) for r in rows],
        key=repr,
    )


@pytest.fixture(scope="module")
def day_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("bc") / "breadcrumbs_2023-01-01.jsonl"
    p.write_text("\n".join(fixture_lines()) + "\n")
    return str(p)


def test_corrupt_lines_skipped(spark, day_file):
    assert corrupt_line_count(spark, day_file) == 1


def test_enrichment_matches_model(spark, day_file):
    raw = read_breadcrumb_jsonl(spark, day_file)
    got = [
        (r.tstamp, r.latitude, r.longitude, r.speed, r.trip_id)
        for r in enrich_breadcrumbs(raw).collect()
    ]
    exp_facts, _ = model(fixture_lines())
    assert canon(got) == canon(exp_facts)


def test_trip_dim_matches_model(spark, day_file):
    raw = read_breadcrumb_jsonl(spark, day_file)
    got = [tuple(r) for r in trip_dimension(raw).collect()]
    _, exp_dims = model(fixture_lines())
    assert canon(got) == canon(exp_dims)


def test_rollover_crosses_midnight(spark, day_file):
    raw = read_breadcrumb_jsonl(spark, day_file)
    fact = enrich_breadcrumbs(raw)
    ts = [r.tstamp for r in fact.where("trip_id = 9004").collect()]
    assert {t.date() for t in ts} == {date(2023, 1, 1), date(2023, 1, 2)}
    assert min(ts) == datetime(2023, 1, 1, 23, 58, 20)
    assert max(ts) == datetime(2023, 1, 2, 0, 1, 40)


def test_two_row_trip_backfill(spark, day_file):
    raw = read_breadcrumb_jsonl(spark, day_file)
    rows = enrich_breadcrumbs(raw).where("trip_id = 9002").collect()
    speeds = sorted((r.speed for r in rows), key=lambda x: (x is None, x))
    assert speeds[0] == speeds[1] == pytest.approx(300 / 60)


def test_one_row_trip_null_speed(spark, day_file):
    raw = read_breadcrumb_jsonl(spark, day_file)
    [row] = enrich_breadcrumbs(raw).where("trip_id = 9001").collect()
    assert row.speed is None


def test_dup_act_time_keeps_null(spark, day_file):
    raw = read_breadcrumb_jsonl(spark, day_file)
    rows = enrich_breadcrumbs(raw).where("trip_id = 9003").collect()
    nulls = [r for r in rows if r.speed is None]
    assert len(nulls) == 1  # exactly the Δt==0 twin; no resurrection via lead


def test_service_key_buckets(spark, day_file):
    raw = read_breadcrumb_jsonl(spark, day_file)
    dim = trip_dimension(raw)
    keys = {r.trip_id: r.service_key for r in dim.collect()}
    assert keys[101] == "Sunday"     # 2023-01-01
    assert keys[104] == "Weekday"    # 2023-01-02 Monday
    assert keys[119] == "Saturday"   # 2023-01-07


def test_idempotent_day_load(spark, day_file, tmp_path):
    wh = str(tmp_path / "warehouse")
    raw = read_breadcrumb_jsonl(spark, day_file)
    load_day(raw, wh)
    n_fact1 = read_fact(spark, wh).count()
    n_dim1 = read_dim(spark, wh).count()
    load_day(raw, wh)  # S11/S12: re-load must not duplicate anything
    assert read_fact(spark, wh).count() == n_fact1
    assert read_dim(spark, wh).count() == n_dim1
    assert audit_day_count(spark, wh, "2023-01-01") > 0
    assert math.isclose(
        read_fact(spark, wh).where("trip_id = 9002").agg({"speed": "max"}).first()[0],
        5.0,
    )


def test_load_day_dim_failure_raises_then_reload_is_idempotent(
        spark, day_file, tmp_path):
    """The dim upsert runs on a worker thread while the fact write runs
    on the caller's: a failing upsert must surface from ``load_day``
    with no thread left behind, and after the cause is removed a re-run
    lands exactly one copy of every row."""
    import os
    import threading

    wh = str(tmp_path / "wh_fail")
    os.makedirs(wh)
    blocker = os.path.join(wh, "trip")
    with open(blocker, "w") as fh:
        fh.write("not a parquet directory")
    raw = read_breadcrumb_jsonl(spark, day_file)
    threads = set(threading.enumerate())
    with pytest.raises(Exception, match="wh_fail/trip"):
        load_day(raw, wh)
    # the executor's worker is a non-daemon thread; none may outlive it
    assert not [t for t in threading.enumerate()
                if t not in threads and not t.daemon]

    os.remove(blocker)
    exp_facts, exp_dims = model(fixture_lines())
    for _ in range(2):
        load_day(raw, wh)
        assert read_fact(spark, wh).count() == len(exp_facts)
        assert read_dim(spark, wh).count() == len(exp_dims)


def _jobs_in_group(spark, group, action):
    """Run ``action`` under job group ``group``; return the ids of the
    jobs it ran in that group and of those it ran outside any group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # Job-start events reach the status store asynchronously; drain the
    # listener bus before reading it.
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty()
    return (set(tracker.getJobIdsForGroup(group)),
            set(tracker.getJobIdsForGroup(None)) - ungrouped)


def test_breadcrumb_job_counts(spark, day_file, tmp_path):
    """Pin the day-load's job counts (host-independent, unlike its
    time).  The counts are read after a warm-up run, so first-load and
    first-use jobs do not enter them."""
    import os
    import shutil

    from busdata_pipeline_spark.streaming.ingest import (
        stream_breadcrumbs,
        stream_into_warehouse,
    )

    drop = tmp_path / "drop"
    drop.mkdir()
    shutil.copy(day_file, drop)
    wh = str(tmp_path / "wh_jobs")
    raw = read_breadcrumb_jsonl(spark, day_file)
    load_day(raw, wh)  # warm-up; the next load also anti-joins the dim

    grouped, ungrouped = _jobs_in_group(spark, "t-load-day",
                                        lambda: load_day(raw, wh))
    # The dim upsert runs on a worker thread: its jobs still carry the
    # caller's group, and none ran outside it.
    assert 0 < len(grouped) <= 5
    assert ungrouped == set()

    grouped, _ = _jobs_in_group(
        spark, "t-audit", lambda: audit_day_count(spark, wh, "2023-01-01"))
    assert len(grouped) == 2  # count: partial and final aggregate

    # An incremental micro-batch only stages raw rows: isEmpty + write.
    # Micro-batch jobs run under the query's own group, its run id.
    sc = spark.sparkContext
    for run in ("warm", "timed"):
        q = stream_into_warehouse(
            stream_breadcrumbs(spark, str(drop), max_files_per_trigger=1),
            os.path.join(wh, run), str(tmp_path / f"ckpt_{run}"),
            incremental=True,
        )
        assert q.awaitTermination(120)
    assert sum(1 for p in q.recentProgress if p["numInputRows"]) == 1
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert 0 < len(sc.statusTracker().getJobIdsForGroup(str(q.runId))) <= 2


def test_schema_evolution_merge_read(spark, tmp_path):
    """A column added to the feed mid-history: the evolved day carries
    it, mergeSchema read unions day schemas, and pre-evolution rows
    surface it as NULL — no rewrite of history required."""
    from pyspark.sql import functions as F
    from busdata_pipeline_spark.operators.warehouse import (
        write_fact_idempotent,
    )

    wh = str(tmp_path / "wh_evo")
    day1 = spark.createDataFrame(
        [(1, "2023-01-01 08:00:00", 3.5), (2, "2023-01-01 09:00:00", 4.0)],
        "trip_id BIGINT, tstamp_s STRING, speed DOUBLE",
    ).select("trip_id", F.col("tstamp_s").cast("timestamp").alias("tstamp"), "speed")
    write_fact_idempotent(day1, wh)

    day2 = spark.createDataFrame(
        [(3, "2023-01-02 08:00:00", 5.0, "GOOD")],
        "trip_id BIGINT, tstamp_s STRING, speed DOUBLE, quality_flag STRING",
    ).select(
        "trip_id", F.col("tstamp_s").cast("timestamp").alias("tstamp"),
        "speed", "quality_flag",
    )
    write_fact_idempotent(day2, wh)

    merged = read_fact(spark, wh, merge_schema=True)
    assert "quality_flag" in merged.columns
    assert merged.count() == 3
    assert merged.where(F.col("quality_flag").isNull()).count() == 2
    assert (
        merged.where("trip_id = 3").select("quality_flag").first()[0] == "GOOD"
    )

    # re-loading the evolved day stays idempotent (dynamic overwrite)
    write_fact_idempotent(day2, wh)
    assert read_fact(spark, wh, merge_schema=True).count() == 3
