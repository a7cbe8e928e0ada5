"""Unit tests of the benchmark's input generator and expected-value
calculator.  Pure Python, no Spark:

    python3 -m pytest perfbench/test_gen.py -q
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

DAY = "25DEC2022:00:00:00"


def row(trip, act_time, meters, opd=DAY):
    return {"EVENT_NO_TRIP": trip, "EVENT_NO_STOP": 0, "OPD_DATE": opd,
            "VEHICLE_ID": 3001, "METERS": meters, "ACT_TIME": act_time,
            "GPS_LATITUDE": 45.5, "GPS_LONGITUDE": -122.6}


def test_first_row_takes_second_rows_speed():
    rows = [row(1, 0, 0.0), row(1, 10, 100.0), row(1, 30, 400.0)]
    assert gen.trip_speeds(rows) == [10.0, 10.0, 15.0]


def test_rows_are_ordered_by_act_time():
    rows = [row(1, 30, 400.0), row(1, 0, 0.0), row(1, 10, 100.0)]
    assert gen.trip_speeds(rows) == [10.0, 10.0, 15.0]


def test_zero_dt_gives_null_speed():
    rows = [row(1, 100, 0.0), row(1, 110, 50.0), row(1, 110, 50.0), row(1, 120, 80.0)]
    assert gen.trip_speeds(rows) == [5.0, 5.0, None, 3.0]


def test_zero_dt_on_second_row_makes_first_row_null_too():
    rows = [row(1, 100, 0.0), row(1, 100, 0.0), row(1, 110, 50.0)]
    assert gen.trip_speeds(rows) == [None, None, 5.0]


def test_one_row_trip_is_null():
    assert gen.trip_speeds([row(7, 500, 12.0)]) == [None]


def test_expected_values_drop_unparseable_dates():
    records = [
        row(1, 0, 0.0), row(1, 10, 100.0),                # speeds 10, 10
        row(2, 50, 5.0),                                   # 1-row trip: NULL
        row(3, 0, 0.0, opd="31FOO2022:00:00:00"),          # dropped
        row(4, 0, 0.0, opd="26DEC2022:00:00:00"),
        row(4, 3, 1.0, opd="26DEC2022:00:00:00"),         # speeds 1/3, 1/3
    ]
    want = {"per_day": {"2022-12-25": 3, "2022-12-26": 2}, "trips": 3,
            "null_speed": 1, "speed_checksum": 10_000 + 10_000 + 333 + 333}
    assert gen.expected_values(records) == want


def test_opd_date_format():
    import datetime as dt

    assert gen.opd_date(dt.date(2022, 12, 25)) == DAY
    assert gen.parse_date(DAY) == dt.date(2022, 12, 25)
    assert gen.parse_date("31FOO2022:00:00:00") is None


def test_days_are_seeded_and_planted():
    a = gen.breadcrumb_days(3, n_days=2, trips_per_day=20, files_per_day=3)
    b = gen.breadcrumb_days(3, n_days=2, trips_per_day=20, files_per_day=3)
    c = gen.breadcrumb_days(4, n_days=2, trips_per_day=20, files_per_day=3)
    assert [d["files"] for d in a] == [d["files"] for d in b]
    assert [d["files"] for d in a] != [d["files"] for d in c]
    for day in a:
        lines = [ln for f in day["files"] for ln in f]
        assert len(day["files"]) == 3
        assert lines.count("") == 1
        parsed, malformed = [], 0
        for ln in filter(None, lines):
            try:
                parsed.append(json.loads(ln))
            except ValueError:
                malformed += 1
        assert malformed == 1
        assert sorted(map(json.dumps, parsed)) == sorted(map(json.dumps, day["records"]))
        assert sum(gen.parse_date(r["OPD_DATE"]) is None for r in parsed) == 1
        sizes = {}
        for r in parsed:
            sizes[r["EVENT_NO_TRIP"]] = sizes.get(r["EVENT_NO_TRIP"], 0) + 1
        assert 1 in sizes.values()
        # a multi-row trip has rows in more than one file
        files_of = {}
        for i, f in enumerate(day["files"]):
            for ln in f:
                if ln.startswith('{"EVENT_NO_TRIP": ') and ln.endswith("}"):
                    files_of.setdefault(json.loads(ln)["EVENT_NO_TRIP"], set()).add(i)
        assert any(len(v) > 1 for v in files_of.values())
