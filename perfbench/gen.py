"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of ``seed``:

* ``write_tables`` — the star-schema + ``events`` + ``documents`` +
  ``embeddings`` parquet tables the registered queries read, shaped like
  the synthetic test tables of TESTDATA.md (independent uniform columns, the
  same value ranges, ~5% near-duplicate documents), at a given scale
  factor.
* ``breadcrumb_days`` — several days of TriMet-shaped breadcrumb JSONL
  with planted edge cases, plus ``expected_values``: the fact/dim
  figures the pipeline must produce, computed in pure Python from the
  speed rules of ``operators/enrich.py``.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import math
import os
import random

VOCAB = (
    "query row stream the batch sort value hash filter big data part column "
    "order scan a slow agg key window table merge vector join spark line "
    "small fast group customer"
).split()
ADJ = ["large", "hot", "red", "cold", "old", "new", "blue", "small"]
NOUN = ["ring", "plate", "gear", "anvil", "gizmo", "widget", "rod", "bolt"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


# ---------------------------------------------------------------------------
# Star-schema tables.

def _day_range(rng, n, start: str, end: str):
    import numpy as np

    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int)) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write one parquet file per table under ``out_dir``; returns row
    counts.  Row counts scale with ``sf`` like the TESTDATA.md tables
    (lineitem = 6M x sf)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = max(int(6_000_000 * sf), 400)
    n_evt = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 10)
    n_docs = max(int(50_000 * sf), 50)
    n_vec = max(int(20_000 * sf), 500)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(values, n):
        return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000.0, 500_000.0, n_ord),
            "o_orderdate": _day_range(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": money(900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], n_line),
            "l_linestatus": pick(["F", "O"], n_line),
            "l_shipdate": _day_range(rng, n_line, "1995-01-02", "2001-11-04"),
        }),
    }

    start = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86_400 * 1_000_000
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": np.sort(start + rng.integers(0, month_us, n_evt).astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })

    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:      # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:   # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), n)))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": pick(["en", "en", "en", "zh", "de", "fr", "es"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    vecs = rng.standard_normal((n_vec, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })

    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------------------
# Breadcrumb JSONL.

MONTHS = ["JAN", "FEB", "MAR", "APR", "MAY", "JUN", "JUL", "AUG", "SEP",
          "OCT", "NOV", "DEC"]


def opd_date(day: dt.date) -> str:
    return f"{day.day:02d}{MONTHS[day.month - 1]}{day.year}:00:00:00"


def make_trip(rng: random.Random, trip_id: int, day: dt.date, n_rows: int,
              vehicle: int) -> list[dict]:
    """One trip's rows in time order: increasing ACT_TIME (within the
    service day), non-decreasing METERS.  About one trip in eight repeats
    a ping (same ACT_TIME and METERS: the Δt=0 guard)."""
    t = rng.randrange(5 * 3600, 20 * 3600)
    meters = round(rng.uniform(0, 5000), 1)
    lat, lon = rng.uniform(45.40, 45.60), rng.uniform(-122.75, -122.50)
    rows = []
    for _ in range(n_rows):
        rows.append({
            "EVENT_NO_TRIP": trip_id, "EVENT_NO_STOP": trip_id * 7 + len(rows),
            "OPD_DATE": opd_date(day), "VEHICLE_ID": vehicle,
            "METERS": meters, "ACT_TIME": t,
            "GPS_LATITUDE": round(lat, 6), "GPS_LONGITUDE": round(lon, 6),
        })
        t += rng.randrange(1, 30)
        meters = round(meters + rng.uniform(0, 300), 1)
        lat += rng.uniform(-0.0005, 0.0005)
        lon += rng.uniform(-0.0005, 0.0005)
    if n_rows >= 3 and rng.random() < 0.125:
        k = rng.randrange(1, n_rows)
        rows.insert(k, dict(rows[k - 1], EVENT_NO_STOP=-1))
    return rows


def breadcrumb_days(seed: int, n_days: int, trips_per_day: int,
                    files_per_day: int) -> list[dict]:
    """Days of breadcrumb input.  Each day is a dict with ``day`` (date),
    ``files`` (list of lists of JSONL lines) and ``records`` (the
    well-formed records, in file order).  Lines of a day are shuffled
    across its files, so multi-row trips span files.  Planted per day:
    one malformed line, one blank line, one record with an unparseable
    OPD_DATE, one 1-row trip and one 2-row trip."""
    rng = random.Random(seed)
    first = dt.date(2022, 12, 19) + dt.timedelta(days=seed % 7)
    vehicles = [rng.randrange(2000, 4500) for _ in range(40)]
    days = []
    for d in range(n_days):
        day = first + dt.timedelta(days=d)
        base = (d + 1) * 1_000_000
        records: list[dict] = []
        for k in range(trips_per_day):
            n = 1 if k == 0 else 2 if k == 1 else rng.randrange(5, 50)
            records += make_trip(rng, base + k, day, n, rng.choice(vehicles))
        bad = dict(rng.choice(records[2:]), OPD_DATE="31FOO2022:00:00:00")
        records.append(bad)
        lines = [json.dumps(r) for r in records]
        rng.shuffle(lines)
        lines.insert(rng.randrange(len(lines)), '{"EVENT_NO_TRIP": 17, "OPD_DA')
        lines.insert(rng.randrange(len(lines)), "")
        step = math.ceil(len(lines) / files_per_day)
        files = [lines[i:i + step] for i in range(0, len(lines), step)]
        days.append({"day": day, "files": files, "records": records})
    return days


def write_day(day: dict, out_dir: str) -> list[str]:
    """Write one day's files under ``out_dir``; returns their paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, lines in enumerate(day["files"]):
        p = os.path.join(out_dir, f"{day['day']:%Y%m%d}-{i:03d}.json")
        with open(p, "w") as f:
            f.write("\n".join(lines) + "\n")
        paths.append(p)
    return paths


@functools.lru_cache(maxsize=None)
def parse_date(opd: str) -> dt.date | None:
    try:
        return dt.datetime.strptime(opd[:9].title(), "%d%b%Y").date()
    except ValueError:
        return None


def trip_speeds(rows: list[dict]) -> list[float | None]:
    """Speeds of one trip's rows, ordered by ACT_TIME (operators/enrich):
    Δmeters/Δt when Δt > 0, else NULL; the first row of a multi-row trip
    takes the second row's speed (NULL included); a 1-row trip is NULL."""
    rows = sorted(rows, key=lambda r: r["ACT_TIME"])
    raw: list[float | None] = [None]
    for prev, cur in zip(rows, rows[1:]):
        dt_s = cur["ACT_TIME"] - prev["ACT_TIME"]
        raw.append((cur["METERS"] - prev["METERS"]) / dt_s if dt_s > 0 else None)
    if len(raw) > 1:
        raw[0] = raw[1]
    return raw


def expected_values(records: list[dict]) -> dict:
    """What the warehouse must hold after loading ``records`` (all days):
    fact rows per service day, trip-dim rows, NULL speeds and the speed
    checksum ``sum(floor(speed * 1000))``.  Records with an unparseable
    OPD_DATE are dropped before trips are formed, as in the pipeline."""
    per_day: dict[str, int] = {}
    trips: dict[int, list[dict]] = {}
    for r in records:
        day = parse_date(r["OPD_DATE"])
        if day is None:
            continue
        key = day.isoformat()
        per_day[key] = per_day.get(key, 0) + 1
        trips.setdefault(r["EVENT_NO_TRIP"], []).append(r)
    null_speed = checksum = 0
    for rows in trips.values():
        for s in trip_speeds(rows):
            if s is None:
                null_speed += 1
            else:
                checksum += math.floor(s * 1000)
    return {"per_day": per_day, "trips": len(trips),
            "null_speed": null_speed, "speed_checksum": checksum}
