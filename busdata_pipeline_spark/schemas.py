"""Explicit schemas for every source (SURVEY.md §1.3: the reference's
schemas are fixed-but-implicit; here they are declared, and inferSchema is
never used on a hot path).

Citations: raw breadcrumb field sites /root/reference/transform.py:133,141,
149,178,212,222-223,237-238; Trip INSERT transform.py:190-194; BreadCrumb
INSERT transform.py:265-269; census header /root/reference/OR.csv:1.
"""

from __future__ import annotations

from pyspark.sql import types as T

#: Raw TriMet breadcrumb record as it appears in the daily JSONL files /
#: stream messages.  ``_corrupt_record`` reproduces the reference's
#: skip-bad-lines tolerance (transform.py:119-124) under PERMISSIVE mode.
RAW_BREADCRUMB = T.StructType([
    T.StructField("EVENT_NO_TRIP", T.LongType()),
    T.StructField("EVENT_NO_STOP", T.LongType()),
    T.StructField("OPD_DATE", T.StringType()),
    T.StructField("VEHICLE_ID", T.IntegerType()),
    T.StructField("METERS", T.DoubleType()),
    T.StructField("ACT_TIME", T.IntegerType()),
    T.StructField("GPS_LATITUDE", T.DoubleType()),
    T.StructField("GPS_LONGITUDE", T.DoubleType()),
    T.StructField("_corrupt_record", T.StringType()),
])

#: A decoded raw breadcrumb: RAW_BREADCRUMB without ``_corrupt_record``.
#: DROPMALFORMED file reads, the stream source, Kafka ``from_json``, the
#: collector's fetch stage and the warehouse stage all carry this shape.
RAW_BREADCRUMB_DECODED = T.StructType(
    [f for f in RAW_BREADCRUMB.fields if f.name != "_corrupt_record"]
)

#: Trip dimension (transform.py:190-194) — PK trip_id.
TRIP = T.StructType([
    T.StructField("trip_id", T.LongType(), nullable=False),
    T.StructField("route_id", T.IntegerType()),          # always NULL (transform.py:177)
    T.StructField("vehicle_id", T.IntegerType()),
    T.StructField("service_key", T.StringType()),        # Weekday|Saturday|Sunday
    T.StructField("direction", T.StringType()),          # constant 'Out'
])

#: BreadCrumb fact (transform.py:265-269) — FK trip_id, date-partitioned on
#: event_date in the warehouse.
BREADCRUMB = T.StructType([
    T.StructField("tstamp", T.TimestampType(), nullable=False),
    T.StructField("latitude", T.DoubleType()),
    T.StructField("longitude", T.DoubleType()),
    T.StructField("speed", T.DoubleType()),              # nullable: time_diff<=0 rows
    T.StructField("trip_id", T.LongType(), nullable=False),
])

#: ACS census tract side-table (OR.csv:1, 36 columns).
_CENSUS_LONG = ["TractId", "TotalPop", "Men", "Women", "VotingAgeCitizen", "Employed"]
_CENSUS_STR = ["State", "County"]
CENSUS_TRACT = T.StructType(
    [T.StructField("TractId", T.LongType())]
    + [T.StructField(c, T.StringType()) for c in _CENSUS_STR]
    + [T.StructField(c, T.LongType()) for c in _CENSUS_LONG[1:]]
    + [T.StructField(c, T.DoubleType()) for c in [
        "Hispanic", "White", "Black", "Native", "Asian", "Pacific",
        "Income", "IncomeErr", "IncomePerCap", "IncomePerCapErr",
        "Poverty", "ChildPoverty", "Professional", "Service", "Office",
        "Construction", "Production", "Drive", "Carpool", "Transit",
        "Walk", "OtherTransp", "WorkAtHome", "MeanCommute",
        "PrivateWork", "PublicWork", "SelfEmployed", "FamilyWork",
        "Unemployment"]]
)
# Reorder to the exact OR.csv column order.
_CENSUS_ORDER = [
    "TractId", "State", "County", "TotalPop", "Men", "Women", "Hispanic",
    "White", "Black", "Native", "Asian", "Pacific", "VotingAgeCitizen",
    "Income", "IncomeErr", "IncomePerCap", "IncomePerCapErr", "Poverty",
    "ChildPoverty", "Professional", "Service", "Office", "Construction",
    "Production", "Drive", "Carpool", "Transit", "Walk", "OtherTransp",
    "WorkAtHome", "MeanCommute", "Employed", "PrivateWork", "PublicWork",
    "SelfEmployed", "FamilyWork", "Unemployment",
]
_by_name = {f.name: f for f in CENSUS_TRACT.fields}
CENSUS_TRACT = T.StructType([_by_name[c] for c in _CENSUS_ORDER])

#: Driver-generated synthetic tables (TESTDATA.md) — declared so reads can
#: assert rather than infer.
EVENTS = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])

DOCUMENTS = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("source", T.StringType()),
    T.StructField("n_chars", T.LongType()),
])

EMBEDDINGS = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
    T.StructField("label", T.IntegerType()),
])
