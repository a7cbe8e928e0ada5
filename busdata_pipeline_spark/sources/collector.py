"""Collector-side sources: id-list scan, distributed fetch fan-out, and
the bronze (raw JSON) archive sink.

Reference behavior re-expressed Spark-first:

- S14 id-list text source — one vehicle id per line, blanks stripped
  (/root/reference/data_collector.py:42-52).
- S1/S2 HTTP fetch fan-out — the reference runs a 10-thread pool over
  199 ids, one GET per vehicle (data_collector.py:36,54-66,176-188).
  Here the ids are a DataFrame repartitioned to the desired parallelism
  and the fetch runs inside ``mapInPandas``, so the fan-out is Spark
  *task* parallelism: on a cluster the same code spreads across
  executors, retries are task retries, and the result lands directly in
  DataFrame land with the explicit breadcrumb schema.  The fetcher is
  pluggable (tests inject a deterministic fake; the real HTTP fetcher
  is driver-configured) — the engine never hard-codes a network call.
- S3 raw JSON archive sink — per-vehicle/day raw files
  (data_collector.py:68-79) become a ``partitionBy(vehicle, date)``
  JSON write: same layout discipline, but atomic, parallel, and
  readable back as a partition-pruned table.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from busdata_pipeline_spark.functions.timestamps import opd_date
from busdata_pipeline_spark.schemas import RAW_BREADCRUMB_DECODED

#: fetcher(vehicle_id) -> iterable of breadcrumb dicts (the per-vehicle
#: JSON array of data_collector.py:60-63).
Fetcher = Callable[[int], Iterable[dict]]


def read_vehicle_ids(spark: SparkSession, path: str) -> DataFrame:
    """S14: ids.txt -> one-column DataFrame ``vehicle_id`` (int), blank
    lines dropped (data_collector.py:42-52)."""
    return (
        spark.read.text(path)
        .select(F.trim("value").alias("v"))
        .where(F.length("v") > 0)
        .select(F.col("v").cast("int").alias("vehicle_id"))
    )


def http_fetcher(vehicle_id: int) -> Iterable[dict]:
    """The production fetcher (GET …/getBreadCrumbs?vehicle_id=X,
    data_collector.py:54-66).  Deliberately unimplemented in this
    offline container — inject a fake via ``fetch_breadcrumbs(fetcher=…)``.
    """
    raise NotImplementedError(
        "no network access in this environment; pass an explicit fetcher"
    )


def fake_fetcher(vehicle_id: int) -> Iterable[dict]:
    """Deterministic offline stand-in for ``http_fetcher`` (CLI
    ``collect --fake-fetch`` and demos): 3 breadcrumbs per vehicle, all
    fields pure functions of the id, so re-collection is reproducible."""
    return [
        {
            "EVENT_NO_TRIP": vehicle_id * 100 + i,
            "EVENT_NO_STOP": i,
            "OPD_DATE": "25DEC2022:00:00:00",
            "METERS": 250.0 * i,
            "ACT_TIME": 30000 + 60 * i,
            "GPS_LATITUDE": 45.5 + (vehicle_id % 100) / 1000.0,
            "GPS_LONGITUDE": -122.6 - (vehicle_id % 100) / 1000.0,
        }
        for i in range(3)
    ]


def fetch_breadcrumbs(ids: DataFrame, fetcher: Fetcher,
                      parallelism: int = 32) -> DataFrame:
    """S1/S2: distributed fetch fan-out.

    ``ids`` is repartitioned to ``parallelism`` (the reference's
    MAX_WORKERS=10 thread pool, data_collector.py:36,176, scaled to the
    cluster); each task calls ``fetcher`` per id and yields Arrow
    batches with the explicit breadcrumb schema.  Failed/empty vehicles
    yield no rows, matching the reference's skip-on-error
    (data_collector.py:64-66).
    """
    cols = [f.name for f in RAW_BREADCRUMB_DECODED.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict] = []
            for vid in pdf["vehicle_id"]:
                records = fetcher(int(vid)) or []
                for rec in records:
                    row = {c: rec.get(c) for c in cols}
                    row["VEHICLE_ID"] = int(vid)
                    out.append(row)
            yield pd.DataFrame(out, columns=cols)

    return ids.repartition(parallelism).mapInPandas(
        run, schema=RAW_BREADCRUMB_DECODED
    )


def write_bronze(df: DataFrame, path: str) -> None:
    """S3: raw archive, partitioned by vehicle and event date — the
    ``vehicle_{id}_{date}.json`` layout (data_collector.py:68-79) as a
    partitioned JSON dataset (prunable on both keys when read back)."""
    (
        df.withColumn("opd_day", opd_date("OPD_DATE"))
        .write.partitionBy("VEHICLE_ID", "opd_day")
        .mode("overwrite")
        .json(path)
    )
