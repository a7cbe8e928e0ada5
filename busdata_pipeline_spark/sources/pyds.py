"""S1/S2 as a first-class Spark data source (Spark 4 Python DataSource
API).

``sources/collector.py`` expresses the reference's HTTP fan-out
(/root/reference/data_collector.py:36,54-66,176-188) as a ``mapInPandas``
over an id DataFrame; this module re-expresses the same contract at the
layer a Spark user expects a *source* to live:

    spark.read.format("breadcrumbs")
         .option("n_vehicles", "199").option("parts", "8").load()

Each ``InputPartition`` owns a slice of the vehicle-id range, so the
fetch fan-out IS the source's partitioning — on a cluster, partitions
spread across executors, task retries are fetch retries, and downstream
operators see an ordinary partitioned DataFrame.  The fetcher is
resolved by NAME (options are strings — a data source cannot smuggle a
callable), with the same offline posture as the collector: ``fake`` is
the deterministic stub, ``http`` names the production fetcher that this
container deliberately leaves unimplemented.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

#: DDL of the produced rows — the raw breadcrumb fields keyed by vehicle
#: (the fields of schemas.RAW_BREADCRUMB_DECODED).
BREADCRUMB_DDL = (
    "EVENT_NO_TRIP bigint, EVENT_NO_STOP bigint, OPD_DATE string, "
    "METERS double, ACT_TIME bigint, GPS_LATITUDE double, "
    "GPS_LONGITUDE double, VEHICLE_ID int"
)

_COLS = [c.split()[0] for c in BREADCRUMB_DDL.split(", ")]


class BreadcrumbDataSource(DataSource):
    """format name ``breadcrumbs``; options:

    - ``n_vehicles`` (default 199, the reference's fleet size) — ids
      1..n, or ``first_id`` to offset;
    - ``parts`` (default 8) — number of input partitions (the fan-out
      width; the reference's MAX_WORKERS=10 analog);
    - ``fetch`` (default ``fake``) — fetcher name.
    """

    @classmethod
    def name(cls) -> str:
        return "breadcrumbs"

    def schema(self) -> str:
        return BREADCRUMB_DDL

    def reader(self, schema) -> "BreadcrumbReader":
        return BreadcrumbReader(self.options)

    def streamReader(self, schema) -> "BreadcrumbStreamReader":
        return BreadcrumbStreamReader(self.options)


class BreadcrumbReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.first_id = int(options.get("first_id", 1))
        self.n_vehicles = int(options.get("n_vehicles", 199))
        self.parts = max(1, int(options.get("parts", 8)))
        self.fetch = options.get("fetch", "fake")

    def partitions(self):
        ids = list(range(self.first_id, self.first_id + self.n_vehicles))
        step = -(-len(ids) // self.parts)
        return [
            InputPartition(ids[i:i + step])
            for i in range(0, len(ids), step)
        ]

    def read(self, partition):
        # Executor-side: resolve the fetcher by name and pull each
        # vehicle in this partition's slice.  Import inside read() —
        # the reader object must pickle without engine modules loaded.
        from busdata_pipeline_spark.sources.collector import (
            fake_fetcher,
            http_fetcher,
        )

        fetcher = {"fake": fake_fetcher, "http": http_fetcher}[self.fetch]
        for vid in partition.value:
            for rec in fetcher(vid) or []:
                row = dict(rec)
                row["VEHICLE_ID"] = vid
                yield tuple(row.get(c) for c in _COLS)


class _FetchSlice(InputPartition):
    def __init__(self, ids: list[int], poll: int) -> None:
        self.ids = ids
        self.poll = poll


class BreadcrumbStreamReader(DataSourceStreamReader):
    """S5 through the same source: the reference's collector LOOP (one
    poll of the whole fleet per cadence tick, data_collector.py:176-188)
    becomes an offset-tracked streaming source.  The offset is the poll
    counter; each micro-batch fans the fleet out across ``parts``
    partitions, and every breadcrumb of poll ``k`` advances ACT_TIME by
    ``k * poll_seconds`` — the deterministic stand-in for "the bus moved
    since the last poll".

    ``max_polls`` bounds latestOffset so an availableNow replay
    terminates (a live deployment would return now()-derived offsets
    instead).  Exactly-once comes from the offset contract: Spark
    checkpoints (start, end] ranges and replays them verbatim on
    recovery; ``partitions(start, end)`` is a pure function of the
    range, so a replayed batch regenerates identical rows.
    """

    def __init__(self, options) -> None:
        self.first_id = int(options.get("first_id", 1))
        self.n_vehicles = int(options.get("n_vehicles", 199))
        self.parts = max(1, int(options.get("parts", 8)))
        self.max_polls = int(options.get("max_polls", 3))
        self.poll_seconds = int(options.get("poll_seconds", 300))
        self.fetch = options.get("fetch", "fake")

    def initialOffset(self) -> dict:
        return {"poll": 0}

    def latestOffset(self) -> dict:
        return {"poll": self.max_polls}

    def partitions(self, start: dict, end: dict):
        ids = list(range(self.first_id, self.first_id + self.n_vehicles))
        step = -(-len(ids) // self.parts)
        return [
            _FetchSlice(ids[i:i + step], poll)
            for poll in range(start["poll"], end["poll"])
            for i in range(0, len(ids), step)
        ]

    def read(self, partition: "_FetchSlice"):
        from busdata_pipeline_spark.sources.collector import (
            fake_fetcher,
            http_fetcher,
        )

        fetcher = {"fake": fake_fetcher, "http": http_fetcher}[self.fetch]
        shift = partition.poll * self.poll_seconds
        for vid in partition.ids:
            for rec in fetcher(vid) or []:
                row = dict(rec)
                row["VEHICLE_ID"] = vid
                row["ACT_TIME"] = row["ACT_TIME"] + shift
                yield tuple(row.get(c) for c in _COLS)

    def commit(self, end: dict) -> None:
        # Nothing external to acknowledge for the deterministic fetcher;
        # a real transport would ack its cursor here.
        pass


def register(spark) -> None:
    """Idempotently register the source on a session."""
    spark.dataSource.register(BreadcrumbDataSource)
