"""Python DataSource (format "breadcrumbs"): partitioning, schema,
determinism, and the offline-fetcher contract."""

from __future__ import annotations

import pytest

from busdata_pipeline_spark.sources import pyds
from busdata_pipeline_spark.sources.collector import fake_fetcher


def _read(spark, **opts):
    pyds.register(spark)
    r = spark.read.format("breadcrumbs")
    for k, v in opts.items():
        r = r.option(k, str(v))
    return r.load()


def test_partition_count_is_the_fanout_width(spark):
    df = _read(spark, n_vehicles=20, parts=5)
    assert df.rdd.getNumPartitions() == 5
    assert df.count() == 20 * 3


def test_rows_match_the_collector_fetcher(spark):
    df = _read(spark, n_vehicles=7, parts=2)
    got = sorted(
        (r.VEHICLE_ID, r.EVENT_NO_TRIP, r.METERS, r.ACT_TIME)
        for r in df.collect()
    )
    want = sorted(
        (vid, rec["EVENT_NO_TRIP"], rec["METERS"], rec["ACT_TIME"])
        for vid in range(1, 8)
        for rec in fake_fetcher(vid)
    )
    assert got == want


def test_uneven_id_slices_cover_every_id_once(spark):
    df = _read(spark, n_vehicles=10, parts=3)
    ids = sorted(r.VEHICLE_ID for r in df.select("VEHICLE_ID").distinct().collect())
    assert ids == list(range(1, 11))


def test_http_fetcher_stays_unimplemented_offline(spark):
    df = _read(spark, n_vehicles=1, parts=1, fetch="http")
    with pytest.raises(Exception, match="(?i)python|network|fetcher"):
        df.collect()


def test_stream_offsets_resume_from_checkpoint(spark, tmp_path):
    """Restarting the poll stream against the same checkpoint must
    resume at the committed offset: polls 0-1 land once, then a restart
    with a larger max_polls adds ONLY polls 2-3 — no duplicates."""
    pyds.register(spark)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain(max_polls: int) -> None:
        stream = (
            spark.readStream.format("breadcrumbs")
            .option("n_vehicles", "5")
            .option("parts", "2")
            .option("max_polls", str(max_polls))
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    drain(2)
    first = spark.read.parquet(out).count()
    assert first == 5 * 3 * 2
    drain(4)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 5 * 3 * 4  # polls 2-3 appended exactly once
    from collections import Counter
    c = Counter((r.VEHICLE_ID, r.ACT_TIME) for r in rows)
    assert max(c.values()) == 1, "a replayed poll duplicated rows"
