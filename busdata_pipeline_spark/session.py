"""SparkSession construction + scale-oriented defaults.

The reference delegates all relational execution to PostgreSQL
(`/root/reference/transform.py:16-22`, `analytic.sql`); here the engine IS
Spark, so the session carries the physical-tuning posture for a large
cluster (AQE, skew handling, partition-overwrite semantics) while remaining
correct on local[N].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Session-timezone pin: the reference stores naive timestamps queried
# ``AT TIME ZONE 'UTC'`` (/root/reference/analytic.sql:45).  Storing
# naive-as-UTC and pinning the session to UTC makes that the identity and
# keeps Spark's hour()/to_date() consistent with the DuckDB oracle, which
# treats parquet timestamps as naive UTC wall-clock.
SESSION_TZ = "UTC"

#: Conf applied both when we build a session ourselves and (the safe,
#: session-scoped subset) when the driver hands us an existing session.
TUNING = {
    # correctness-critical
    "spark.sql.session.timeZone": SESSION_TZ,
    # runtime re-planning: join strategy switch, skew-join splitting,
    # partition coalescing — the main line of defense at 100 TB where
    # static estimates are wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # idempotent day re-load (reference transform.py:62-83) is expressed as
    # dynamic partition overwrite, not delete-then-insert.
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # Arrow for the few pandas-UDF extension operators.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The test tables carry INT64 TIMESTAMP(NANOS) parquet columns, which
    # Spark's vectorized reader rejects; read them as nano-longs and let
    # sources.tables convert to TimestampType (micros, truncating like
    # DuckDB does when it reads TIMESTAMP_NS).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Naive (isAdjustedToUTC=false) parquet timestamps must read as
    # session-TZ TIMESTAMP (LTZ), not TIMESTAMP_NTZ: the session is pinned
    # to UTC so values are identical, but NTZ forbids cast-to-double epoch
    # arithmetic and breaks comparisons against timestamp literals.  DuckDB
    # likewise treats naive parquet timestamps as plain TIMESTAMP, so this
    # keeps oracle semantics aligned.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Pin the meaning of the bare "timestamp" type name itself: a session
    # that set spark.sql.timestampType=TIMESTAMP_NTZ turns every
    # cast("timestamp") guard into an NTZ no-op and then epoch arithmetic
    # (cast-to-double) raises DATATYPE_MISMATCH — the round-3 driver
    # failure mode.  All engine code also casts to "timestamp_ltz"
    # explicitly, so this pin is defense-in-depth, not a dependency.
    "spark.sql.timestampType": "TIMESTAMP_LTZ",
}


#: Entries in Spark's generated-class cache (``spark.sql.codegen.cache.
#: maxEntries``, default 100).  The cache evicts least-recently-used
#: first, and a pass over the engine's queries cycles through far more
#: distinct generated classes than 100: one ``curation_batch`` pass
#: compiles ~249, one cycle over the 56 bench headliners at sf0.01
#: ~1200.  A cyclic access pattern larger than an LRU evicts every class
#: before its next use, so each pass recompiled everything the last pass
#: compiled (~0.8 s of Janino per ~3.8 s curation pass on 4 vCPUs).
#: Census, read from ``CodegenMetrics``: one cycle over the full registry
#: (282 queries, sf0.001) compiles 3744 distinct classes (5535 at the
#: default cap, which evicts within the cycle); the cap is ~1.5x that.
#: The cache is JVM-wide and the conf is static: it is fixed when the
#: JVM's first session is built, so a session built elsewhere and handed
#: to the engine keeps its own cap; ``apply_session_conf`` does not
#: touch it.
CODEGEN_CACHE_ENTRIES = 5600


def compile_count(spark: SparkSession) -> int:
    """Generated classes compiled so far in this JVM (Janino compile
    count from Spark's ``CodegenMetrics``); a delta across a run counts
    the codegen-cache misses it caused, independent of host speed."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(cm.METRIC_COMPILATION_TIME().getCount())


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "busdata-pipeline-spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a session with the engine's tuning applied.

    ``shuffle_partitions`` defaults to the local core count: on a real
    cluster this would instead be ~2-3x total executor cores (and AQE
    coalescing makes over-provisioning cheap).
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # saveAsTable target for bucketed layouts (operators/bucketing.py);
        # kept out of the repo tree.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    for k, v in TUNING.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def apply_session_conf(spark: SparkSession) -> SparkSession:
    """Apply the session-scoped (mutable-at-runtime) conf to a session we
    did not build — e.g. the verification driver's.  Only runtime-settable
    keys; cheap and idempotent, called from every query entry point so
    results don't depend on the caller's timezone or AQE posture."""
    for k, v in TUNING.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # static conf on someone else's session — skip
            pass
    return spark
