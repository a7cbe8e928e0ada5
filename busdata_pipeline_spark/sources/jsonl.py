"""S9 — daily breadcrumb JSONL scan with per-line fault tolerance.

The reference reads the day file line-by-line and skips undecodable lines
with a warning (/root/reference/transform.py:116-126).  Spark equivalent:
PERMISSIVE json read against the explicit schema with a
``_corrupt_record`` column; bad lines become corrupt-only rows that are
filtered (and countable for the audit log, S.A11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from busdata_pipeline_spark.schemas import RAW_BREADCRUMB_DECODED


def read_breadcrumb_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Hot-path read: undecodable lines are dropped at the scan
    (DROPMALFORMED == the reference's skip-with-warning), so no corrupt
    column survives into downstream plans."""
    return (
        spark.read.schema(RAW_BREADCRUMB_DECODED)
        .option("mode", "DROPMALFORMED")
        .json(path)
    )


def corrupt_line_count(spark: SparkSession, path: str) -> int:
    """The reference's skipped-line warning counter (transform.py:122-124):
    non-blank lines minus successfully-parsed records.  (Spark disallows
    plans that reference only the internal corrupt-record column, so the
    count is derived from two cheap scans instead.)"""
    total = spark.read.text(path).where(F.length(F.trim("value")) > 0).count()
    return total - read_breadcrumb_jsonl(spark, path).count()
