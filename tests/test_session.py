"""Session-level tuning: the generated-class cache holds a pass's working
set, so a query shape is compiled once per session, not once per run."""

from __future__ import annotations

import __spark_entry__ as entrymod
from busdata_pipeline_spark.session import CODEGEN_CACHE_ENTRIES, compile_count
from tests.conftest import SF0001

# The curation-batch mix: iterative queries that together compile a few
# hundred generated classes per pass, more than Spark's default cache
# (100 entries) holds.
CURATION_MIX = [
    "td_incremental_minhash",
    "td_setsim_prefix_join",
    "rel_pagerank_cosuppliers",
    "rel_triangle_count",
]


def _empty_codegen_cache(spark) -> None:
    """Empty the JVM-wide generated-class cache, so the first cycle
    compiles the mix's whole working set whatever ran earlier in the
    shared session.  Reaches the private static field ``cache`` of
    ``CodeGenerator$`` by reflection (no public API clears it)."""
    cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    field.get(None).invalidateAll()


def test_codegen_cache_cap_is_applied(spark):
    conf = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert int(conf) == CODEGEN_CACHE_ENTRIES


def test_second_cycle_reuses_compiled_classes(spark):
    """Under a cyclic LRU smaller than the working set every class is
    evicted before its next use and the second cycle recompiles ~all of
    the first; with the cap sized to the working set it hits."""
    queries = entrymod.queries()
    _empty_codegen_cache(spark)

    def cycle() -> int:
        c0 = compile_count(spark)
        for name in CURATION_MIX:
            queries[name](spark, SF0001).write.format("noop").mode(
                "overwrite"
            ).save()
        return compile_count(spark) - c0

    first = cycle()
    second = cycle()
    assert first > 0
    assert second <= 0.25 * first, (first, second)
