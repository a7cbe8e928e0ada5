"""Differential test: every registered query with an oracle must match
DuckDB at DRIVER-HASH strictness (tools/driver_hash.py) — IEEE bit
patterns and canonical column types, not just Python ``==``.  Round 1
proved the weaker value-equality comparator passes queries the external
driver fails (signed zero, integer width)."""

from __future__ import annotations

import os
import sys
import tempfile

import pytest

sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    ),
)

import __spark_entry__ as entrymod
from driver_hash import strict_compare
from tests.conftest import SF001
from tests.oracle_check import duckdb_con

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def con():
    c = duckdb_con(SF001)
    yield c
    c.close()


@pytest.fixture(autouse=True)
def no_scratch_left(tmp_path, monkeypatch):
    """Point Python's temp dir at an empty per-test dir and fail if
    anything is left in it afterwards: a query that round-trips through
    storage must remove its scratch before it returns, so every parity
    run checks cleanup too."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    yield
    left = os.listdir(tmp_path)
    assert not left, f"scratch left behind: {left}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, con, name):
    ok, msg = strict_compare(QUERIES[name](spark, SF001), con, ORACLES[name])
    assert ok, f"{name}: {msg}"


def test_every_query_has_an_oracle():
    # test_oracle_parity runs exactly the queries that have an oracle; a
    # query registered without one would escape the parity run silently.
    assert set(QUERIES) == set(ORACLES)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0


def test_no_date_in_lists_in_any_oracle():
    """ORACLES.md rule 6: DuckDB 1.0.0 evaluates DATE IN-lists to EMPTY
    (while the equivalent =/OR chain matches), so no registered oracle
    may ever contain one — the failure mode is silent wrong-answers,
    not an error."""
    import re

    hits = {
        n: m.group(0)
        for n, s in ORACLES.items()
        if (m := re.search(r"IN\s*\(\s*DATE\s*'", s, re.I))
    }
    assert not hits, f"DATE IN-lists found (write OR chains): {hits}"
