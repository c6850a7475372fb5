"""Driver-contract conformance: every queries() entry must match its
DuckDB oracle at sf0.001 (tests/run_oracle_check.py runs the same
comparison at sf0.01); entry() must return rows."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))

import __spark_entry__ as entrymod  # noqa: E402
from oracle_harness import compare_query  # noqa: E402

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

ORACLE_NAMES = sorted(ORACLES)


def test_every_oracle_has_a_query():
    assert set(ORACLES) == set(QUERIES)
    assert list(QUERIES) == list(entrymod.CONTRACT)


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(spark, sf001, name):
    problems, _n = compare_query(spark, sf001, name, QUERIES[name], ORACLES[name])
    assert not problems, problems


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["tile_z", "tile_x", "tile_y", "n"]
