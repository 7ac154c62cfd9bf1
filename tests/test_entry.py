"""Driver-contract smoke tests (mirrors the t1 gate)."""

from __future__ import annotations

import importlib
from pathlib import Path

from tests.conftest import SF0001


def _entry_module():
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    return importlib.import_module("__spark_entry__")


def test_entry_returns_rows(spark):
    mod = _entry_module()
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"l_returnflag", "sum_qty", "count_order"} <= set(df.columns)


def test_queries_and_oracles_aligned(spark):
    mod = _entry_module()
    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert set(oracles) <= set(qs), "oracle without a query"
    assert len(qs) > 0


def test_every_query_runs_on_smallest_sf(spark):
    mod = _entry_module()
    for name, fn in mod.queries().items():
        df = fn(spark, SF0001)
        assert df.columns, name
