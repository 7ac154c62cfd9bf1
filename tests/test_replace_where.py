"""replace_where (Delta's replaceWhere / Iceberg overwrite-by-filter)
on all three formats: ONE commit deletes the predicate's rows and
inserts the replacement — the idempotent backfill primitive. Input
rows outside the predicate refuse up front; NULL-evaluating rows are
retained (delete_where semantics); on partitioned tables with a
partition predicate, non-matching files carry forward untouched."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from plankton_spark.sources.delta_log import DeltaLog, DeltaLogWriter, read_delta
from plankton_spark.sources.iceberg_meta import IcebergWriter, read_iceberg
from plankton_spark.table_format import PlankTable


def _rows(spark, pairs):
    return spark.createDataFrame(pairs, "k long, grp long")


def _base(spark):
    # grp 0: k 0..4, grp 1: k 10..14
    return _rows(
        spark, [(k, 0) for k in range(5)] + [(k, 1) for k in range(10, 15)]
    )


def _content(df) -> list[tuple[int, int]]:
    return sorted((r["k"], r["grp"]) for r in df.select("k", "grp").collect())


EXPECT = sorted(
    [(k, 0) for k in range(5)] + [(k, 1) for k in (100, 101)]
)


# ---------------------------------------------------------------------
# planktable
# ---------------------------------------------------------------------


def test_planktable_replace_where(spark, tmp_path):
    t = PlankTable(spark, str(tmp_path / "pt"))
    t.create(_base(spark).repartition("grp"))
    new = _rows(spark, [(100, 1), (101, 1)])
    t.replace_where(new, F.col("grp") == 1)
    assert _content(t.read()) == EXPECT
    # idempotent: a re-run replaces the same slice, not duplicates it
    t.replace_where(new, F.col("grp") == 1)
    assert _content(t.read()) == EXPECT
    ops = [h["operation"] for h in t.history()]
    assert ops[-1] == "REPLACEWHERE"


def test_planktable_replace_where_refuses_leaky_input(spark, tmp_path):
    t = PlankTable(spark, str(tmp_path / "pt_bad"))
    t.create(_base(spark))
    with pytest.raises(ValueError, match="do not satisfy"):
        t.replace_where(_rows(spark, [(100, 2)]), F.col("grp") == 1)
    assert _content(t.read()) == _content(_base(spark))


def test_planktable_replace_where_retains_null_rows(spark, tmp_path):
    t = PlankTable(spark, str(tmp_path / "pt_null"))
    t.create(
        _rows(spark, [(0, 0), (1, 1)]).unionByName(
            spark.createDataFrame([(2, None)], "k long, grp long")
        )
    )
    t.replace_where(_rows(spark, [(100, 1)]), F.col("grp") == 1)
    # the NULL-grp row survives: condition is NULL there, not TRUE
    assert _content(t.read()) == [(0, 0), (2, None), (100, 1)]


# ---------------------------------------------------------------------
# Delta
# ---------------------------------------------------------------------


def test_delta_replace_where_partition_scoped(spark, tmp_path):
    root = str(tmp_path / "dl")
    w = DeltaLogWriter(spark, root)
    w.create(_base(spark), partition_by=["grp"])
    active_before = DeltaLog(root).replay(None).active
    untouched = {r for r in active_before if "grp=0" in r}
    new = _rows(spark, [(100, 1), (101, 1)])
    w.replace_where(new, F.col("grp") == 1)
    assert _content(read_delta(spark, root)) == EXPECT
    # partition predicate: grp=0 files carry forward by REFERENCE —
    # same physical paths live, nothing outside the slice rewritten
    active_after = DeltaLog(root).replay(None).active
    assert untouched <= set(active_after)
    assert not any("grp=0" in r for r in set(active_after) - untouched)
    # idempotent re-run
    w.replace_where(new, F.col("grp") == 1)
    assert _content(read_delta(spark, root)) == EXPECT


def test_delta_replace_where_refusals(spark, tmp_path):
    root = str(tmp_path / "dl_bad")
    w = DeltaLogWriter(spark, root)
    w.create(_base(spark))
    with pytest.raises(ValueError, match="do not satisfy"):
        w.replace_where(_rows(spark, [(100, 2)]), F.col("grp") == 1)
    with pytest.raises(ValueError, match="schema"):
        w.replace_where(
            spark.createDataFrame([(100,)], "k long"), F.col("grp") == 1
        )
    assert _content(read_delta(spark, root)) == _content(_base(spark))


# ---------------------------------------------------------------------
# Iceberg
# ---------------------------------------------------------------------


def test_iceberg_replace_where_partition_scoped(spark, tmp_path):
    root = str(tmp_path / "ib")
    w = IcebergWriter(spark, root)
    w.create(_base(spark), partition_by=["grp"])
    new = _rows(spark, [(100, 1), (101, 1)])
    w.replace_where(new, F.col("grp") == 1)
    assert _content(read_iceberg(spark, root)) == EXPECT
    # idempotent re-run
    w.replace_where(new, F.col("grp") == 1)
    assert _content(read_iceberg(spark, root)) == EXPECT
    with pytest.raises(ValueError, match="do not satisfy"):
        w.replace_where(_rows(spark, [(100, 0)]), F.col("grp") == 1)


def test_iceberg_replace_where_row_scoped(spark, tmp_path):
    root = str(tmp_path / "ib_row")
    w = IcebergWriter(spark, root)
    w.create(_base(spark).coalesce(1))
    w.replace_where(
        _rows(spark, [(200, 1)]), (F.col("k") >= 12) & (F.col("grp") == 1)
    )
    assert _content(read_iceberg(spark, root)) == sorted(
        [(k, 0) for k in range(5)] + [(10, 1), (11, 1), (200, 1)]
    )
