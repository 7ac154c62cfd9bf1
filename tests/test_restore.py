"""RESTORE / rollback across all three table formats: a new
metadata-only commit re-establishes an earlier version's live file
set — history preserved (time travel still reads the pre-restore
tip), no data file read or written, and the operation REFUSES when a
target file was physically vacuumed since (committing an unreadable
snapshot would be silent corruption)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from plankton_spark.sources.delta_log import DeltaLog, DeltaLogWriter, read_delta
from plankton_spark.sources.iceberg_meta import (
    IcebergTable,
    IcebergWriter,
    read_iceberg,
)
from plankton_spark.table_format import PlankTable


def _k(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("grp")
    )


def _ks(df) -> list[int]:
    return sorted(r[0] for r in df.select("k").collect())


# ---------------------------------------------------------------------
# planktable
# ---------------------------------------------------------------------


def test_planktable_restore_roundtrip(spark, tmp_path):
    root = str(tmp_path / "pt")
    t = PlankTable(spark, root)
    t.create(_k(spark, 0, 5).coalesce(1))            # v0
    t.append(_k(spark, 10, 15).coalesce(1))          # v1
    t.delete_where(F.col("grp") == 0)                # v2
    assert len(_ks(t.read())) == 7
    v = t.restore(1)                                 # v3
    assert v == 3
    assert _ks(t.read()) == list(range(0, 5)) + list(range(10, 15))
    # history preserved: the deleted state still time-travels
    assert len(_ks(t.read(version=2))) == 7
    ops = [h["operation"] for h in t.history()]
    assert ops[-1] == "RESTORE"
    # appends continue on the restored snapshot
    t.append(_k(spark, 20, 22).coalesce(1))
    assert len(_ks(t.read())) == 12


def test_planktable_restore_is_metadata_only(spark, tmp_path):
    root = str(tmp_path / "pt_meta")
    t = PlankTable(spark, root)
    t.create(_k(spark, 0, 5).coalesce(1))
    t.overwrite(_k(spark, 100, 103).coalesce(1))
    n_data = len([e for e in os.listdir(root) if e.startswith("data-")])
    t.restore(0)
    assert (
        len([e for e in os.listdir(root) if e.startswith("data-")]) == n_data
    ), "restore must not stage new data files"
    assert _ks(t.read()) == list(range(0, 5))


def test_planktable_restore_refuses_vacuumed(spark, tmp_path):
    root = str(tmp_path / "pt_vac")
    t = PlankTable(spark, root)
    t.create(_k(spark, 0, 5).coalesce(1))
    t.overwrite(_k(spark, 100, 103).coalesce(1))
    # physically remove v0's file (what a vacuum would do post-expiry)
    v0_files = t.files(version=0)
    for p in v0_files:
        os.remove(p)
    with pytest.raises(FileNotFoundError, match="vacuum"):
        t.restore(0)
    # table is untouched by the refused restore
    assert _ks(t.read()) == [100, 101, 102]


# ---------------------------------------------------------------------
# Delta
# ---------------------------------------------------------------------


def test_delta_restore_roundtrip(spark, tmp_path):
    root = str(tmp_path / "dl")
    w = DeltaLogWriter(spark, root)
    w.create(_k(spark, 0, 5).coalesce(1))            # v0
    w.append(_k(spark, 10, 15).coalesce(1))          # v1
    w.delete_where(F.col("grp") == 0)                # v2
    assert len(_ks(read_delta(spark, root))) == 7
    v = w.restore(1)                                 # v3
    assert v == 3
    assert _ks(read_delta(spark, root)) == (
        list(range(0, 5)) + list(range(10, 15))
    )
    # pre-restore tip still time-travels
    assert len(_ks(read_delta(spark, root, version=2))) == 7
    w.append(_k(spark, 20, 22).coalesce(1))
    assert len(_ks(read_delta(spark, root))) == 12


def test_delta_restore_undoes_dv_delete_without_protocol_downgrade(
    spark, tmp_path
):
    root = str(tmp_path / "dl_dv")
    w = DeltaLogWriter(spark, root)
    w.create(_k(spark, 0, 10).coalesce(1))
    w.delete_where_dv(F.col("k") >= 7)               # upgrades protocol
    assert len(_ks(read_delta(spark, root))) == 7
    w.restore(0)
    assert _ks(read_delta(spark, root)) == list(range(0, 10))
    # protocol is monotone: the deletionVectors feature survives
    st = DeltaLog(root).replay(None)
    feats = (st.protocol or {}).get("readerFeatures") or []
    assert "deletionVectors" in feats
    # and a restore BACK to the DV'd version re-applies the DV
    w.restore(1)
    assert _ks(read_delta(spark, root)) == list(range(0, 7))


def test_delta_restore_reverts_schema_evolution(spark, tmp_path):
    root = str(tmp_path / "dl_evo")
    w = DeltaLogWriter(spark, root)
    w.create(_k(spark, 0, 3).coalesce(1))
    w.append(
        _k(spark, 10, 12).withColumn("extra", F.lit(1)).coalesce(1),
        merge_schema=True,
    )
    assert "extra" in read_delta(spark, root).columns
    w.restore(0)
    assert read_delta(spark, root).columns == ["k", "grp"]
    assert _ks(read_delta(spark, root)) == [0, 1, 2]


def test_delta_restore_refuses_vacuumed(spark, tmp_path):
    root = str(tmp_path / "dl_vac")
    w = DeltaLogWriter(spark, root)
    w.create(_k(spark, 0, 5).coalesce(1))
    w.overwrite(_k(spark, 100, 103).coalesce(1))
    active0 = DeltaLog(root).replay(0).active
    for rel in active0:
        os.remove(os.path.join(root, rel))
    with pytest.raises(FileNotFoundError, match="vacuum"):
        w.restore(0)
    assert _ks(read_delta(spark, root)) == [100, 101, 102]


# ---------------------------------------------------------------------
# Iceberg
# ---------------------------------------------------------------------


def test_iceberg_rollback_roundtrip(spark, tmp_path):
    root = str(tmp_path / "ib")
    w = IcebergWriter(spark, root)
    s1 = w.create(_k(spark, 0, 5).coalesce(1))
    s2 = w.append(_k(spark, 10, 15).coalesce(1))
    s3 = w.delete_where(F.col("grp") == 0)
    assert len(_ks(read_iceberg(spark, root))) == 7
    assert w.rollback_to(s2) == s2
    assert _ks(read_iceberg(spark, root)) == (
        list(range(0, 5)) + list(range(10, 15))
    )
    # snapshot list intact: pre-rollback tip still time-travels
    assert len(_ks(read_iceberg(spark, root, snapshot_id=s3))) == 7
    # appends continue from the rolled-back state
    w.append(_k(spark, 20, 22).coalesce(1))
    assert len(_ks(read_iceberg(spark, root))) == 12
    assert w.rollback_to(s1) == s1
    assert _ks(read_iceberg(spark, root)) == list(range(0, 5))


def test_iceberg_rollback_refuses_unknown_and_vacuumed(spark, tmp_path):
    root = str(tmp_path / "ib_vac")
    w = IcebergWriter(spark, root)
    s1 = w.create(_k(spark, 0, 5).coalesce(1))
    w.overwrite(_k(spark, 100, 103).coalesce(1))
    with pytest.raises(ValueError, match="no snapshot"):
        w.rollback_to(999)
    t = IcebergTable(root)
    for p in t.data_files(snapshot_id=s1):
        os.remove(p)
    with pytest.raises(FileNotFoundError, match="removed"):
        w.rollback_to(s1)
    assert _ks(read_iceberg(spark, root)) == [100, 101, 102]
