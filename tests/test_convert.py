"""In-place migration of existing parquet directories: convert_to_delta
(CONVERT TO DELTA) and convert_to_iceberg (migrate/add_files). Data
files are inventoried, never rewritten or moved; hive key=value dirs
become typed partition columns; the converted table immediately
supports the full writer surface (append / delete / optimize) and
subsequent engine writes must not break reads of the original files
(Iceberg: field-id stamping is suppressed on converted tables so the
spec's writer-consistency rule holds)."""

from __future__ import annotations

import os
from functools import partial

import pytest

from pyspark.sql import functions as F

from plankton_spark.sources import delta_log, iceberg_meta
from plankton_spark.sources.convert import hive_inventory
from plankton_spark.sources.delta_log import (
    DeltaLogWriter,
    read_delta,
)
from plankton_spark.sources.iceberg_meta import (
    IcebergWriter,
    read_iceberg,
)


def _df(spark):
    return spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("grp")
    )


def _content(df):
    return sorted((r["k"], r["grp"]) for r in df.select("k", "grp").collect())


def _parquet_dir(spark, root, partitioned):
    w = _df(spark).write.mode("overwrite")
    if partitioned:
        w.partitionBy("grp").parquet(root)
    else:
        w.parquet(root)
    return root


# ---------------------------------------------------------------------
# Delta
# ---------------------------------------------------------------------


@pytest.mark.parametrize("partitioned", [False, True])
def test_convert_to_delta_roundtrip(spark, tmp_path, partitioned):
    root = _parquet_dir(spark, str(tmp_path / "d"), partitioned)
    before = sorted(
        p for p in os.listdir(root) if not p.startswith(("_", "."))
    )
    v = delta_log.author(
        spark,
        root,
        partial(
            hive_inventory,
            partition_schema={"grp": "long"} if partitioned else None,
        ),
    )
    assert v == 0
    assert _content(read_delta(spark, root)) == _content(_df(spark))
    # nothing moved or rewritten
    assert (
        sorted(p for p in os.listdir(root) if not p.startswith(("_", ".")))
        == before
    )
    # the converted table takes engine writes immediately
    w = DeltaLogWriter(spark, root)
    w.append(
        spark.createDataFrame([(100, 0)], "k long, grp long").coalesce(1)
    )
    w.delete_where(F.col("k") >= 8)
    got = _content(read_delta(spark, root))
    assert got == sorted([(k, k % 2) for k in range(8)])
    with pytest.raises(FileExistsError, match="already a Delta table"):
        delta_log.author(spark, root, hive_inventory)


def test_convert_to_delta_partition_pruning_and_refusals(spark, tmp_path):
    root = _parquet_dir(spark, str(tmp_path / "dp"), True)
    delta_log.author(
        spark, root, partial(hive_inventory, partition_schema={"grp": "long"})
    )
    pruned = read_delta(spark, root, partitions={"grp": 1})
    assert _content(pruned) == [(k, 1) for k in range(1, 10, 2)]
    # non-hive subdirectory refuses
    bad = str(tmp_path / "bad")
    _df(spark).coalesce(1).write.parquet(os.path.join(bad, "plain_subdir"))
    with pytest.raises(ValueError, match="non-hive"):
        delta_log.author(spark, bad, hive_inventory)
    with pytest.raises(FileNotFoundError, match="no parquet"):
        delta_log.author(spark, str(tmp_path / "empty"), hive_inventory)


# ---------------------------------------------------------------------
# Iceberg
# ---------------------------------------------------------------------


@pytest.mark.parametrize("partitioned", [False, True])
def test_convert_to_iceberg_roundtrip(spark, tmp_path, partitioned):
    root = _parquet_dir(spark, str(tmp_path / "i"), partitioned)
    snap = iceberg_meta.author(
        spark,
        root,
        partial(
            hive_inventory,
            partition_schema={"grp": "long"} if partitioned else None,
        ),
    )
    assert snap == 1
    assert _content(read_iceberg(spark, root)) == _content(_df(spark))
    # engine writes work, and (critically) do NOT break reads of the
    # original id-less files: field-id stamping is gated off
    w = IcebergWriter(spark, root)
    w.append(
        spark.createDataFrame([(100, 0)], "k long, grp long").coalesce(1)
    )
    assert _content(read_iceberg(spark, root)) == sorted(
        [(k, k % 2) for k in range(10)] + [(100, 0)]
    )
    w.delete_where(F.col("k") >= 8)
    assert _content(read_iceberg(spark, root)) == sorted(
        (k, k % 2) for k in range(8)
    )
    with pytest.raises(FileExistsError, match="already an Iceberg"):
        iceberg_meta.author(spark, root, hive_inventory)


def test_convert_to_iceberg_partitioned_prunes_and_time_travels(
    spark, tmp_path
):
    root = _parquet_dir(spark, str(tmp_path / "ip"), True)
    s1 = iceberg_meta.author(
        spark, root, partial(hive_inventory, partition_schema={"grp": "long"})
    )
    w = IcebergWriter(spark, root)
    w.delete_where(F.col("grp") == 0)
    assert _content(read_iceberg(spark, root)) == [
        (k, 1) for k in range(1, 10, 2)
    ]
    # snapshot 1 (the conversion) still reads the original files
    assert _content(read_iceberg(spark, root, snapshot_id=s1)) == _content(
        _df(spark)
    )


# ---------------------------------------------------------------------
# size-targeted compaction (target_file_mb)
# ---------------------------------------------------------------------


def test_optimize_target_file_size_all_formats(spark, tmp_path):
    """OPTIMIZE(target_file_mb=...) sizes the output layout from live
    bytes instead of a fixed file count — the knob that stays correct
    across table growth. A tiny target must yield >1 file; a huge
    target collapses to exactly 1."""
    from plankton_spark.table_format import PlankTable

    big = spark.range(0, 20000).select(
        F.col("id").alias("k"), F.sha2(F.col("id").cast("string"), 256).alias("s")
    )

    pt = PlankTable(spark, str(tmp_path / "pt"))
    pt.create(big.repartition(8))
    pt.optimize(target_file_mb=0.2)
    n_small_target = len(pt.files())
    assert n_small_target > 1
    pt.optimize(target_file_mb=1024)
    assert len(pt.files()) == 1
    # split-up direction: one big file back out to many
    pt.optimize(target_file_mb=0.2)
    assert len(pt.files()) > 1
    assert pt.read().count() == 20000

    dw = DeltaLogWriter(spark, str(tmp_path / "dl"))
    dw.create(big.repartition(8))
    dw.optimize(target_file_mb=0.2)
    from plankton_spark.sources.delta_log import DeltaLog

    assert len(DeltaLog(str(tmp_path / "dl")).replay(None)[2]) > 1
    dw.optimize(target_file_mb=1024)
    assert len(DeltaLog(str(tmp_path / "dl")).replay(None)[2]) == 1
    dw.optimize(target_file_mb=0.2)
    assert len(DeltaLog(str(tmp_path / "dl")).replay(None)[2]) > 1
    assert read_delta(spark, str(tmp_path / "dl")).count() == 20000

    iw = IcebergWriter(spark, str(tmp_path / "ib"))
    iw.create(big.repartition(8))
    iw.optimize(target_file_mb=0.2)
    from plankton_spark.sources.iceberg_meta import IcebergTable

    assert len(IcebergTable(str(tmp_path / "ib")).data_files()) > 1
    iw.optimize(target_file_mb=1024)
    assert len(IcebergTable(str(tmp_path / "ib")).data_files()) == 1
    iw.optimize(target_file_mb=0.2)
    assert len(IcebergTable(str(tmp_path / "ib")).data_files()) > 1
    assert read_iceberg(spark, str(tmp_path / "ib")).count() == 20000


def test_optimize_target_respects_partitions(spark, tmp_path):
    """On a hive-partitioned table, target_file_mb splits each
    PARTITION into ~num_files/n_partitions pieces — a global
    round-robin would scatter every partition value across all tasks
    and write ~num_files files per partition dir."""
    from plankton_spark.sources.delta_log import DeltaLog

    big = spark.range(0, 20000).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).alias("grp"),
        F.sha2(F.col("id").cast("string"), 256).alias("s"),
    )
    root = str(tmp_path / "dlp")
    w = DeltaLogWriter(spark, root)
    w.create(big.repartition(4), partition_by=["grp"])
    w.optimize(target_file_mb=0.2)
    active = DeltaLog(root).replay(None).active
    per_dir: dict[str, int] = {}
    for rel in active:
        per_dir[rel.split("/")[0]] = per_dir.get(rel.split("/")[0], 0) + 1
    total = sum(per_dir.values())
    assert total > 2, "tiny target must produce several files"
    for d, n in per_dir.items():
        assert n <= total // 2 + 1, (
            f"partition {d} holds {n} of {total} files — "
            "global round-robin leak"
        )
    assert read_delta(spark, root).count() == 20000


# ---------------------------------------------------------------------
# cross-format migration (planktable <-> Delta, metadata-only)
# ---------------------------------------------------------------------


def test_planktable_to_delta_roundtrip(spark, tmp_path):
    from plankton_spark import table_format
    from plankton_spark.sources import delta_log
    from plankton_spark.table_format import PlankTable

    root = str(tmp_path / "pt2d")
    t = PlankTable(spark, root)
    t.create(_df(spark).coalesce(2))
    t.delete_where(F.col("k") >= 8)
    v = delta_log.author(spark, root, table_format.inventory)
    assert v == 0
    assert _content(read_delta(spark, root)) == sorted(
        (k, k % 2) for k in range(8)
    )
    # Delta writes work; the old planktable history still time-travels
    w = DeltaLogWriter(spark, root)
    w.append(spark.createDataFrame([(100, 0)], "k long, grp long").coalesce(1))
    assert read_delta(spark, root).count() == 9
    assert t.read(version=0).count() == 10
    with pytest.raises(FileExistsError, match="already a Delta"):
        delta_log.author(spark, root, table_format.inventory)
    # MERGE exercises the converted add actions' stats pruning
    w.merge(
        spark.createDataFrame([(0, 5)], "k long, grp long"), "k"
    )
    got = dict(_content(read_delta(spark, root)))
    assert got[0] == 5


def test_delta_to_planktable_roundtrip_and_refusals(spark, tmp_path):
    from plankton_spark import table_format
    from plankton_spark.sources import delta_log
    from plankton_spark.table_format import PlankTable

    root = str(tmp_path / "d2pt")
    w = DeltaLogWriter(spark, root)
    w.create(_df(spark).coalesce(2))
    w.delete_where(F.col("k") >= 8)
    table_format.author(spark, root, delta_log.inventory)
    t = PlankTable(spark, root)
    assert _content(t.read()) == sorted((k, k % 2) for k in range(8))
    # planktable writes work (incl. stats-pruned merge on converted adds)
    t.append(spark.createDataFrame([(100, 0)], "k long, grp long"))
    assert t.read().count() == 9
    with pytest.raises(FileExistsError, match="already a planktable"):
        table_format.author(spark, root, delta_log.inventory)
    # partitioned source refuses
    proot = str(tmp_path / "d2pt_part")
    wp = DeltaLogWriter(spark, proot)
    wp.create(_df(spark), partition_by=["grp"])
    with pytest.raises(ValueError, match="partitioned"):
        table_format.author(spark, proot, delta_log.inventory)


def test_iceberg_to_delta_roundtrip_and_lineage(spark, tmp_path):
    """Reverse migration arrow: _delta_log authored over an Iceberg
    table's live files — content identical, partition pruning works,
    row lineage translates to Delta row tracking verbatim (including
    ids MATERIALIZED by an Iceberg compaction)."""
    from plankton_spark.sources.delta_log import read_delta
    from plankton_spark.sources.iceberg_meta import (
        IcebergWriter,
        read_iceberg,
    )
    from plankton_spark.sources import delta_log, iceberg_meta

    root = str(tmp_path / "i2d")
    w = IcebergWriter(spark, root)
    w.create(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(30)], "k long, v string"
        ).repartition(1).sortWithinPartitions("k")
    )
    w.delete_where_dv(F.col("k") % 5 == 0)
    ice_ids = {
        r["k"]: r["_row_id"]
        for r in read_iceberg(spark, root, with_lineage=True).collect()
    }
    w.optimize(num_files=1)  # purges the DVs, materializes the ids
    delta_log.author(spark, root, iceberg_meta.inventory)
    d = read_delta(spark, root)
    assert d.columns == ["k", "v"] and d.count() == 24
    d_ids = {
        r["k"]: r["_row_id"]
        for r in read_delta(spark, root, with_row_ids=True).collect()
    }
    assert d_ids == ice_ids
    with pytest.raises(FileExistsError):
        delta_log.author(spark, root, iceberg_meta.inventory)
    # identity-partitioned: pruning works through the Delta chain
    proot = str(tmp_path / "i2d_part")
    wp = IcebergWriter(spark, proot)
    wp.create(
        spark.createDataFrame(
            [(i, "a" if i % 2 == 0 else "b") for i in range(20)],
            "k long, grp string",
        ),
        partition_by=["grp"],
    )
    delta_log.author(spark, proot, iceberg_meta.inventory)
    assert read_delta(spark, proot, partitions={"grp": "a"}).count() == 10


def test_iceberg_to_delta_translates_deletes(spark, tmp_path):
    """The reverse of q_uniform_dv's direction: live v3 Puffin DVs and
    v2 position-delete files TRANSLATE to Delta DV files (shared
    roaring codec) — the converted table reads identically on both
    chains with zero data movement, composing with lineage."""
    from plankton_spark.sources.delta_log import DeltaLog, read_delta
    from plankton_spark.sources.iceberg_meta import (
        IcebergWriter,
        read_iceberg,
    )
    from plankton_spark.sources import delta_log, iceberg_meta

    dv_root = str(tmp_path / "i2d_dv")
    w = IcebergWriter(spark, dv_root)
    w.create(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(30)], "k long, v string"
        ).repartition(1).sortWithinPartitions("k")
    )
    w.delete_where_dv(F.col("k") % 5 == 0)
    ice = sorted(
        (r["k"], r["v"]) for r in read_iceberg(spark, dv_root).collect()
    )
    ice_ids = {
        r["k"]: r["_row_id"]
        for r in read_iceberg(spark, dv_root, with_lineage=True).collect()
    }
    delta_log.author(spark, dv_root, iceberg_meta.inventory)
    assert sorted(
        (r["k"], r["v"]) for r in read_delta(spark, dv_root).collect()
    ) == ice
    # lineage composes with the translated DVs (positions physical)
    assert {
        r["k"]: r["_row_id"]
        for r in read_delta(spark, dv_root, with_row_ids=True).collect()
    } == ice_ids
    st = DeltaLog(dv_root).replay(None)
    assert "deletionVectors" in (st.protocol or {}).get(
        "readerFeatures", []
    )
    # v2 position deletes translate through the same path
    p_root = str(tmp_path / "i2d_pos")
    wp = IcebergWriter(spark, p_root)
    wp.create(
        spark.createDataFrame(
            [(i, i * 2) for i in range(25)], "k long, v long"
        ).repartition(1).sortWithinPartitions("k")
    )
    wp.delete_where_pos(F.col("k") % 7 == 0)
    want = sorted(r["k"] for r in read_iceberg(spark, p_root).collect())
    delta_log.author(spark, p_root, iceberg_meta.inventory)
    assert sorted(r["k"] for r in read_delta(spark, p_root).collect()) == want


def test_iceberg_to_delta_refusals(spark, tmp_path):
    """Refuse-don't-corrupt: equality deletes (sequence semantics have
    no Delta representation) and transform partitions refuse; the
    planktable arrow refuses ANY live delete."""
    from plankton_spark.sources.iceberg_meta import IcebergWriter
    from plankton_spark import table_format
    from plankton_spark.sources import delta_log, iceberg_meta

    eq_root = str(tmp_path / "i2d_eq")
    w = IcebergWriter(spark, eq_root)
    w.create(
        spark.createDataFrame([(i, "x") for i in range(20)],
                              "k long, v string")
    )
    w.delete_where_eq(spark.createDataFrame([(3,)], "k long"))
    with pytest.raises(ValueError, match="row-level deletes"):
        delta_log.author(spark, eq_root, iceberg_meta.inventory)
    b_root = str(tmp_path / "i2d_bucket")
    wb = IcebergWriter(spark, b_root)
    wb.create(
        spark.createDataFrame([(i, "x") for i in range(20)],
                              "k long, v string"),
        partition_by=["bucket(4,k)"],
    )
    with pytest.raises(ValueError, match="transform-partitioned"):
        delta_log.author(spark, b_root, iceberg_meta.inventory)
    pdv_root = str(tmp_path / "i2p_dv")
    wd = IcebergWriter(spark, pdv_root)
    wd.create(
        spark.createDataFrame([(i, "x") for i in range(10)],
                              "k long, v string")
    )
    wd.delete_where_dv(F.col("k") < 2)
    with pytest.raises(ValueError, match="row-level deletes"):
        table_format.author(spark, pdv_root, iceberg_meta.inventory)


def test_iceberg_to_planktable_roundtrip_and_refusals(spark, tmp_path):
    from plankton_spark.sources.iceberg_meta import IcebergWriter
    from plankton_spark import table_format
    from plankton_spark.sources import iceberg_meta
    from plankton_spark.table_format import PlankTable

    root = str(tmp_path / "i2p")
    w = IcebergWriter(spark, root)
    w.create(spark.createDataFrame([(i, i * 2) for i in range(25)],
                                   "k long, v long"))
    table_format.author(spark, root, iceberg_meta.inventory)
    pt = PlankTable(spark, root)
    assert pt.read().count() == 25
    assert sorted(r["k"] for r in pt.read().collect()) == list(range(25))
    with pytest.raises(FileExistsError):
        table_format.author(spark, root, iceberg_meta.inventory)
    # identity-partitioned refuses: files omit the source column
    proot = str(tmp_path / "i2p_part")
    wp = IcebergWriter(spark, proot)
    wp.create(
        spark.createDataFrame(
            [(i, "a" if i % 2 == 0 else "b") for i in range(10)],
            "k long, grp string",
        ),
        partition_by=["grp"],
    )
    with pytest.raises(ValueError, match="file-derived schema"):
        table_format.author(spark, proot, iceberg_meta.inventory)
