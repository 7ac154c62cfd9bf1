"""convert_delta_to_iceberg (UniForm-style dual metadata): same files,
two logs; tombstones invisible; refusals for DV'd / mapped tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from plankton_spark.io import read_table
from tests.conftest import SF0001


def _orders(spark):
    return (
        read_table(spark, SF0001, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .where(F.col("o_orderkey") < 500)
    )


def test_dual_metadata_equal_reads(spark, tmp_path):
    from plankton_spark.sources.delta_log import DeltaLogWriter, read_delta
    from plankton_spark.sources.iceberg_meta import read_iceberg
    from plankton_spark.sources import delta_log, iceberg_meta

    root = str(tmp_path / "d")
    w = DeltaLogWriter(spark, root)
    w.create(_orders(spark))
    # a rewrite creates tombstones the Iceberg snapshot must NOT see
    w.delete_where(F.col("o_orderkey") % 3 == 0)
    iceberg_meta.author(spark, root, delta_log.inventory)
    d = read_delta(spark, root).orderBy("o_orderkey").collect()
    i = read_iceberg(spark, root).orderBy("o_orderkey").collect()
    assert len(d) == len(i) > 0
    assert [r["o_orderkey"] for r in d] == [r["o_orderkey"] for r in i]
    assert all(r["o_orderkey"] % 3 != 0 for r in i)


def test_dual_metadata_partitioned(spark, tmp_path):
    from plankton_spark.sources.delta_log import DeltaLogWriter, read_delta
    from plankton_spark.sources.iceberg_meta import (
        IcebergTable,
        read_iceberg,
    )
    from plankton_spark.sources import delta_log, iceberg_meta

    root = str(tmp_path / "p")
    DeltaLogWriter(spark, root).create(
        _orders(spark), partition_by=["o_orderstatus"]
    )
    iceberg_meta.author(spark, root, delta_log.inventory)
    d = read_delta(spark, root)
    i = read_iceberg(spark, root)
    dd = {
        (r["o_orderstatus"], r["n"]): True
        for r in d.groupBy("o_orderstatus").agg(F.count("*").alias("n")).collect()
    }
    ii = {
        (r["o_orderstatus"], r["n"]): True
        for r in i.groupBy("o_orderstatus").agg(F.count("*").alias("n")).collect()
    }
    assert dd == ii
    # identity spec landed with the partition column
    t = IcebergTable(root)
    assert t.partition_fields() == ["o_orderstatus"]


def test_dv_table_translates_to_v3_puffin(spark, tmp_path):
    """A Delta table with live deletion vectors converts by
    TRANSLATION (round 9, replacing the old purge-first refusal): the
    Delta DV bitmaps re-encode as Iceberg v3 Puffin blobs (shared
    roaring codec, byte-compatible payloads), the metadata authors as
    format-version 3, and both formats read the SAME survivors from
    the SAME parquet — zero data movement."""
    from plankton_spark.sources.delta_log import DeltaLogWriter, read_delta
    from plankton_spark.sources.iceberg_meta import (
        IcebergTable,
        read_iceberg,
    )
    from plankton_spark.sources import delta_log, iceberg_meta

    root = str(tmp_path / "dv")
    w = DeltaLogWriter(spark, root)
    w.create(_orders(spark))
    w.delete_where_dv(F.col("o_orderkey") % 5 == 0)
    iceberg_meta.author(spark, root, delta_log.inventory)

    d = sorted(r["o_orderkey"] for r in read_delta(spark, root).collect())
    i = sorted(r["o_orderkey"] for r in read_iceberg(spark, root).collect())
    assert d == i and d and all(k % 5 != 0 for k in d)
    t = IcebergTable(root)
    assert t.metadata["format-version"] == 3
    _data, _pos, _eq, dv = t.scan_entries_full(None)
    assert dv and all(p.endswith(".puffin") for p, _r, _o, _s, _c in dv)


def test_refuses_mapped(spark, tmp_path):
    from plankton_spark.sources.delta_log import (
        DeltaLogWriter,
        DeltaProtocolError,
    )
    from plankton_spark.sources import delta_log, iceberg_meta

    root2 = str(tmp_path / "cm")
    w2 = DeltaLogWriter(spark, root2)
    w2.create(_orders(spark))
    w2.rename_column("o_totalprice", "price")
    with pytest.raises(DeltaProtocolError, match="column-mapped"):
        iceberg_meta.author(spark, root2, delta_log.inventory)


def test_refuses_double_convert(spark, tmp_path):
    from plankton_spark.sources.delta_log import DeltaLogWriter
    from plankton_spark.sources import delta_log, iceberg_meta

    root = str(tmp_path / "twice")
    DeltaLogWriter(spark, root).create(_orders(spark))
    iceberg_meta.author(spark, root, delta_log.inventory)
    with pytest.raises(FileExistsError):
        iceberg_meta.author(spark, root, delta_log.inventory)


def test_planktable_to_iceberg(spark, tmp_path):
    """Migration-matrix closure: planktable → Iceberg in place, live
    files only (a rewrite's dropped files stay invisible)."""
    from plankton_spark.sources.iceberg_meta import read_iceberg
    from plankton_spark import table_format
    from plankton_spark.sources import iceberg_meta
    from plankton_spark.table_format import PlankTable

    root = str(tmp_path / "pk")
    t = PlankTable(spark, root)
    o = _orders(spark)
    t.create(o)
    t.delete_where(F.col("o_orderkey") % 4 == 0)
    iceberg_meta.author(spark, root, table_format.inventory)
    i = read_iceberg(spark, root)
    p = t.read()
    assert i.count() == p.count() > 0
    assert (
        i.agg(F.sum("o_orderkey")).first()[0]
        == p.agg(F.sum("o_orderkey")).first()[0]
    )
    import pytest as _pytest

    with _pytest.raises(FileExistsError):
        iceberg_meta.author(spark, root, table_format.inventory)


def test_partitioned_dv_table_translates(spark, tmp_path):
    """Partitioned Delta table WITH deletion vectors → Iceberg v3:
    the identity spec lands AND the translated Puffin DVs subtract —
    both axes (partition re-attachment, DV anti-join) compose in the
    converted read."""
    from plankton_spark.sources.delta_log import DeltaLogWriter, read_delta
    from plankton_spark.sources.iceberg_meta import (
        IcebergTable,
        read_iceberg,
    )
    from plankton_spark.sources import delta_log, iceberg_meta

    root = str(tmp_path / "pdv")
    w = DeltaLogWriter(spark, root)
    w.create(_orders(spark), partition_by=["o_orderstatus"])
    w.delete_where_dv(F.col("o_orderkey") % 5 == 0)
    iceberg_meta.author(spark, root, delta_log.inventory)

    t = IcebergTable(root)
    assert t.metadata["format-version"] == 3
    assert t.partition_fields() == ["o_orderstatus"]
    d = sorted(
        (r["o_orderkey"], r["o_orderstatus"])
        for r in read_delta(spark, root).collect()
    )
    i = sorted(
        (r["o_orderkey"], r["o_orderstatus"])
        for r in read_iceberg(spark, root).collect()
    )
    assert d == i and d and all(k % 5 != 0 for k, _ in d)
