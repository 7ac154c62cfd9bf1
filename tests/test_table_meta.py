"""files_meta metadata-table surfaces: DV correction on Delta, content
codes on Iceberg, and the record_count spec fix (partitioned creates
used to stamp the -1 sentinel)."""

from __future__ import annotations

from pyspark.sql import functions as F

from plankton_spark.io import read_table
from tests.conftest import SF0001


def test_delta_files_meta_dv_correction(spark, tmp_path):
    """After a DV delete, num_records must drop by the DV cardinality
    while the file path stays live (no rewrite)."""
    from plankton_spark.sources.delta_log import DeltaLogWriter, files_meta

    root = str(tmp_path / "t")
    o = read_table(spark, SF0001, "orders").select(
        "o_orderkey", "o_orderstatus"
    ).where(F.col("o_orderkey") < 500)
    n_total = o.count()
    w = DeltaLogWriter(spark, root)
    w.create(o)
    before = files_meta(spark, root)
    assert before.agg(F.sum("num_records")).first()[0] == n_total
    assert before.agg(F.sum("dv_cardinality")).first()[0] == 0

    n_del = o.where(F.col("o_orderkey") % 5 == 0).count()
    assert n_del > 0
    w.delete_where_dv(F.col("o_orderkey") % 5 == 0)
    after = files_meta(spark, root)
    assert after.agg(F.sum("num_records")).first()[0] == n_total - n_del
    assert after.agg(F.sum("dv_cardinality")).first()[0] == n_del
    # min/max bounds still present (conservative pre-delete bounds)
    r = after.select(F.col("min_values")["o_orderkey"]).first()[0]
    assert r is not None


def test_delta_files_meta_partition_values(spark, tmp_path):
    from plankton_spark.sources.delta_log import DeltaLogWriter, files_meta

    root = str(tmp_path / "p")
    o = read_table(spark, SF0001, "orders").select(
        "o_orderkey", "o_orderstatus"
    ).where(F.col("o_orderkey") < 500)
    DeltaLogWriter(spark, root).create(o, partition_by=["o_orderstatus"])
    fm = files_meta(spark, root)
    parts = {
        r[0] for r in fm.select(F.col("partition")["o_orderstatus"]).collect()
    }
    expect = {r[0] for r in o.select("o_orderstatus").distinct().collect()}
    assert parts == expect


def test_iceberg_files_meta_real_record_counts(spark, tmp_path):
    """Partitioned create must commit REAL record counts (spec
    requirement) — the -1 sentinel regression pin."""
    from plankton_spark.sources.iceberg_meta import IcebergWriter, files_meta

    root = str(tmp_path / "i")
    o = read_table(spark, SF0001, "orders").select(
        "o_orderkey", "o_orderstatus"
    ).where(F.col("o_orderkey") < 500)
    IcebergWriter(spark, root).create(o, partition_by=["o_orderstatus"])
    fm = files_meta(spark, root)
    rows = fm.collect()
    assert rows and all(r["record_count"] > 0 for r in rows)
    assert sum(r["record_count"] for r in rows) == o.count()


def test_iceberg_files_meta_content_codes(spark, tmp_path):
    """Equality-delete files must surface as content=2 entries with
    their own record counts and HIGHER sequence numbers than data."""
    from plankton_spark.sources.iceberg_meta import IcebergWriter, files_meta

    root = str(tmp_path / "e")
    o = read_table(spark, SF0001, "orders").select(
        "o_orderkey", "o_orderstatus"
    ).where(F.col("o_orderkey") < 500)
    w = IcebergWriter(spark, root)
    w.create(o)
    keys = o.where(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
    w.delete_where_eq(keys)
    fm = files_meta(spark, root).collect()
    data = [r for r in fm if r["content"] == 0]
    eq = [r for r in fm if r["content"] == 2]
    assert data and eq
    assert sum(r["record_count"] for r in eq) == keys.count()
    assert max(r["sequence_number"] for r in eq) > max(
        r["sequence_number"] for r in data
    )


def test_convert_in_place_real_record_counts(spark, tmp_path):
    """convert_to_iceberg inventories foreign parquet with real
    per-file counts (was -1)."""
    from plankton_spark.sources.iceberg_meta import files_meta
    from plankton_spark.sources import iceberg_meta
    from plankton_spark.sources.convert import hive_inventory

    src = str(tmp_path / "plain")
    o = read_table(spark, SF0001, "orders").select(
        "o_orderkey", "o_orderstatus"
    ).where(F.col("o_orderkey") < 300)
    o.coalesce(2).write.parquet(src)
    iceberg_meta.author(spark, src, hive_inventory)
    fm = files_meta(spark, src).collect()
    assert fm and all(r["record_count"] > 0 for r in fm)
    assert sum(r["record_count"] for r in fm) == o.count()


def test_iceberg_snapshot_summaries(spark, tmp_path):
    """Every snapshot carries the spec-required summary.operation,
    derived from the action: create/append → append, delete_where →
    overwrite (rewrite) or delete, optimize → replace."""
    from plankton_spark.sources.iceberg_meta import IcebergTable, IcebergWriter

    root = str(tmp_path / "summ")
    o = read_table(spark, SF0001, "orders").select(
        "o_orderkey", "o_orderstatus"
    ).where(F.col("o_orderkey") < 500)
    w = IcebergWriter(spark, root)
    w.create(o)
    w.append(o.limit(50))
    w.delete_where(F.col("o_orderkey") % 7 == 0)
    w.optimize()
    snaps = IcebergTable(root).snapshots()
    ops = [s.get("summary", {}).get("operation") for s in snaps]
    # create-path snapshot may predate summaries; all WRITER snapshots
    # from this session must carry one
    assert ops[1:] == ["append", "overwrite", "replace"]
