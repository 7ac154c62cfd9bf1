"""update_where on all three formats: NULL-predicate retention,
partition-column refusal, file-level minimality, appendOnly gate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from plankton_spark.io import read_table
from tests.conftest import SF0001


def _slice(spark):
    return (
        read_table(spark, SF0001, "orders")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .where(F.col("o_orderkey") < 400)
    )


def test_null_predicate_rows_not_updated(spark, tmp_path):
    """SQL UPDATE semantics: a NULL-evaluating predicate row keeps its
    value (a bare WHEN would also hit it through OTHERWISE — pinned
    with a nullable condition)."""
    from plankton_spark.sources.delta_log import DeltaLogWriter, read_delta

    rows = [(1, "A", 10, 5), (2, "B", 20, None), (3, "A", 30, 1)]
    df = spark.createDataFrame(
        rows, "id long, status string, cents long, flag long"
    )
    root = str(tmp_path / "n")
    w = DeltaLogWriter(spark, root)
    w.create(df)
    # condition NULL for id=2 (flag is NULL) → must stay 20
    w.update_where({"cents": F.col("cents") + 100}, F.col("flag") > 2)
    got = {r["id"]: r["cents"] for r in read_delta(spark, root).collect()}
    assert got == {1: 110, 2: 20, 3: 30}


def test_partition_column_refused_and_unknown_column(spark, tmp_path):
    from plankton_spark.sources.delta_log import DeltaLogWriter

    root = str(tmp_path / "p")
    w = DeltaLogWriter(spark, root)
    w.create(_slice(spark), partition_by=["o_orderstatus"])
    with pytest.raises(ValueError, match="partition columns"):
        w.update_where({"o_orderstatus": F.lit("X")}, F.lit(True))
    with pytest.raises(ValueError, match="unknown columns"):
        w.update_where({"nope": F.lit(1)}, F.lit(True))


def test_untouched_files_not_rewritten(spark, tmp_path):
    """Files without matches keep their add actions (no restage)."""
    import json
    import os

    from plankton_spark.sources.delta_log import DeltaLog, DeltaLogWriter

    root = str(tmp_path / "m")
    w = DeltaLogWriter(spark, root)
    # two files split by status via partitioning
    w.create(_slice(spark), partition_by=["o_orderstatus"])
    before = DeltaLog(root).replay(None).active
    w.update_where(
        {"cents": F.col("cents") + 1}, F.col("o_orderstatus") == "F"
    )
    after = DeltaLog(root).replay(None).active
    untouched_before = {p for p in before if "o_orderstatus=F" not in p}
    untouched_after = {p for p in after if "o_orderstatus=F" not in p}
    assert untouched_before == untouched_after  # same physical files
    assert {p for p in after if "o_orderstatus=F" in p} != {
        p for p in before if "o_orderstatus=F" in p
    }


def test_append_only_blocks_update(spark, tmp_path):
    from plankton_spark.sources.delta_log import (
        DeltaLogWriter,
        DeltaProtocolError,
    )

    root = str(tmp_path / "ao")
    w = DeltaLogWriter(spark, root)
    w.create(_slice(spark))
    w.set_property("delta.appendOnly", "true")
    with pytest.raises(DeltaProtocolError, match="appendOnly"):
        w.update_where({"cents": F.lit(0)}, F.lit(True))


def test_iceberg_and_planktable_update_match(spark, tmp_path):
    from plankton_spark.sources.iceberg_meta import IcebergWriter, read_iceberg
    from plankton_spark.table_format import PlankTable

    o = _slice(spark)
    expect = {
        r["o_orderkey"]: r["cents"] + (1000 if r["o_orderstatus"] == "O" else 0)
        for r in o.collect()
    }
    iroot, proot = str(tmp_path / "i"), str(tmp_path / "pk")
    iw = IcebergWriter(spark, iroot)
    iw.create(o)
    iw.update_where(
        {"cents": F.col("cents") + 1000}, F.col("o_orderstatus") == "O"
    )
    got_i = {
        r["o_orderkey"]: r["cents"]
        for r in read_iceberg(spark, iroot).collect()
    }
    pt = PlankTable(spark, proot)
    pt.create(o)
    pt.update_where(
        {"cents": F.col("cents") + 1000}, F.col("o_orderstatus") == "O"
    )
    got_p = {r["o_orderkey"]: r["cents"] for r in pt.read().collect()}
    assert got_i == expect
    assert got_p == expect


def test_update_where_dv_masks_and_appends(spark, tmp_path):
    """DV-accelerated UPDATE: result equals the rewrite-based update,
    the original files stay LIVE (masked, not removed-for-rewrite),
    and OPTIMIZE afterwards purges the DVs with values intact."""
    import json
    import os

    from plankton_spark.sources.delta_log import (
        DeltaLog,
        DeltaLogWriter,
        read_delta,
    )

    o = _slice(spark)
    expect = {
        r["o_orderkey"]: r["cents"] + (1000 if r["o_orderstatus"] == "O" else 0)
        for r in o.collect()
    }
    root = str(tmp_path / "dvu")
    w = DeltaLogWriter(spark, root)
    w.create(o)
    before = DeltaLog(root).replay(None).active
    w.update_where_dv(
        {"cents": F.col("cents") + 1000}, F.col("o_orderstatus") == "O"
    )
    got = {
        r["o_orderkey"]: r["cents"] for r in read_delta(spark, root).collect()
    }
    assert got == expect
    after = DeltaLog(root).replay(None).active
    # original file paths still live, now carrying DVs; plus new adds
    assert set(before) <= set(after)
    assert any(a.get("deletionVector") for a in after.values())
    assert len(after) > len(before)
    # protocol gained the deletionVectors feature
    with open(os.path.join(root, "_delta_log", f"{1:020d}.json")) as fh:
        actions = [json.loads(x) for x in fh if x.strip()]
    prot = next((a["protocol"] for a in actions if "protocol" in a), None)
    assert prot and "deletionVectors" in prot["readerFeatures"]
    # compaction purges the DVs, values preserved
    w.optimize()
    got2 = {
        r["o_orderkey"]: r["cents"] for r in read_delta(spark, root).collect()
    }
    assert got2 == expect
    final = DeltaLog(root).replay(None).active
    assert not any(a.get("deletionVector") for a in final.values())


def test_update_where_dv_null_predicate_and_noop(spark, tmp_path):
    from plankton_spark.sources.delta_log import DeltaLog, DeltaLogWriter, read_delta

    rows = [(1, "A", 10, 5), (2, "B", 20, None)]
    df = spark.createDataFrame(
        rows, "id long, status string, cents long, flag long"
    )
    root = str(tmp_path / "dvn")
    w = DeltaLogWriter(spark, root)
    w.create(df)
    w.update_where_dv({"cents": F.col("cents") + 100}, F.col("flag") > 2)
    got = {r["id"]: r["cents"] for r in read_delta(spark, root).collect()}
    assert got == {1: 110, 2: 20}
    v_before = DeltaLog(root).latest_version()
    # no-match update is a no-op: no version bump
    assert w.update_where_dv({"cents": F.lit(0)}, F.col("flag") > 999) is None
    assert DeltaLog(root).latest_version() == v_before
