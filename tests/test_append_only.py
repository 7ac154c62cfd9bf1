"""delta.appendOnly enforcement + the generic TBLPROPERTIES surface."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from plankton_spark.io import read_table
from tests.conftest import SF0001


def _make(spark, tmp_path):
    from plankton_spark.sources.delta_log import DeltaLogWriter

    root = str(tmp_path / "ao")
    o = read_table(spark, SF0001, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).where(F.col("o_orderkey") < 400)
    w = DeltaLogWriter(spark, root)
    w.create(o)
    return root, w, o


def test_append_only_blocks_row_removal_allows_appends(spark, tmp_path):
    from plankton_spark.sources.delta_log import DeltaProtocolError, read_delta

    root, w, o = _make(spark, tmp_path)
    w.set_property("delta.appendOnly", "true")
    n0 = read_delta(spark, root).count()
    w.append(o.limit(20))  # appends stay legal
    assert read_delta(spark, root).count() == n0 + 20

    for op in (
        lambda: w.delete_where(F.col("o_orderkey") % 2 == 0),
        lambda: w.delete_where_dv(F.col("o_orderkey") % 2 == 0),
        lambda: w.overwrite(o.limit(5)),
        lambda: w.merge(o.limit(5), "o_orderkey"),
        lambda: w.replace_where(
            o.where(F.col("o_orderstatus") == "F"),
            F.col("o_orderstatus") == "F",
        ),
    ):
        with pytest.raises(DeltaProtocolError, match="appendOnly"):
            op()
    # nothing was removed by the refused attempts
    assert read_delta(spark, root).count() == n0 + 20


def test_unset_reenables_and_properties_roundtrip(spark, tmp_path):
    from plankton_spark.sources.delta_log import DeltaLog

    root, w, o = _make(spark, tmp_path)
    w.set_property("delta.appendOnly", "true")
    w.set_property("team.owner", "data-eng")
    st = DeltaLog(root).replay(None)
    assert st.config["delta.appendOnly"] == "true"
    assert st.config["team.owner"] == "data-eng"
    w.unset_property("delta.appendOnly")
    w.delete_where(F.col("o_orderkey") % 2 == 0)  # legal again
    st2 = DeltaLog(root).replay(None)
    assert "delta.appendOnly" not in st2.config
    assert st2.config["team.owner"] == "data-eng"
    with pytest.raises(ValueError, match="no property"):
        w.unset_property("delta.appendOnly")


def test_constraint_keys_routed_to_add_constraint(spark, tmp_path):
    root, w, o = _make(spark, tmp_path)
    with pytest.raises(ValueError, match="add_constraint"):
        w.set_property("delta.constraints.x", "o_totalprice > 0")


def test_optimize_stays_legal_on_append_only(spark, tmp_path):
    """OPTIMIZE preserves rows (dataChange=false) — the spec allows it
    on append-only tables."""
    from plankton_spark.sources.delta_log import read_delta

    root, w, o = _make(spark, tmp_path)
    w.append(o.limit(10))
    w.set_property("delta.appendOnly", "true")
    n0 = read_delta(spark, root).count()
    w.optimize()
    assert read_delta(spark, root).count() == n0


def test_iceberg_properties_roundtrip(spark, tmp_path):
    """The TBLPROPERTIES trio's third format: Iceberg properties map
    set/unset via metadata-only commits."""
    from plankton_spark.sources.iceberg_meta import IcebergTable, IcebergWriter

    root = str(tmp_path / "iprops")
    o = read_table(spark, SF0001, "orders").select(
        "o_orderkey", "o_orderstatus"
    ).where(F.col("o_orderkey") < 200)
    w = IcebergWriter(spark, root)
    w.create(o)
    v0 = IcebergTable(root).metadata_version
    w.set_property("commit.retry.num-retries", "7")
    w.set_property("team.owner", "data-eng")
    t = IcebergTable(root)
    assert t.properties() == {
        "commit.retry.num-retries": "7",
        "team.owner": "data-eng",
    }
    assert t.metadata_version == v0 + 2  # metadata-only commits
    # snapshots untouched (no data commit)
    assert len(t.snapshots()) == 1
    w.unset_property("team.owner")
    assert IcebergTable(root).properties() == {
        "commit.retry.num-retries": "7"
    }
    with pytest.raises(ValueError, match="no property"):
        w.unset_property("team.owner")
