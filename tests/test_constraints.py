"""Delta CHECK constraints (the spec's delta.constraints.<name>
config + minWriterVersion 3): added only when existing data passes,
enforced on every staged write (NULL passes, FALSE refuses — SQL
CHECK semantics), dropped cleanly, reverted by RESTORE, and blocking
renames (the expression binds current names)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from plankton_spark.sources.delta_log import (
    DeltaLog,
    DeltaLogWriter,
    DeltaProtocolError,
    read_delta,
)


def _k(spark, rows):
    return spark.createDataFrame(rows, "k long, price double")


def test_check_constraint_lifecycle(spark, tmp_path):
    root = str(tmp_path / "dl")
    w = DeltaLogWriter(spark, root)
    w.create(_k(spark, [(1, 10.0), (2, 20.0)]).coalesce(1))
    w.add_constraint("positive_price", "price > 0")
    assert w.constraints() == {"positive_price": "price > 0"}
    # protocol bumped so non-enforcing legacy writers refuse
    st = DeltaLog(root).replay(None)
    assert st.protocol["minWriterVersion"] >= 3
    # valid append passes; NULL passes (SQL CHECK: only FALSE violates)
    w.append(_k(spark, [(3, 30.0), (4, None)]).coalesce(1))
    assert read_delta(spark, root).count() == 4
    # violating append refuses, table unchanged
    with pytest.raises(ValueError, match="positive_price"):
        w.append(_k(spark, [(5, -1.0)]).coalesce(1))
    assert read_delta(spark, root).count() == 4
    # violating MERGE source refuses too (all writes stage)
    with pytest.raises(ValueError, match="positive_price"):
        w.merge(_k(spark, [(1, -5.0)]), "k")
    # drop, then the same write goes through
    w.drop_constraint("positive_price")
    w.append(_k(spark, [(5, -1.0)]).coalesce(1))
    assert read_delta(spark, root).count() == 5
    with pytest.raises(ValueError, match="no constraint"):
        w.drop_constraint("positive_price")


def test_check_constraint_validates_existing_rows(spark, tmp_path):
    root = str(tmp_path / "dl_bad")
    w = DeltaLogWriter(spark, root)
    w.create(_k(spark, [(1, -10.0)]).coalesce(1))
    with pytest.raises(ValueError, match="existing rows violate"):
        w.add_constraint("positive_price", "price > 0")
    assert w.constraints() == {}


def test_check_constraint_restore_and_rename_interplay(spark, tmp_path):
    root = str(tmp_path / "dl_rs")
    w = DeltaLogWriter(spark, root)
    w.create(_k(spark, [(1, 10.0)]).coalesce(1))       # v0
    w.add_constraint("positive_price", "price > 0")    # v1
    with pytest.raises(DeltaProtocolError, match="rename"):
        w.rename_column("price", "amount")
    # RESTORE to the pre-constraint version reverts the config —
    # the constraint is gone, the write goes through
    w.restore(0)
    assert w.constraints() == {}
    w.append(_k(spark, [(2, -1.0)]).coalesce(1))
    assert read_delta(spark, root).count() == 2


def test_not_null_invariant(spark, tmp_path):
    root = str(tmp_path / "dl_nn")
    w = DeltaLogWriter(spark, root)
    w.create(_k(spark, [(1, 10.0)]).coalesce(1))
    # existing NULLs block the invariant
    w.append(_k(spark, [(2, None)]).coalesce(1))
    with pytest.raises(ValueError, match="existing rows have NULL"):
        w.set_not_null("price")
    w.delete_where(F.col("price").isNull())
    w.set_not_null("price")
    # enforced on every staged write
    with pytest.raises(ValueError, match="NOT NULL"):
        w.append(_k(spark, [(3, None)]).coalesce(1))
    w.append(_k(spark, [(3, 30.0)]).coalesce(1))
    assert read_delta(spark, root).count() == 2
    # schema surfaces the invariant; drop releases it
    from plankton_spark.sources.delta_log import DeltaLog

    sch = DeltaLog(root).replay(None)[0]
    assert not next(f for f in sch.fields if f.name == "price").nullable
    w.drop_not_null("price")
    w.append(_k(spark, [(4, None)]).coalesce(1))
    assert read_delta(spark, root).count() == 3


def test_not_null_enforced_through_column_mapping(spark, tmp_path):
    """The review-caught bypass: after rename_column enables column
    mapping, staging frames carry PHYSICAL names — NOT NULL
    enforcement must translate the logical name or it silently never
    fires."""
    root = str(tmp_path / "dl_cm_nn")
    w = DeltaLogWriter(spark, root)
    w.create(_k(spark, [(1, 10.0)]).coalesce(1))
    w.rename_column("price", "amount")
    w.set_not_null("amount")
    with pytest.raises(ValueError, match="NOT NULL"):
        w.append(
            spark.createDataFrame([(2, None)], "k long, amount double")
            .coalesce(1)
        )
    w.append(
        spark.createDataFrame([(2, 20.0)], "k long, amount double")
        .coalesce(1)
    )
    assert read_delta(spark, root).count() == 2


# ---------------------------------------------------------------------
# planktable parity (properties + CHECK constraints)
# ---------------------------------------------------------------------


def test_planktable_properties_survive_expiry(spark, tmp_path):
    from plankton_spark.table_format import PlankTable

    t = PlankTable(spark, str(tmp_path / "pt_props"))
    t.create(spark.range(3).selectExpr("id AS k"))
    t.set_properties({"owner": "pipeline-a", "tier": "gold"})
    t.set_properties({"tier": None})  # unset
    assert t.properties() == {"owner": "pipeline-a"}
    # pre-expiry time travel sees the historical property state
    assert t.properties(version=1) == {"owner": "pipeline-a", "tier": "gold"}
    # survives log expiry via the checkpoint's meta fold
    for i in range(6):
        t.append(spark.range(i, i + 1).selectExpr("id AS k"))
    t.expire_log(keep_versions=2)
    assert t.properties() == {"owner": "pipeline-a"}


def test_planktable_check_constraints(spark, tmp_path):
    from plankton_spark.table_format import PlankTable

    t = PlankTable(spark, str(tmp_path / "pt_cons"))
    t.create(
        spark.createDataFrame([(1, 10.0), (2, None)], "k long, price double")
    )
    with pytest.raises(ValueError, match="existing rows violate"):
        t.add_constraint("pos", "price > 100")
    t.add_constraint("pos", "price > 0")  # NULL passes
    with pytest.raises(ValueError, match="pos"):
        t.append(spark.createDataFrame([(3, -1.0)], "k long, price double"))
    t.append(spark.createDataFrame([(3, 30.0)], "k long, price double"))
    with pytest.raises(ValueError, match="pos"):
        t.merge(
            spark.createDataFrame([(1, -5.0)], "k long, price double"), "k"
        )
    assert t.read().count() == 3
    t.drop_constraint("pos")
    t.append(spark.createDataFrame([(4, -1.0)], "k long, price double"))
    assert t.read().count() == 4
