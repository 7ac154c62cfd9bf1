"""Delta generated columns: write-time materialization, append
enforcement, schemaString metadata, and protocol versioning."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from plankton_spark.io import read_table
from tests.conftest import SF0001


def _base(spark):
    return (
        read_table(spark, SF0001, "orders")
        .select("o_orderkey", "o_totalprice")
        .where(F.col("o_orderkey") < 300)
    )


def _create(spark, tmp_path):
    from plankton_spark.sources.delta_log import DeltaLogWriter

    root = str(tmp_path / "g")
    w = DeltaLogWriter(spark, root)
    w.create(
        _base(spark),
        generated={"price_cents": "CAST(ROUND(o_totalprice * 100) AS BIGINT)"},
    )
    return root, w


def test_create_materializes_and_records_expression(spark, tmp_path):
    from plankton_spark.sources.delta_log import DeltaLog, read_delta

    root, w = _create(spark, tmp_path)
    out = read_delta(spark, root)
    assert "price_cents" in out.columns
    assert out.where(
        ~F.col("price_cents").eqNullSafe(
            F.round(F.col("o_totalprice") * 100).cast("long")
        )
    ).count() == 0
    schema = DeltaLog(root).replay(None).schema
    f = schema["price_cents"]
    assert (
        f.metadata["delta.generationExpression"]
        == "CAST(ROUND(o_totalprice * 100) AS BIGINT)"
    )
    # protocol: generatedColumns legacy writer version
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json")) as fh:
        actions = [json.loads(x) for x in fh if x.strip()]
    prot = next(a["protocol"] for a in actions if "protocol" in a)
    assert prot["minWriterVersion"] >= 4


def test_append_materializes_missing_generated(spark, tmp_path):
    from plankton_spark.sources.delta_log import read_delta

    root, w = _create(spark, tmp_path)
    extra = _base(spark).withColumn(
        "o_orderkey", F.col("o_orderkey") + 1000000
    )
    w.append(extra)  # no price_cents supplied
    out = read_delta(spark, root).where(F.col("o_orderkey") >= 1000000)
    assert out.count() == extra.count()
    assert out.where(
        ~F.col("price_cents").eqNullSafe(
            F.round(F.col("o_totalprice") * 100).cast("long")
        )
    ).count() == 0


def test_append_accepts_consistent_supplied_values(spark, tmp_path):
    root, w = _create(spark, tmp_path)
    ok = (
        _base(spark)
        .withColumn("o_orderkey", F.col("o_orderkey") + 2000000)
        .withColumn(
            "price_cents", F.round(F.col("o_totalprice") * 100).cast("long")
        )
    )
    w.append(ok)  # must not raise


def test_append_refuses_contradicting_values(spark, tmp_path):
    root, w = _create(spark, tmp_path)
    bad = (
        _base(spark)
        .withColumn("o_orderkey", F.col("o_orderkey") + 3000000)
        .withColumn("price_cents", F.lit(0).cast("long"))
    )
    with pytest.raises(ValueError, match="contradict"):
        w.append(bad)


def test_create_refuses_supplied_generated_column(spark, tmp_path):
    from plankton_spark.sources.delta_log import DeltaLogWriter

    root = str(tmp_path / "clash")
    df = _base(spark).withColumn("price_cents", F.lit(1).cast("long"))
    with pytest.raises(ValueError, match="must\nnot be supplied|must not be supplied"):
        DeltaLogWriter(spark, root).create(
            df, generated={"price_cents": "CAST(1 AS BIGINT)"}
        )


def test_merge_schema_evolution(spark, tmp_path):
    """MERGE WITH SCHEMA EVOLUTION: source-only columns widen the
    target; survivors and untouched files read them as null; table
    configuration survives the evolution commit."""
    from plankton_spark.sources.delta_log import DeltaLog, DeltaLogWriter, read_delta

    root = str(tmp_path / "mevo")
    base = _base(spark)
    w = DeltaLogWriter(spark, root)
    w.create(base)
    w.add_constraint("pos", "o_totalprice > 0")
    src = (
        base.where(F.col("o_orderkey") % 2 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1)
        .withColumn("flag", F.lit("merged"))
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="merge_schema"):
        w.merge(src, "o_orderkey")
    w.merge(src, "o_orderkey", merge_schema=True)
    out = read_delta(spark, root)
    assert "flag" in out.columns
    merged = out.where(F.col("o_orderkey") % 2 == 0)
    kept = out.where(F.col("o_orderkey") % 2 != 0)
    assert merged.where(F.col("flag") != "merged").count() == 0
    assert kept.where(F.col("flag").isNotNull()).count() == 0
    assert out.count() == base.count()
    # configuration (constraints) survived the evolution commit
    st = DeltaLog(root).replay(None)
    assert "delta.constraints.pos" in st.config


def test_append_evolution_keeps_configuration(spark, tmp_path):
    """Regression (round-8 review): ADD-column evolution used to
    write a metaData action WITHOUT configuration, silently dropping
    CHECK constraints and every table property."""
    from plankton_spark.sources.delta_log import DeltaLog, DeltaLogWriter

    root = str(tmp_path / "cfgkeep")
    base = _base(spark)
    w = DeltaLogWriter(spark, root)
    w.create(base)
    w.add_constraint("pos", "o_totalprice > 0")
    w.append(base.withColumn("extra", F.lit(1).cast("long")), merge_schema=True)
    st = DeltaLog(root).replay(None)
    assert st.config.get("delta.constraints.pos") == "o_totalprice > 0"
    # and the constraint still ENFORCES after evolution
    import pytest as _pytest

    bad = base.withColumn("o_totalprice", F.lit(-1.0)).withColumn(
        "extra", F.lit(2).cast("long")
    )
    with _pytest.raises(Exception, match="pos|constraint|CHECK"):
        w.append(bad)


def test_overwrite_schema_replacement_keeps_configuration(spark, tmp_path):
    """Same bug class as append evolution: a schema-replacing
    OVERWRITE's metaData action must carry the configuration."""
    from plankton_spark.sources.delta_log import DeltaLog, DeltaLogWriter

    root = str(tmp_path / "ovw")
    base = _base(spark)
    w = DeltaLogWriter(spark, root)
    w.create(base)
    w.add_constraint("pos", "o_totalprice > 0")
    w.overwrite(base.withColumn("tag", F.lit("v2")))
    st = DeltaLog(root).replay(None)
    assert st.config.get("delta.constraints.pos") == "o_totalprice > 0"
