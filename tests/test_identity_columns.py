"""Delta identity columns: distributed allocation, GENERATED ALWAYS
enforcement, high-water-mark advance, metadata keys, protocol."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from plankton_spark.io import read_table
from tests.conftest import SF0001


def _base(spark, lo=0, hi=300):
    return (
        read_table(spark, SF0001, "orders")
        .select("o_orderkey", "o_totalprice")
        .where((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi))
    )


def _create(spark, tmp_path, start=100, step=3):
    from plankton_spark.sources.delta_log import DeltaLogWriter

    root = str(tmp_path / "idt")
    w = DeltaLogWriter(spark, root)
    w.create(_base(spark), identity={"row_id": (start, step)})
    return root, w


def test_create_allocates_contiguous_ids(spark, tmp_path):
    from plankton_spark.sources.delta_log import DeltaLog, read_delta

    root, w = _create(spark, tmp_path)
    out = read_delta(spark, root)
    n = out.count()
    ids = sorted(r["row_id"] for r in out.select("row_id").collect())
    assert ids == [100 + 3 * k for k in range(n)]
    schema = DeltaLog(root).replay(None).schema
    md = schema["row_id"].metadata
    assert md["delta.identity.start"] == 100
    assert md["delta.identity.step"] == 3
    assert md["delta.identity.highWaterMark"] == 100 + 3 * (n - 1)
    assert md["delta.identity.allowExplicitInsert"] is False
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json")) as fh:
        actions = [json.loads(x) for x in fh if x.strip()]
    prot = next(a["protocol"] for a in actions if "protocol" in a)
    assert prot["minWriterVersion"] >= 6


def test_append_advances_watermark_without_collisions(spark, tmp_path):
    from plankton_spark.sources.delta_log import DeltaLog, read_delta

    root, w = _create(spark, tmp_path)
    w.append(_base(spark, 300, 400).drop("o_totalprice").withColumn(
        "o_totalprice", F.lit(1.0)
    ))
    w.append(_base(spark, 400, 500))
    out = read_delta(spark, root)
    ids = [r["row_id"] for r in out.select("row_id").collect()]
    assert len(ids) == len(set(ids)) == out.count()
    assert all((i - 100) % 3 == 0 for i in ids)
    schema = DeltaLog(root).replay(None).schema
    assert schema["row_id"].metadata["delta.identity.highWaterMark"] == max(ids)


def test_explicit_insert_refused(spark, tmp_path):
    from plankton_spark.sources.delta_log import DeltaProtocolError

    root, w = _create(spark, tmp_path)
    bad = _base(spark, 300, 320).withColumn("row_id", F.lit(1).cast("long"))
    with pytest.raises(DeltaProtocolError, match="GENERATED ALWAYS"):
        w.append(bad)


def test_negative_step(spark, tmp_path):
    from plankton_spark.sources.delta_log import DeltaLog, DeltaLogWriter, read_delta

    root = str(tmp_path / "neg")
    w = DeltaLogWriter(spark, root)
    w.create(_base(spark, 0, 100), identity={"row_id": (0, -2)})
    w.append(_base(spark, 100, 150))
    out = read_delta(spark, root)
    ids = [r["row_id"] for r in out.select("row_id").collect()]
    assert len(ids) == len(set(ids))
    assert all(i <= 0 and i % 2 == 0 for i in ids)
    schema = DeltaLog(root).replay(None).schema
    assert schema["row_id"].metadata["delta.identity.highWaterMark"] == min(ids)


def test_identity_survives_delete_rewrite(spark, tmp_path):
    """delete_where restages survivor rows VERBATIM — allocated ids
    must not change."""
    from plankton_spark.sources.delta_log import read_delta

    root, w = _create(spark, tmp_path)
    before = {
        r["o_orderkey"]: r["row_id"]
        for r in read_delta(spark, root).collect()
    }
    w.delete_where(F.col("o_orderkey") % 2 == 0)
    after = {
        r["o_orderkey"]: r["row_id"]
        for r in read_delta(spark, root).collect()
    }
    assert after and all(before[k] == v for k, v in after.items())
