"""The window between a row-level verb's snapshot and its commit,
made deterministic: another writer commits while the verb stages its
files. A concurrent rewrite of a file the verb removes aborts the
verb and keeps the other writer's rows; a concurrent append is
rebased over and both commits survive."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from plankton_spark.sources.delta_log import (
    ConcurrentDeltaModification,
    DeltaLogWriter,
    read_delta,
)
from plankton_spark.sources.iceberg_meta import (
    IcebergConcurrentDelete,
    IcebergWriter,
    read_iceberg,
)

WRITERS = {
    "delta": (DeltaLogWriter, read_delta, ConcurrentDeltaModification),
    "iceberg": (IcebergWriter, read_iceberg, IcebergConcurrentDelete),
}


def _rows(spark, lo, hi):
    return spark.range(lo, hi, 1, 1).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


@pytest.mark.parametrize("other", ["rewrite", "append"])
@pytest.mark.parametrize("fmt", sorted(WRITERS))
def test_concurrent_commit_inside_the_verb(spark, tmp_path, monkeypatch, fmt, other):
    writer, read, conflict = WRITERS[fmt]
    path = str(tmp_path / fmt)
    verb, rival = writer(spark, path), writer(spark, path)
    verb.create(_rows(spark, 0, 20))  # one data file
    stage = writer._stage

    def racing_stage(self, *a, **k):
        out = stage(self, *a, **k)
        if self is verb and not raced:
            raced.append(other)
            if other == "rewrite":  # rewrites the verb's one hit file
                rival.update_where({"v": F.col("v") + 1}, F.col("k") == 3)
            else:
                rival.append(_rows(spark, 100, 105))
        return out

    raced: list[str] = []
    monkeypatch.setattr(writer, "_stage", racing_stage)
    if other == "rewrite":
        with pytest.raises(conflict):
            verb.delete_where(F.col("k") % 2 == 0)
        want = [(k, k * 10 + (k == 3)) for k in range(20)]
    else:
        verb.delete_where(F.col("k") % 2 == 0)
        # rows appended after the verb's snapshot are not its to delete
        want = [(k, k * 10) for k in list(range(1, 20, 2)) + list(range(100, 105))]
    assert raced == [other]
    assert sorted((r.k, r.v) for r in read(spark, path).collect()) == want
