"""The staging kernel the four table formats share
(plankton_spark/sources/stage.py): one write job, one footer read per
part file, 0-row files dropped, hive directories decoded, every file
moved to the name its caller chooses and the temp dir removed."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from plankton_spark.sources import stage
from tests.test_metadata_jobs import _jobs


UNSAFE = "a b/c%d=e"


def test_partitioned_stage(spark, tmp_path, footer_opens):
    """A NULL key reads back as None and a URL-unsafe key verbatim;
    empty tasks leave no file behind; each staged footer is opened
    once, in the temp dir, which is gone afterwards."""
    root = str(tmp_path / "t")
    tmp = os.path.join(root, "_stage-x")
    # 8 slices over 4 rows: some tasks write nothing
    p = F.when(F.col("id") == 0, "x").when(F.col("id") >= 2, UNSAFE)
    df = spark.range(0, 4, 1, 8).select(F.col("id").alias("k"), p.alias("p"))
    staged, jobs = _jobs(
        spark,
        lambda: stage.write(df, tmp, root, stage.renamed("f-", "data"), ["p"]),
    )
    assert jobs == 1
    assert not os.path.exists(tmp)
    assert sorted({s.values["p"] or "" for s in staged}) == ["", UNSAFE, "x"]
    assert all(list(s.values) == ["p"] for s in staged)
    assert sum(s.meta.num_rows for s in staged) == 4
    assert all(s.meta.num_rows > 0 for s in staged)
    for s in staged:
        assert s.path.startswith("data" + os.sep)
        assert os.path.basename(s.path).startswith("f-")
        assert os.path.getsize(os.path.join(root, s.path)) == s.stat.st_size
        # partition column is in the directory, not the file
        assert pq.read_table(os.path.join(root, s.path)).column_names == ["k"]
    assert len(footer_opens) == len(set(footer_opens)) == len(staged)
    assert all(p.startswith(tmp + os.sep) for p in footer_opens)
    # the directory the caller placed each file in decodes the same way
    for s in staged:
        assert stage.hive_values(os.path.dirname(s.path)[len("data/"):]) == s.values


def test_empty_frame_stages_nothing(spark, tmp_path, footer_opens):
    """Spark writes one 0-row file for an empty frame: its footer is
    read once, the file is dropped and the temp dir removed."""
    root = str(tmp_path / "t")
    tmp = os.path.join(root, ".stage-x")
    empty = spark.createDataFrame([], "k long")
    dest = stage.renamed("f-")
    assert stage.write(empty, tmp, root, dest) == []
    assert len(footer_opens) == 1
    assert not os.path.exists(tmp)
    assert os.listdir(root) == []


def test_hive_values():
    assert stage.hive_values(".") == {} and stage.hive_values("") == {}
    assert stage.hive_values(
        os.path.join("a=1", "b=__HIVE_DEFAULT_PARTITION__", "c=x%2Fy%3D")
    ) == {"a": "1", "b": None, "c": "x/y="}
    with pytest.raises(ValueError, match="non-hive subdirectory 'raw'"):
        stage.hive_values(os.path.join("a=1", "raw"))
