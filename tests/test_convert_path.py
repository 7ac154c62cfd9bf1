"""The one conversion path (`sources/convert.py`): every format reads its
table into one Inventory and authors a table from one. Pins the
renamed-column refusals every arrow shares, record counts taken from
source metadata instead of footers, the schema a planktable target
records, and the import boundary between the four format modules."""

from __future__ import annotations

import ast
import json
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from plankton_spark import table_format
from plankton_spark.sources import delta_log, hudi_meta, iceberg_meta
from plankton_spark.sources.delta_log import DeltaLogWriter, DeltaProtocolError
from plankton_spark.sources.hudi_meta import HudiWriter, read_hudi
from plankton_spark.sources.iceberg_meta import IcebergTable, IcebergWriter, read_iceberg

PKG = Path(__file__).resolve().parents[1] / "plankton_spark"
FORMAT_MODULES = {
    "plankton_spark.sources.delta_log": PKG / "sources" / "delta_log.py",
    "plankton_spark.sources.iceberg_meta": PKG / "sources" / "iceberg_meta.py",
    "plankton_spark.sources.hudi_meta": PKG / "sources" / "hudi_meta.py",
    "plankton_spark.table_format": PKG / "table_format.py",
}


def _renamed(spark, root, writer):
    """(k, v) rows (1, 10), (2, 20); rename v to w; append (3, 30)."""
    w = writer(spark, root)
    w.create(spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"))
    w.rename_column("v", "w")
    w.append(spark.createDataFrame([(3, 30)], "k long, w long"))


ARROWS = {
    "delta_to_hudi": (
        DeltaLogWriter,
        lambda s, r: hudi_meta.author(s, r, delta_log.inventory, record_key="k"),
        DeltaProtocolError,
        "column-mapped",
        ".hoodie",
    ),
    "iceberg_to_delta": (
        IcebergWriter,
        lambda s, r: delta_log.author(s, r, iceberg_meta.inventory),
        ValueError,
        "renamed",
        "_delta_log",
    ),
    "iceberg_to_planktable": (
        IcebergWriter,
        lambda s, r: table_format.author(s, r, iceberg_meta.inventory),
        ValueError,
        "renamed",
        "_log",
    ),
    "iceberg_to_hudi": (
        IcebergWriter,
        lambda s, r: hudi_meta.author(s, r, iceberg_meta.inventory, record_key="k"),
        ValueError,
        "renamed",
        ".hoodie",
    ),
}


@pytest.mark.parametrize("arrow", sorted(ARROWS))
def test_renamed_source_refuses(spark, tmp_path, arrow):
    """A file written before a rename holds the old column name; a
    name-based target would read it as NULL or as a stale column, so
    the source's inventory refuses and the target writes nothing."""
    writer, convert, exc, match, target_meta = ARROWS[arrow]
    root = str(tmp_path / arrow)
    _renamed(spark, root, writer)
    with pytest.raises(exc, match=match):
        convert(spark, root)
    assert not os.path.exists(os.path.join(root, target_meta))


def _delta_table(spark, root, n_files):
    DeltaLogWriter(spark, root).create(
        spark.range(0, 10 * n_files)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .repartition(n_files)
    )


def _record_counts(root):
    t = IcebergTable(root)
    return {
        os.path.basename(p): int(df["record_count"])
        for _m, df, p, _s, _f in t._live(None)
    }


def test_delta_to_iceberg_opens_no_footer(spark, tmp_path, footer_opens):
    """Each add's stats.numRecords is the manifest's record_count: a
    20-file Delta table converts to Iceberg with no footer read."""
    root = str(tmp_path / "d20")
    _delta_table(spark, root, 20)
    adds = delta_log.DeltaLog(root).replay(None).active
    assert len(adds) == 20
    footer_opens.clear()
    assert iceberg_meta.author(spark, root, delta_log.inventory) == 1
    assert footer_opens == []
    assert _record_counts(root) == {
        os.path.basename(rel): json.loads(a["stats"])["numRecords"]
        for rel, a in adds.items()
    }
    assert read_iceberg(spark, root).count() == 200


def test_add_without_stats_falls_back_to_its_footer(spark, tmp_path, footer_opens):
    """An add that records no stats (a foreign writer may omit them)
    costs exactly its own footer read."""
    root = str(tmp_path / "nostats")
    _delta_table(spark, root, 3)
    commit = os.path.join(root, "_delta_log", f"{0:020d}.json")
    actions = [json.loads(line) for line in open(commit)]
    bare = next(a["add"] for a in actions if "add" in a)
    bare.pop("stats")
    with open(commit, "w") as fh:
        fh.writelines(json.dumps(a) + "\n" for a in actions)
    footer_opens.clear()
    iceberg_meta.author(spark, root, delta_log.inventory)
    assert footer_opens == [os.path.join(root, bare["path"])]
    assert sum(_record_counts(root).values()) == 30
    assert read_iceberg(spark, root).count() == 30


def test_hudi_to_planktable_reads_logical_columns(spark, tmp_path):
    """A planktable target records the source's logical schema, so the
    Hudi meta columns its files keep stay out of planktable reads."""
    root = str(tmp_path / "h2p")
    w = HudiWriter(spark, root, record_key="k")
    w.create(spark.range(0, 20).select(F.col("id").alias("k"), F.lit("a").alias("s")))
    w.upsert(spark.range(15, 25).select(F.col("id").alias("k"), F.lit("b").alias("s")))
    want = sorted(tuple(r) for r in read_hudi(spark, root).select("k", "s").collect())
    assert table_format.author(spark, root, hudi_meta.inventory) == 0
    got = table_format.PlankTable(spark, root).read()
    assert got.columns == ["k", "s"]
    assert sorted(tuple(r) for r in got.collect()) == want


def _imports(tree):
    """Module names each import in `tree` names (for ``from a import b``
    both ``a`` and ``a.b``), with the import's line."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                yield a.name, node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module:
            yield node.module, node.lineno
            for a in node.names:
                yield f"{node.module}.{a.name}", node.lineno


def test_format_modules_do_not_import_each_other():
    """No function body in a format module imports another format
    module (a conversion composes them through `convert.Inventory`),
    and convert.py imports none of them."""
    bad = []
    for mod, path in FORMAT_MODULES.items():
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                bad += [
                    f"{path.name}:{line} {name}"
                    for name, line in _imports(fn)
                    if name in FORMAT_MODULES and name != mod
                ]
    convert = PKG / "sources" / "convert.py"
    bad += [
        f"convert.py:{line} {name}"
        for name, line in _imports(ast.parse(convert.read_text()))
        if name in FORMAT_MODULES
    ]
    assert bad == []
