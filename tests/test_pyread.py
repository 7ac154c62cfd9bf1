"""The Python DataSource shell (plankton_spark/sources/pyread.py): the
one Arrow conform, the offsets each format's stream keeps, the
kernels' independence from the format modules, and the reads that
go through the shell — renamed columns in both change feeds, and a
PlankTable read that opens no footer on a log that records its
schema."""

from __future__ import annotations

import ast
import glob
import json
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from plankton_spark.sources import pyread

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ids(names_ids):
    return pa.schema(
        [
            pa.field(n, t, metadata={b"PARQUET:field_id": str(i).encode()})
            for n, t, i in names_ids
        ]
    )


@pytest.mark.parametrize(
    "batch_schema, resolve, pv, consts, mask, want",
    [
        # by name; `s` missing → nulls; partition value cast from its string
        (pa.schema([("k", pa.int64())]), pyread.by_name, {"p": "7"}, {}, None,
         {"k": [1, 2], "s": [None, None], "p": [7, 7]}),
        # the default partition (None) reads as null
        (pa.schema([("k", pa.int64())]), pyread.by_name, {"p": None}, {}, None,
         {"k": [1, 2], "s": [None, None], "p": [None, None]}),
        # Delta physical names
        (pa.schema([("col-a", pa.int64()), ("col-b", pa.string())]),
         pyread.by_physical({"k": "col-a", "s": "col-b"}), {}, {}, None,
         {"k": [1, 2], "s": ["x", "y"], "p": [None, None]}),
        # Iceberg field ids: the file's old names resolve by id
        (_ids([("old_k", pa.int64(), 1), ("old_s", pa.string(), 2)]),
         pyread.by_field_id({"k": 1, "s": 2, "p": 3}), {}, {}, None,
         {"k": [1, 2], "s": ["x", "y"], "p": [None, None]}),
        # an id-carrying file never falls back to a same-named column
        (_ids([("k", pa.int64(), 9), ("s", pa.string(), 2)]),
         pyread.by_field_id({"k": 1, "s": 2}), {}, {}, None,
         {"k": [None, None], "s": ["x", "y"], "p": [None, None]}),
        # constants win over the file; the mask keeps rows
        (pa.schema([("k", pa.int64()), ("s", pa.string())]), pyread.by_name,
         {}, {"s": "insert", "p": 5}, [False, True],
         {"k": [2], "s": ["insert"], "p": [5]}),
    ],
)
def test_conform(batch_schema, resolve, pv, consts, mask, want):
    cols = {
        pa.types.is_integer: pa.array([1, 2], pa.int64()),
        pa.types.is_string: pa.array(["x", "y"]),
    }
    batch = pa.RecordBatch.from_arrays(
        [next(v for test, v in cols.items() if test(f.type)) for f in batch_schema],
        schema=batch_schema,
    )
    target = pa.schema([("k", pa.int64()), ("s", pa.string()), ("p", pa.int32())])
    out = pyread.conform(
        batch, target, resolve, pv, consts, None if mask is None else pa.array(mask)
    )
    assert out.schema == target
    assert out.to_pydict() == want


def _imports(path: str) -> set[str]:
    mods = set()
    for node in ast.walk(ast.parse(open(path).read())):
        if isinstance(node, ast.Import):
            mods.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            mods.add(node.module)
            mods.update(f"{node.module}.{a.name}" for a in node.names)
    return mods


FORMAT_MODULES = {
    "plankton_spark.table_format",
    *(
        f"plankton_spark.sources.{m}"
        for m in (
            "delta_log", "iceberg_meta", "hudi_meta", "hudi_log",
            "planktable_ds", "deletion_vectors", "puffin",
        )
    ),
}


@pytest.mark.parametrize("kernel", ["rewrite", "positions", "stage", "pyread"])
def test_kernels_import_no_format_module(kernel):
    path = os.path.join(ROOT, "plankton_spark", "sources", f"{kernel}.py")
    assert not _imports(path) & FORMAT_MODULES


def _df(spark, rows, ddl="k long, v long"):
    return spark.createDataFrame(rows, ddl).coalesce(1)


def test_stream_offsets_keep_their_json(spark, tmp_path):
    """The version-keyed streams keep their offset JSON and resume
    after the version a checkpointed offset names. The snapshot-id and
    instant-time offsets, legacy forms included, are pinned by
    test_iceberg_interop.py::test_stream_offsets_keyed_on_snapshot_id,
    test_cdf.py::test_icebergcdf_offsets_are_snapshot_id_keyed and
    test_hudi.py::test_hudiincr_offset_shapes."""
    from plankton_spark.sources.delta_log import (
        DeltaCdfStreamReader,
        DeltaLogStreamReader,
        DeltaLogWriter,
    )
    from plankton_spark.sources.planktable_ds import PlankTableStreamReader
    from plankton_spark.table_format import PlankTable

    first, second = [(1, 10)], [(2, 20)]
    pt = str(tmp_path / "pt")
    PlankTable(spark, pt).create(_df(spark, first))
    PlankTable(spark, pt).append(_df(spark, second))
    dl = str(tmp_path / "dl")
    w = DeltaLogWriter(spark, dl)
    w.create(_df(spark, first), change_data_feed=True)
    w.append(_df(spark, second))
    for r in (PlankTableStreamReader(pt, False), DeltaLogStreamReader(dl, ignore_changes=False)):
        assert (r.initialOffset(), r.latestOffset()) == ({"version": -1}, {"version": 1})
        assert len(r.partitions({"version": 0}, r.latestOffset())) == 1
    r = DeltaCdfStreamReader(dl, 1)
    assert (r.initialOffset(), r.latestOffset()) == ({"version": 0}, {"version": 1})
    assert [p.consts for p in r.partitions(r.initialOffset(), r.latestOffset())] == [
        {"_commit_version": 1, "_change_type": "insert"}
    ]


def _drain(spark, fmt: str, root: str, tmp_path) -> list[tuple]:
    name = f"feed_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format(fmt)
        .option("path", root)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / name))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return sorted((r["k"], r["w"]) for r in spark.table(name).collect())


def test_deltacdf_reads_column_mapped_columns(spark, tmp_path):
    """After a rename enables column mapping, the change feed resolves
    every file through the physical names, as read_delta does."""
    from plankton_spark.sources.delta_log import DeltaLogWriter, read_delta, register

    register(spark)
    root = str(tmp_path / "d")
    w = DeltaLogWriter(spark, root)
    w.create(_df(spark, [(1, 10), (2, 20)]), change_data_feed=True)
    w.rename_column("v", "w")
    w.append(_df(spark, [(3, 30)], "k long, w long"))
    want = [(1, 10), (2, 20), (3, 30)]
    assert sorted(tuple(r) for r in read_delta(spark, root).collect()) == want
    assert _drain(spark, "deltacdf", root, tmp_path) == want


def test_icebergcdf_reads_renamed_columns_from_old_files(spark, tmp_path):
    """The Iceberg change feed resolves columns by field id, so files
    written before a rename read their values, as iceberglog does."""
    from plankton_spark.sources.iceberg_meta import IcebergWriter, register

    register(spark)
    root = str(tmp_path / "i")
    w = IcebergWriter(spark, root)
    w.create(_df(spark, [(1, 10), (2, 20)]))
    w.rename_column("v", "w")
    w.append(_df(spark, [(3, 30)], "k long, w long"))
    want = [(1, 10), (2, 20), (3, 30)]
    assert _drain(spark, "iceberglog", root, tmp_path) == want
    assert _drain(spark, "icebergcdf", root, tmp_path) == want


def _read_all(source) -> list[dict]:
    schema = source.schema()
    reader = source.reader(schema)
    return sorted(
        (row for p in reader.partitions() for b in reader.read(p) for row in b.to_pylist()),
        key=lambda r: r["k"],
    )


def test_planktable_source_reads_footers_on_the_driver_only(spark, tmp_path, monkeypatch):
    """The source takes its schema from the log and ships it to the
    tasks: no footer read per read. Only a log written before commits
    recorded their schema unions the footers, once, on the driver."""
    from plankton_spark.sources.planktable_ds import PlankTableDataSource
    from plankton_spark.table_format import PlankTable

    root = str(tmp_path / "pt")
    t = PlankTable(spark, root)
    t.create(_df(spark, [(0, 0)]))
    for k in range(1, 4):
        t.append(_df(spark, [(k, k * 10)]))
    want = [{"k": k, "v": k * 10} for k in range(4)]
    reads: list[str] = []
    real = pq.read_schema
    monkeypatch.setattr(pq, "read_schema", lambda f, *a, **k: reads.append(f) or real(f, *a, **k))
    assert _read_all(PlankTableDataSource({"path": root})) == want
    assert reads == []
    for vf in glob.glob(os.path.join(root, "_log", "*.json")):
        with open(vf) as f:
            commit = json.load(f)
        commit.pop("schema", None)
        with open(vf, "w") as f:
            json.dump(commit, f)
    assert PlankTable(spark, root).schema() is None
    assert _read_all(PlankTableDataSource({"path": root})) == want
    assert len(reads) == 4


@pytest.mark.parametrize(
    "module, source, message",
    [
        ("planktable_ds", "PlankTableDataSource", "planktable: 'path' option is required"),
        ("delta_log", "DeltaLogDataSource", "deltalog: 'path' option is required"),
        ("iceberg_meta", "IcebergDataSource", "iceberglog: 'path' option is required"),
        ("delta_log", "DeltaCdfDataSource", "deltacdf requires option 'path'"),
        ("iceberg_meta", "IcebergCdfDataSource", "icebergcdf requires option 'path'"),
        ("hudi_meta", "HudiIncrDataSource", "hudiincr requires option 'path'"),
    ],
)
def test_sources_refuse_a_missing_path(module, source, message):
    import importlib

    cls = getattr(importlib.import_module(f"plankton_spark.sources.{module}"), source)
    with pytest.raises(ValueError) as err:
        cls({}).schema()
    assert str(err.value) == message
