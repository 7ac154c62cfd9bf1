"""Delta columnMapping (name mode) reads: physical parquet columns +
hive dirs + partitionValues keys rename to logical schema names in
one final projection (delta_log.column_mapping). ID mode, nested
mapped fields, and every physical-files access path (DSv2 wrapper,
writer rewrites) refuse instead of mis-resolving.

Assumption documented in column_mapping(): metaData.partitionColumns
carry LOGICAL names (they reference schema columns) while add
actions' partitionValues are keyed by PHYSICAL names, matching the
directory layout."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from plankton_spark.sources import deletion_vectors as dvmod
from plankton_spark.sources.delta_log import (
    DeltaLog,
    DeltaProtocolError,
    read_delta,
    write_delta_checkpoint,
)

_PROTOCOL_V2 = {"minReaderVersion": 2, "minWriterVersion": 5}


def _schema_str(mapped_nested: bool = False) -> str:
    fields = [
        {
            "name": "order_id",
            "type": "long",
            "nullable": True,
            "metadata": {
                "delta.columnMapping.id": 1,
                "delta.columnMapping.physicalName": "col-aaaa",
            },
        },
        {
            "name": "status",
            "type": "string",
            "nullable": True,
            "metadata": {
                "delta.columnMapping.id": 2,
                "delta.columnMapping.physicalName": "col-bbbb",
            },
        },
    ]
    if mapped_nested:
        fields.append(
            {
                "name": "meta",
                "type": {
                    "type": "struct",
                    "fields": [
                        {
                            "name": "inner",
                            "type": "long",
                            "nullable": True,
                            "metadata": {
                                "delta.columnMapping.physicalName": "col-cccc"
                            },
                        }
                    ],
                },
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.physicalName": "col-dddd"
                },
            }
        )
    return json.dumps({"type": "struct", "fields": fields})


def _author_mapped_table(
    tmp_path,
    name: str,
    mode: str = "name",
    partitioned: bool = False,
    mapped_nested: bool = False,
    with_dv: bool = False,
) -> str:
    root = str(tmp_path / name)
    os.makedirs(os.path.join(root, "_delta_log"))
    adds = []
    if partitioned:
        # physical dir layout + physical partitionValues keys
        for st in ("A", "B"):
            rel = f"col-bbbb={st}/part-{st}.parquet"
            os.makedirs(os.path.join(root, f"col-bbbb={st}"))
            pq.write_table(
                pa.table(
                    {"col-aaaa": pa.array([1, 2] if st == "A" else [3], pa.int64())}
                ),
                os.path.join(root, rel),
            )
            adds.append(
                {
                    "add": {
                        "path": rel,
                        "partitionValues": {"col-bbbb": st},
                        "size": 1,
                        "modificationTime": 0,
                        "dataChange": True,
                    }
                }
            )
    else:
        pq.write_table(
            pa.table(
                {
                    "col-aaaa": pa.array([1, 2, 3], pa.int64()),
                    "col-bbbb": pa.array(["A", "B", "A"]),
                }
            ),
            os.path.join(root, "part-0.parquet"),
        )
        add = {
            "path": "part-0.parquet",
            "partitionValues": {},
            "size": 1,
            "modificationTime": 0,
            "dataChange": True,
        }
        if with_dv:
            add["deletionVector"] = dvmod.inline_dv_descriptor([1])
        adds.append({"add": add})
    protocol = dict(_PROTOCOL_V2)
    if with_dv:
        protocol = {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["columnMapping", "deletionVectors"],
            "writerFeatures": ["columnMapping", "deletionVectors"],
        }
    actions = [
        {"protocol": protocol},
        {
            "metaData": {
                "id": name,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _schema_str(mapped_nested),
                "partitionColumns": ["status"] if partitioned else [],
                "configuration": {"delta.columnMapping.mode": mode},
            }
        },
    ] + adds
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    return root


def test_mapped_table_reads_logical_names(spark, tmp_path):
    root = _author_mapped_table(tmp_path, "cm_basic")
    df = read_delta(spark, root)
    assert df.columns == ["order_id", "status"]
    got = sorted((r.order_id, r.status) for r in df.collect())
    assert got == [(1, "A"), (2, "B"), (3, "A")]


def test_mapped_partitioned_table_and_logical_filter(spark, tmp_path):
    root = _author_mapped_table(tmp_path, "cm_part", partitioned=True)
    df = read_delta(spark, root)
    got = sorted((r.order_id, r.status) for r in df.collect())
    assert got == [(1, "A"), (2, "A"), (3, "B")]
    one = read_delta(spark, root, partitions={"status": "B"})
    assert [(r.order_id, r.status) for r in one.collect()] == [(3, "B")]


def test_mapped_table_with_deletion_vector(spark, tmp_path):
    root = _author_mapped_table(tmp_path, "cm_dv", with_dv=True)
    got = sorted((r.order_id, r.status) for r in read_delta(spark, root).collect())
    assert got == [(1, "A"), (3, "A")]  # row index 1 deleted


def test_id_mode_resolves_by_parquet_field_id(spark, tmp_path):
    """ID mode: parquet columns match by field id, NOT by name — the
    file here stores DIFFERENT physical names than the schemaString's
    physicalName, which only an id-based resolution reads right."""
    root = str(tmp_path / "cm_idmode")
    os.makedirs(os.path.join(root, "_delta_log"))
    schema = pa.schema(
        [
            pa.field(
                "whatever-1", pa.int64(), metadata={b"PARQUET:field_id": b"1"}
            ),
            pa.field(
                "whatever-2", pa.string(), metadata={b"PARQUET:field_id": b"2"}
            ),
        ]
    )
    pq.write_table(
        pa.table(
            {
                "whatever-1": pa.array([1, 2], pa.int64()),
                "whatever-2": pa.array(["A", "B"]),
            },
            schema=schema,
        ),
        os.path.join(root, "part-0.parquet"),
    )
    actions = [
        {"protocol": _PROTOCOL_V2},
        {
            "metaData": {
                "id": "cm_idmode",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _schema_str(),
                "partitionColumns": [],
                "configuration": {"delta.columnMapping.mode": "id"},
            }
        },
        {
            "add": {
                "path": "part-0.parquet",
                "partitionValues": {},
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
            }
        },
    ]
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    got = sorted((r.order_id, r.status) for r in read_delta(spark, root).collect())
    assert got == [(1, "A"), (2, "B")]


def test_id_mode_without_ids_refused(spark, tmp_path):
    """id mode whose schemaString fields lack delta.columnMapping.id
    cannot resolve — refuse, don't guess."""
    root = str(tmp_path / "cm_id_noids")
    os.makedirs(os.path.join(root, "_delta_log"))
    pq.write_table(
        pa.table({"c": pa.array([1], pa.int64())}),
        os.path.join(root, "part-0.parquet"),
    )
    schema_str = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "k",
                    "type": "long",
                    "nullable": True,
                    "metadata": {"delta.columnMapping.physicalName": "c"},
                }
            ],
        }
    )
    actions = [
        {"protocol": _PROTOCOL_V2},
        {
            "metaData": {
                "id": "cm_id_noids",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_str,
                "partitionColumns": [],
                "configuration": {"delta.columnMapping.mode": "id"},
            }
        },
        {
            "add": {
                "path": "part-0.parquet",
                "partitionValues": {},
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
            }
        },
    ]
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    with pytest.raises(DeltaProtocolError, match="carry no delta.columnMapping.id"):
        read_delta(spark, root)


def test_nested_mapping_refused(spark, tmp_path):
    root = _author_mapped_table(tmp_path, "cm_nested", mapped_nested=True)
    with pytest.raises(DeltaProtocolError, match="NESTED"):
        read_delta(spark, root)


def test_snapshot_refuses_mapped_tables(spark, tmp_path):
    root = _author_mapped_table(tmp_path, "cm_snap")
    with pytest.raises(DeltaProtocolError, match="column mapping"):
        DeltaLog(root).snapshot(None)


def test_checkpoint_preserves_mapping_and_protocol(spark, tmp_path):
    """Compaction must not strip the config or widen the protocol."""
    root = _author_mapped_table(tmp_path, "cm_ckpt")
    write_delta_checkpoint(root, version=0)
    os.remove(os.path.join(root, "_delta_log", f"{0:020d}.json"))
    st = DeltaLog(root).replay(None)
    assert st.config.get("delta.columnMapping.mode") == "name"
    assert st.protocol["minReaderVersion"] == 2
    got = sorted((r.order_id, r.status) for r in read_delta(spark, root).collect())
    assert got == [(1, "A"), (2, "B"), (3, "A")]


# ---------------------------------------------------------------------
# Writer-side rename via column mapping (round 7)
# ---------------------------------------------------------------------

from pyspark.sql import functions as _F  # noqa: E402

from plankton_spark.sources.delta_log import DeltaLogWriter  # noqa: E402


def test_rename_column_via_mapping_roundtrip(spark, tmp_path):
    root = str(tmp_path / "dre")
    w = DeltaLogWriter(spark, root)
    w.create(
        spark.range(3).select(
            _F.col("id").alias("k"), (_F.col("id") * 2).alias("v")
        )
    )
    w.rename_column("v", "val")
    df = read_delta(spark, root)
    assert df.columns == ["k", "val"]
    got = sorted((r.k, r.val) for r in df.collect())
    assert got == [(0, 0), (1, 2), (2, 4)]
    # appends after the rename stage under PHYSICAL names
    w.append(
        spark.createDataFrame([(10, 20)], "k long, val long")
    )
    got = sorted((r.k, r.val) for r in read_delta(spark, root).collect())
    assert got == [(0, 0), (1, 2), (2, 4), (10, 20)]
    # protocol upgraded to a mapping-capable reader
    st = DeltaLog(root).replay(None)
    assert st.protocol["minReaderVersion"] >= 2
    assert st.config["delta.columnMapping.mode"] == "name"
    # a second rename keeps the ORIGINAL physical names stable
    w.rename_column("val", "value2")
    got = sorted((r.k, r.value2) for r in read_delta(spark, root).collect())
    assert got == [(0, 0), (1, 2), (2, 4), (10, 20)]


def test_rename_partition_column(spark, tmp_path):
    """Partition dirs and partitionValues stay physical; the logical
    filter name maps through."""
    root = str(tmp_path / "dre_part")
    w = DeltaLogWriter(spark, root)
    w.create(
        spark.createDataFrame(
            [(1, "A"), (2, "B"), (3, "A")], "k long, st string"
        ),
        partition_by=["st"],
    )
    w.rename_column("st", "status")
    df = read_delta(spark, root)
    assert sorted(df.columns) == ["k", "status"]
    one = read_delta(spark, root, partitions={"status": "A"})
    assert sorted(r.k for r in one.collect()) == [1, 3]
    # append a new partition value post-rename
    w.append(spark.createDataFrame([(9, "C")], "k long, status string"))
    assert read_delta(spark, root).count() == 4
    assert read_delta(spark, root, partitions={"status": "C"}).count() == 1


def test_rename_guards(spark, tmp_path):
    root = str(tmp_path / "dre_guard")
    w = DeltaLogWriter(spark, root)
    w.create(spark.range(2).select(_F.col("id").alias("k")))
    with pytest.raises(ValueError, match="no column"):
        w.rename_column("zz", "yy")
    w.rename_column("k", "key")
    with pytest.raises(ValueError, match="exists"):
        w.rename_column("key", "key")
    # rewrite ops refuse on the mapped table
    with pytest.raises(DeltaProtocolError):
        w.delete_where(_F.col("key") == 0)
    with pytest.raises(DeltaProtocolError):
        w.merge(spark.createDataFrame([(1,)], "key long"), "key")
    with pytest.raises(DeltaProtocolError):
        w.optimize(num_files=1)
    with pytest.raises(DeltaProtocolError, match="evolution"):
        w.append(
            spark.createDataFrame([(5, "x")], "key long, extra string"),
            merge_schema=True,
        )
    # DV deletes also refuse on mapped tables
    with pytest.raises(DeltaProtocolError):
        w.delete_where_dv(_F.col("key") == 0)


# ---------------------------------------------------------------------
# Round-7 second-review regression tests
# ---------------------------------------------------------------------


def test_rename_refuses_nested_schemas(spark, tmp_path):
    """Enabling mapping must not emit unmapped nested fields (spec
    requires ids on EVERY field) — refuse (r7 review-2 #3)."""
    root = str(tmp_path / "dre_nested")
    w = DeltaLogWriter(spark, root)
    w.create(
        spark.createDataFrame([(1, (2,))], "k long, payload struct<a:long>")
    )
    with pytest.raises(DeltaProtocolError, match="nested/complex"):
        w.rename_column("k", "key")


def test_rename_rebuilds_on_commit_conflict(spark, tmp_path):
    """A concurrent schema-evolving append between rename's replay and
    commit must NOT be clobbered — the retry re-replays (r7 review-2
    #4)."""
    from plankton_spark.sources.delta_log import DeltaCommitConflict

    root = str(tmp_path / "dre_race")
    w = DeltaLogWriter(spark, root)
    w.create(spark.range(2).select(_F.col("id").alias("k")))
    raced = {"done": False}
    orig = DeltaLogWriter._commit

    def commit_with_race(self, v, actions):
        if not raced["done"] and any("metaData" in a for a in actions):
            raced["done"] = True
            # the concurrent writer wins this version with an evolved
            # schema (new column 'extra')
            DeltaLogWriter(spark, root).append(
                spark.createDataFrame([(9, 9)], "k long, extra long"),
                merge_schema=True,
            )
            raise DeltaCommitConflict("injected race")
        return orig(self, v, actions)

    import plankton_spark.sources.delta_log as dl

    try:
        dl.DeltaLogWriter._commit = commit_with_race
        w.rename_column("k", "key")
    finally:
        dl.DeltaLogWriter._commit = orig
    df = read_delta(spark, root)
    assert sorted(df.columns) == ["extra", "key"]  # both survived
    got = sorted((r.key, r.extra) for r in df.collect())
    assert got == [(0, None), (1, None), (9, 9)]


def test_rename_protocol_upgrade_never_downgrades(spark, tmp_path):
    """A reader-1/writer-7 features table must keep its writer
    features and gain columnMapping, not be rewritten to {2,5} (r7
    review-2 #5); maxColumnId stays monotonic (#6)."""
    root = str(tmp_path / "dre_prot")
    w = DeltaLogWriter(spark, root)
    w.create(spark.range(2).select(_F.col("id").alias("k")))
    # rewrite the protocol + config as a foreign writer-features table
    log_p = os.path.join(root, "_delta_log", f"{0:020d}.json")
    with open(log_p) as f:
        actions = [json.loads(x) for x in f if x.strip()]
    for a in actions:
        if "protocol" in a:
            a["protocol"] = {
                "minReaderVersion": 1,
                "minWriterVersion": 7,
                "writerFeatures": ["appendOnly", "invariants"],
            }
        if "metaData" in a:
            a["metaData"]["configuration"] = {
                "delta.columnMapping.maxColumnId": "10"
            }
    with open(log_p, "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    w.rename_column("k", "key")
    st = DeltaLog(root).replay(None)
    prot = st.protocol
    assert prot["minReaderVersion"] == 3
    assert prot["minWriterVersion"] == 7
    assert set(prot["writerFeatures"]) >= {
        "appendOnly",
        "invariants",
        "columnMapping",
    }
    assert "columnMapping" in prot["readerFeatures"]
    assert st.config["delta.columnMapping.maxColumnId"] == "10"
    assert sorted(r.key for r in read_delta(spark, root).collect()) == [0, 1]


def test_drop_column_via_mapping(spark, tmp_path):
    root = str(tmp_path / "ddrop")
    w = DeltaLogWriter(spark, root)
    w.create(
        spark.range(3).select(
            _F.col("id").alias("k"),
            (_F.col("id") * 2).alias("v"),
            (_F.col("id") * 3).alias("w"),
        )
    )
    w.drop_column("v")
    df = read_delta(spark, root)
    assert df.columns == ["k", "w"]
    got = sorted((r.k, r.w) for r in df.collect())
    assert got == [(0, 0), (1, 3), (2, 6)]
    # appends after the drop use the narrowed schema
    w.append(spark.createDataFrame([(10, 30)], "k long, w long"))
    got = sorted((r.k, r.w) for r in read_delta(spark, root).collect())
    assert got == [(0, 0), (1, 3), (2, 6), (10, 30)]
    st = DeltaLog(root).replay(None)
    assert st.config["delta.columnMapping.mode"] == "name"
    # the dropped column's mapping id is retired, never reused
    assert int(st.config["delta.columnMapping.maxColumnId"]) >= 3
    # time travel BEFORE the drop still sees the column
    old = read_delta(spark, root, version=0)
    assert old.columns == ["k", "v", "w"]
    assert sorted(r.v for r in old.collect()) == [0, 2, 4]


def test_drop_then_rename_compose(spark, tmp_path):
    root = str(tmp_path / "ddrop2")
    w = DeltaLogWriter(spark, root)
    w.create(
        spark.range(2).select(
            _F.col("id").alias("k"), (_F.col("id") * 2).alias("v")
        )
    )
    w.rename_column("v", "val")
    w.drop_column("val")
    assert read_delta(spark, root).columns == ["k"]
    assert sorted(r.k for r in read_delta(spark, root).collect()) == [0, 1]


def test_drop_column_guards(spark, tmp_path):
    import pytest

    root = str(tmp_path / "ddropg")
    w = DeltaLogWriter(spark, root)
    w.create(
        spark.range(2).select(
            _F.col("id").alias("k"), (_F.col("id") % 2).cast("string").alias("p")
        ),
        partition_by=["p"],
    )
    with pytest.raises(ValueError, match="partition column"):
        w.drop_column("p")
    with pytest.raises(ValueError, match="no column"):
        w.drop_column("nope")
    w2 = DeltaLogWriter(spark, str(tmp_path / "ddropg1"))
    w2.create(spark.range(2).select(_F.col("id").alias("k")))
    with pytest.raises(ValueError, match="only column"):
        w2.drop_column("k")
