"""Delta deletion-vector support (r6 verdict "What's missing" #2,
upgraded from the r7 refusal gate to real reads): pure-Python
RoaringBitmapArray codec per the public PROTOCOL.md formats, DV
descriptor resolution (inline / uuid-file / absolute), and
read_delta's row-index anti-join. Also pins the conservative posture
everywhere full-file access would resurrect deleted rows: snapshot()
(DSv2 wrapper + writer rewrite ops) refuses, the streaming source
treats a DV'd add as a rewrite, and checkpoints carry descriptors
through compaction."""

from __future__ import annotations

import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from plankton_spark.sources import deletion_vectors as dvmod
from plankton_spark.sources.delta_log import (
    DeltaLog,
    DeltaProtocolError,
    read_delta,
    write_delta_checkpoint,
)

# ---------------------------------------------------------------------
# codec
# ---------------------------------------------------------------------


def test_roaring_roundtrip_mixed_containers():
    random.seed(7)
    idx = sorted(
        set(random.sample(range(70000), 6000))  # forces a bitmap container
        | {5, 65535, 65536, 131072}
        | {(1 << 32) + 3, (1 << 32) + 70000}  # second high-32 key
    )
    blob = dvmod.serialize_roaring_array(idx)
    assert dvmod.deserialize_roaring_array(blob) == idx


def test_roaring_run_container_read():
    """Run containers are read-side tolerance (cookie 12347 + run
    flag bitset): one run [10..14]."""
    import struct

    cookie = dvmod._COOKIE_RUN | ((1 - 1) << 16)
    bm = (
        struct.pack("<i", cookie)
        + bytes([1])
        + struct.pack("<HH", 0, 4)
        + struct.pack("<H", 1)
        + struct.pack("<HH", 10, 4)
    )
    data = struct.pack("<iq", dvmod.MAGIC, 1) + struct.pack("<i", 0) + bm
    assert dvmod.deserialize_roaring_array(data) == [10, 11, 12, 13, 14]


def test_dv_file_and_inline_descriptors(tmp_path):
    t = str(tmp_path)
    d = dvmod.write_dv_file(t, [1, 3, 99999])
    assert d["storageType"] == "u" and d["cardinality"] == 3
    assert dvmod.dv_row_indexes(t, d) == [1, 3, 99999]
    i = dvmod.inline_dv_descriptor([0, 2])
    assert dvmod.dv_row_indexes(t, i) == [0, 2]


def test_dv_crc_and_cardinality_validation(tmp_path):
    t = str(tmp_path)
    d = dvmod.write_dv_file(t, [4, 5])
    name = [f for f in os.listdir(t) if f.startswith("deletion_vector_")][0]
    with open(os.path.join(t, name), "r+b") as f:
        f.seek(9)
        b = f.read(1)
        f.seek(9)
        f.write(bytes([b[0] ^ 0xFF]))
    with pytest.raises(dvmod.DeletionVectorError):
        dvmod.dv_row_indexes(t, d)
    bad = dvmod.inline_dv_descriptor([1, 2])
    bad["cardinality"] = 5
    with pytest.raises(dvmod.DeletionVectorError, match="cardinality"):
        dvmod.dv_row_indexes(t, bad)


# ---------------------------------------------------------------------
# table integration
# ---------------------------------------------------------------------

_SCHEMA_STR = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True, "metadata": {}},
            {"name": "grp", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)

_PROTOCOL = {
    "minReaderVersion": 3,
    "minWriterVersion": 7,
    "readerFeatures": ["deletionVectors"],
    "writerFeatures": ["deletionVectors"],
}


def _author_dv_table(tmp_path, name: str, inline: bool) -> tuple[str, list[int]]:
    """Foreign-style DV table: two data files of 20 rows each; file A
    gets a DV deleting the k % 3 == 0 positions, file B stays clean.
    Returns (root, expected surviving ks)."""
    root = str(tmp_path / name)
    os.makedirs(os.path.join(root, "_delta_log"))

    def write_file(fname, ks):
        pq.write_table(
            pa.table(
                {
                    "k": pa.array(ks, pa.int64()),
                    "grp": pa.array(["a" if k % 2 else "b" for k in ks]),
                }
            ),
            os.path.join(root, fname),
        )

    ks_a = list(range(20))
    ks_b = list(range(100, 120))
    write_file("part-a.parquet", ks_a)
    write_file("part-b.parquet", ks_b)
    deleted_pos = [i for i, k in enumerate(ks_a) if k % 3 == 0]
    if inline:
        desc = dvmod.inline_dv_descriptor(deleted_pos)
    else:
        desc = dvmod.write_dv_file(root, deleted_pos)
    actions = [
        {"protocol": _PROTOCOL},
        {
            "metaData": {
                "id": name,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _SCHEMA_STR,
                "partitionColumns": [],
                "configuration": {},
            }
        },
        {
            "add": {
                "path": "part-a.parquet",
                "partitionValues": {},
                "size": os.path.getsize(os.path.join(root, "part-a.parquet")),
                "modificationTime": 0,
                "dataChange": True,
                "deletionVector": desc,
            }
        },
        {
            "add": {
                "path": "part-b.parquet",
                "partitionValues": {},
                "size": os.path.getsize(os.path.join(root, "part-b.parquet")),
                "modificationTime": 0,
                "dataChange": True,
            }
        },
    ]
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    survivors = [k for i, k in enumerate(ks_a) if i not in set(deleted_pos)]
    return root, sorted(survivors + ks_b)


@pytest.mark.parametrize("inline", [True, False], ids=["inline", "uuid-file"])
def test_read_delta_drops_dv_rows(spark, tmp_path, inline):
    root, want = _author_dv_table(tmp_path, f"dvt_{inline}", inline)
    got = sorted(r.k for r in read_delta(spark, root).collect())
    assert got == want


def test_dv_attach_in_later_commit_wins_over_remove(spark, tmp_path):
    """The canonical DV flow: commit 1 re-adds file A with a DV and
    tombstones its previous (DV-less) version in the SAME commit —
    reconciliation must keep the DV'd add regardless of action order."""
    root, _ = _author_dv_table(tmp_path, "dvt_recon", True)
    # strip the DV from commit 0 and attach it via commit 1 instead,
    # with the add written BEFORE the remove (worst-case order)
    log = os.path.join(root, "_delta_log")
    with open(os.path.join(log, f"{0:020d}.json")) as f:
        actions = [json.loads(x) for x in f if x.strip()]
    dv = None
    for a in actions:
        if "add" in a and a["add"].get("deletionVector"):
            dv = a["add"].pop("deletionVector")
            file_a = dict(a["add"])
    with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    file_a2 = dict(file_a)
    file_a2["deletionVector"] = dv
    with open(os.path.join(log, f"{1:020d}.json"), "w") as f:
        f.write(json.dumps({"add": file_a2}) + "\n")
        f.write(
            json.dumps({"remove": {"path": file_a["path"], "dataChange": True}})
            + "\n"
        )
    got = sorted(r.k for r in read_delta(spark, root).collect())
    want = sorted(
        [k for k in range(20) if k % 3 != 0] + list(range(100, 120))
    )
    assert got == want
    # and version 0 still reads the undeleted file
    v0 = sorted(r.k for r in read_delta(spark, root, version=0).collect())
    assert v0 == sorted(list(range(20)) + list(range(100, 120)))


def test_dv_survives_checkpoint(spark, tmp_path):
    root, want = _author_dv_table(tmp_path, "dvt_ckpt", False)
    write_delta_checkpoint(root, version=0)
    os.remove(os.path.join(root, "_delta_log", f"{0:020d}.json"))
    got = sorted(r.k for r in read_delta(spark, root).collect())
    assert got == want


def test_snapshot_refuses_dv_tables(spark, tmp_path):
    """Whole-file access paths (DSv2 wrapper, writer rewrites) must
    not see DV'd files as complete."""
    root, _ = _author_dv_table(tmp_path, "dvt_snap", True)
    with pytest.raises(DeltaProtocolError, match="deletion vectors"):
        DeltaLog(root).snapshot(None)


def test_streaming_refuses_dv_tables_at_start(spark, tmp_path):
    from plankton_spark.sources.delta_log import DeltaLogStreamReader

    root, _ = _author_dv_table(tmp_path, "dvt_stream", True)
    with pytest.raises(DeltaProtocolError, match="deletion vectors"):
        DeltaLogStreamReader(root, ignore_changes=False)


def test_streaming_treats_midstream_dv_add_as_rewrite(spark, tmp_path):
    """A DV'd add landing AFTER the stream started (clean table at
    start) is a row-level delete in disguise — the micro-batch planner
    must raise, not emit the full file."""
    from plankton_spark.sources.delta_log import (
        DeltaLogStreamReader,
        DeltaLogWriter,
    )

    root = str(tmp_path / "dvt_mid")
    w = DeltaLogWriter(spark, root)
    w.create(spark.range(5).select(F.col("id").alias("k")))
    r = DeltaLogStreamReader(root, ignore_changes=False)
    # commit 1: someone attaches a DV to the live file
    active = DeltaLog(root).replay(0).active
    rel, add = next(iter(active.items()))
    add = dict(add)
    add["deletionVector"] = dvmod.inline_dv_descriptor([0])
    with open(os.path.join(root, "_delta_log", f"{1:020d}.json"), "w") as f:
        f.write(json.dumps({"add": add}) + "\n")
    with pytest.raises(ValueError, match="rewrites/removes"):
        r._added(0, 1)


def test_dv_scan_stays_distributed(spark, tmp_path, monkeypatch):
    """The DV expansion must run on executors — building and executing
    the read may not collect() query data to the driver."""
    import pyspark.sql.classic.dataframe as cdf

    root, want = _author_dv_table(tmp_path, "dvt_nocollect", False)

    def boom(self, *a, **k):
        raise AssertionError("driver-side collect() in the DV read path")

    monkeypatch.setattr(cdf.DataFrame, "collect", boom)
    df = read_delta(spark, root)
    assert df.count() == len(want)


def test_large_dv_bitmap_container(spark, tmp_path):
    """>4096 deletions in one 64K range exercises the bitset container
    on the real read path."""
    root = str(tmp_path / "dv_big")
    os.makedirs(os.path.join(root, "_delta_log"))
    n = 20000
    pq.write_table(
        pa.table(
            {
                "k": pa.array(range(n), pa.int64()),
                "grp": pa.array(["x"] * n),
            }
        ),
        os.path.join(root, "part-a.parquet"),
    )
    deleted = [i for i in range(n) if i % 2 == 0]  # 10k deletions
    desc = dvmod.write_dv_file(root, deleted)
    actions = [
        {"protocol": _PROTOCOL},
        {
            "metaData": {
                "id": "dv_big",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _SCHEMA_STR,
                "partitionColumns": [],
                "configuration": {},
            }
        },
        {
            "add": {
                "path": "part-a.parquet",
                "partitionValues": {},
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
                "deletionVector": desc,
            }
        },
    ]
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    df = read_delta(spark, root)
    assert df.count() == n // 2
    assert df.agg(F.min("k"), F.max("k")).collect()[0] == (1, n - 1)


# ---------------------------------------------------------------------
# DV-WRITING deletes (round 7): O(deleted rows) instead of O(rewritten
# file bytes), protocol upgrade in the same commit, OPTIMIZE purge,
# vacuum of unreferenced DV files.
# ---------------------------------------------------------------------

from plankton_spark.sources.delta_log import DeltaLogWriter  # noqa: E402


def _data_files(root):
    out = []
    for dirpath, _, files in os.walk(root):
        if "_delta_log" in dirpath:
            continue
        out += [
            os.path.join(dirpath, f) for f in files if f.endswith(".parquet")
        ]
    return sorted(out)


def test_delete_where_dv_marks_rows_without_rewrite(spark, tmp_path):
    root = str(tmp_path / "dvw")
    w = DeltaLogWriter(spark, root)
    w.create(
        spark.range(0, 10).coalesce(1).select(F.col("id").alias("k"))
    )
    w.append(spark.range(10, 20).coalesce(1).select(F.col("id").alias("k")))
    before = _data_files(root)
    v = w.delete_where_dv(F.col("k") % 3 == 0)
    assert v is not None
    # NO data file rewritten: identical parquet set on disk
    assert _data_files(root) == before
    got = sorted(r.k for r in read_delta(spark, root).collect())
    assert got == [k for k in range(20) if k % 3 != 0]
    # protocol upgraded with the feature listed
    st = DeltaLog(root).replay(None)
    assert st.protocol["minReaderVersion"] == 3
    assert "deletionVectors" in st.protocol["readerFeatures"]
    # second DV delete MERGES with the existing vectors
    w.delete_where_dv(F.col("k") % 5 == 0)
    got = sorted(r.k for r in read_delta(spark, root).collect())
    assert got == [k for k in range(20) if k % 3 != 0 and k % 5 != 0]
    assert _data_files(root) == before
    # time travel to the first delete still honors only ITS vectors
    v1 = sorted(r.k for r in read_delta(spark, root, version=v).collect())
    assert v1 == [k for k in range(20) if k % 3 != 0]


def test_delete_where_dv_null_predicate_rows_retained(spark, tmp_path):
    root = str(tmp_path / "dvw_null")
    w = DeltaLogWriter(spark, root)
    w.create(
        spark.createDataFrame(
            [(1, 10), (2, None), (3, 5)], "k long, v long"
        ).coalesce(1)
    )
    w.delete_where_dv(F.col("v") == 5)
    got = sorted((r.k, r.v) for r in read_delta(spark, root).collect())
    assert got == [(1, 10), (2, None)]  # NULL-predicate row retained


def test_delete_where_dv_untouched_files_keep_no_dv(spark, tmp_path):
    root = str(tmp_path / "dvw_untouched")
    w = DeltaLogWriter(spark, root)
    w.create(spark.range(0, 5).coalesce(1).select(F.col("id").alias("k")))
    w.append(spark.range(100, 105).coalesce(1).select(F.col("id").alias("k")))
    w.delete_where_dv(F.col("k") == 102)
    active = DeltaLog(root).replay(None).active
    with_dv = [a for a in active.values() if a.get("deletionVector")]
    assert len(with_dv) == 1  # only the hit file carries a DV
    assert read_delta(spark, root).count() == 9


def test_delete_where_dv_partitioned(spark, tmp_path):
    root = str(tmp_path / "dvw_part")
    w = DeltaLogWriter(spark, root)
    df = spark.createDataFrame(
        [(i, "A" if i % 2 else "B") for i in range(10)], "k long, st string"
    )
    w.create(df, partition_by=["st"])
    w.delete_where_dv((F.col("st") == "A") & (F.col("k") < 5))
    got = sorted((r.k, r.st) for r in read_delta(spark, root).collect())
    want = sorted(
        (i, "A" if i % 2 else "B")
        for i in range(10)
        if not (i % 2 and i < 5)
    )
    assert got == want


def test_optimize_purges_dvs_and_vacuum_reclaims(spark, tmp_path):
    root = str(tmp_path / "dvw_opt")
    w = DeltaLogWriter(spark, root)
    w.create(spark.range(0, 12).coalesce(2).select(F.col("id").alias("k")))
    w.delete_where_dv(F.col("k") % 4 == 0)
    want = sorted(k for k in range(12) if k % 4 != 0)
    assert sorted(r.k for r in read_delta(spark, root).collect()) == want
    dv_files = [
        f for f in os.listdir(root) if f.startswith("deletion_vector_")
    ]
    assert dv_files
    # OPTIMIZE purges: clean files, same logical rows
    w.optimize(num_files=1)
    active = DeltaLog(root).replay(None).active
    assert not any(a.get("deletionVector") for a in active.values())
    assert sorted(r.k for r in read_delta(spark, root).collect()) == want
    # the old DV file is now referenced by HISTORY only... it still is
    # (pre-optimize commits reference it) — vacuum keeps it
    assert w.vacuum(grace_seconds=0.0) == [] or all(
        not r.startswith("deletion_vector_") for r in w.vacuum(0.0)
    )
    # write an ORPHAN DV (failed-task leftover): vacuum removes it
    from plankton_spark.sources import deletion_vectors as dvm

    dvm.write_dv_file(root, [1, 2])
    orphans = [
        f
        for f in os.listdir(root)
        if f.startswith("deletion_vector_") and f not in dv_files
    ]
    assert len(orphans) == 1
    removed = w.vacuum(grace_seconds=0.0)
    assert orphans[0] in removed
    assert sorted(r.k for r in read_delta(spark, root).collect()) == want


# ---------------------------------------------------------------------
# Round-7 self-review regression tests
# ---------------------------------------------------------------------


def test_append_and_overwrite_work_after_dv_delete(spark, tmp_path):
    """Writer ops that never READ existing files must stay legal on
    DV'd tables (r7 review #3): append stages new files, overwrite
    tombstones wholesale — both DV-safe."""
    root = str(tmp_path / "dvw_append")
    w = DeltaLogWriter(spark, root)
    w.create(spark.range(0, 10).coalesce(1).select(F.col("id").alias("k")))
    w.delete_where_dv(F.col("k") % 2 == 0)
    w.append(spark.range(100, 103).select(F.col("id").alias("k")))
    got = sorted(r.k for r in read_delta(spark, root).collect())
    assert got == [1, 3, 5, 7, 9, 100, 101, 102]
    # txn-guarded append (the streaming sink path) too
    assert w.append(
        spark.range(200, 201).select(F.col("id").alias("k")), txn=("j", 0)
    ) is not None
    assert w.append(
        spark.range(200, 201).select(F.col("id").alias("k")), txn=("j", 0)
    ) is None
    # overwrite replaces everything, DVs die with their adds
    w.overwrite(spark.range(500, 503).select(F.col("id").alias("k")))
    got = sorted(r.k for r in read_delta(spark, root).collect())
    assert got == [500, 501, 502]


def test_merge_refuses_dv_tables(spark, tmp_path):
    """MERGE reads hit files whole — on a DV'd table it would
    resurrect deleted rows (r7 review #1). Must refuse."""
    root = str(tmp_path / "dvw_merge")
    w = DeltaLogWriter(spark, root)
    w.create(spark.range(0, 10).coalesce(1).select(F.col("id").alias("k")))
    w.delete_where_dv(F.col("k") % 3 == 0)
    src = spark.createDataFrame([(5,)], "k long")
    with pytest.raises(DeltaProtocolError, match="resurrect"):
        w.merge(src, "k")
    # after an OPTIMIZE purge, merge works again
    w.optimize(num_files=1)
    w.merge(src, "k")
    got = sorted(r.k for r in read_delta(spark, root).collect())
    assert got == [k for k in range(10) if k % 3 != 0]


def test_noop_dv_delete_is_a_noop(spark, tmp_path):
    """A predicate matching nothing must not bump the version or
    rewrite DV files — even when the table already has DVs (r7
    review #8)."""
    root = str(tmp_path / "dvw_noop")
    w = DeltaLogWriter(spark, root)
    w.create(spark.range(0, 6).coalesce(1).select(F.col("id").alias("k")))
    w.delete_where_dv(F.col("k") == 0)
    v_before = DeltaLog(root).latest_version()
    dv_before = sorted(
        f for f in os.listdir(root) if f.startswith("deletion_vector_")
    )
    assert w.delete_where_dv(F.col("k") == 999) is None
    assert DeltaLog(root).latest_version() == v_before
    assert sorted(
        f for f in os.listdir(root) if f.startswith("deletion_vector_")
    ) == dv_before


def test_dv_read_and_delete_in_path_with_space(spark, tmp_path):
    """_metadata.file_path is URI-encoded; a table path needing
    encoding must not break the DV join (r7 review #5 — basename
    keys)."""
    root = str(tmp_path / "dv table with space")
    w = DeltaLogWriter(spark, root)
    w.create(spark.range(0, 8).coalesce(1).select(F.col("id").alias("k")))
    w.delete_where_dv(F.col("k") < 3)
    got = sorted(r.k for r in read_delta(spark, root).collect())
    assert got == [3, 4, 5, 6, 7]


def test_vacuum_keeps_p_storage_dv_inside_table(spark, tmp_path):
    """storageType 'p' (absolute path) DVs inside the table dir are
    live references — vacuum must not orphan-collect them (r7
    review #4)."""
    root, want = _author_dv_table(tmp_path, "dvp_vac", inline=False)
    # rewrite the descriptor as storageType p with the absolute path
    log_p = os.path.join(root, "_delta_log", f"{0:020d}.json")
    with open(log_p) as f:
        actions = [json.loads(x) for x in f if x.strip()]
    for a in actions:
        d = a.get("add", {}).get("deletionVector") if "add" in a else None
        if d:
            from plankton_spark.sources.deletion_vectors import (
                _decode_uuid_path,
            )

            abs_path = _decode_uuid_path(root, d["pathOrInlineDv"])
            a["add"]["deletionVector"] = {
                "storageType": "p",
                "pathOrInlineDv": abs_path,
                "offset": d["offset"],
                "sizeInBytes": d["sizeInBytes"],
                "cardinality": d["cardinality"],
            }
    with open(log_p, "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    assert sorted(r.k for r in read_delta(spark, root).collect()) == want
    w = DeltaLogWriter(spark, root)
    removed = w.vacuum(grace_seconds=0.0)
    assert all(not r.startswith("deletion_vector_") for r in removed)
    assert sorted(r.k for r in read_delta(spark, root).collect()) == want
