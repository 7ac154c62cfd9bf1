"""Iceberg v3 Puffin deletion vectors (round-9): the Puffin
reader/writer (sources/puffin.py), the scan_entries_full DV surface,
read_iceberg's DV anti-join, refusal paths (whole-file access, corrupt
blobs, compressed footers, incomplete entries), and v2-parquet + v3-DV
coexistence in one snapshot."""

from __future__ import annotations

import json
import os
import struct

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from plankton_spark.sources import puffin
from plankton_spark.sources.avro_ocf import write_ocf_generic
from plankton_spark.sources.iceberg_meta import (
    IcebergTable,
    IcebergWriter,
    read_iceberg,
)
from plankton_spark.queries.iceberg_interop import (
    _DV_MANIFEST_ENTRY_SCHEMA,
    MANIFEST_FILE_SCHEMA,
)

_ICE_SCHEMA = {
    "type": "struct",
    "schema-id": 0,
    "fields": [
        {"id": 1, "name": "k", "required": False, "type": "long"},
        {"id": 2, "name": "grp", "required": False, "type": "string"},
    ],
}


# -- puffin codec ------------------------------------------------------------


def test_dv_blob_roundtrip():
    for idx in ([], [0], [0, 1, 5, 19], list(range(0, 5000, 7)),
                [3, 1 << 33, (1 << 33) + 7]):
        blob = puffin.dv_blob(idx)
        assert puffin.dv_blob_indexes(blob) == sorted(set(idx))


def test_dv_blob_magic_bytes_match_spec():
    # Iceberg v3 spec: magic sequence D1 D3 39 64 right after the
    # 4-byte length — the Delta-compatible framing.
    blob = puffin.dv_blob([1, 2, 3])
    assert blob[4:8] == bytes([0xD1, 0xD3, 0x39, 0x64])


def test_dv_blob_crc_corruption_refuses():
    blob = bytearray(puffin.dv_blob([1, 2, 3]))
    blob[10] ^= 0xFF
    with pytest.raises(puffin.PuffinError, match="CRC"):
        puffin.dv_blob_indexes(bytes(blob))


def test_dv_blob_length_mismatch_refuses():
    blob = puffin.dv_blob([1, 2, 3])
    with pytest.raises(puffin.PuffinError, match="framing"):
        puffin.dv_blob_indexes(blob + b"x")


def test_puffin_file_roundtrip(tmp_path):
    path = str(tmp_path / "t.puffin")
    blobs = [
        {"type": "deletion-vector-v1", "data": puffin.dv_blob([1, 3]),
         "snapshot-id": 9, "sequence-number": 2,
         "properties": {"referenced-data-file": "data/a.parquet",
                        "cardinality": "2"}},
        {"type": "deletion-vector-v1", "data": puffin.dv_blob([0, 7, 8]),
         "properties": {"referenced-data-file": "data/b.parquet",
                        "cardinality": "3"}},
    ]
    metas = puffin.write_puffin(path, blobs, properties={"created-by": "t"})
    footer = puffin.read_footer(path)
    assert footer["properties"] == {"created-by": "t"}
    assert [b["type"] for b in footer["blobs"]] == ["deletion-vector-v1"] * 2
    for meta, want in zip(metas, ([1, 3], [0, 7, 8])):
        assert puffin.dv_indexes(path, meta["offset"], meta["length"]) == want
    # offsets must start after the 4-byte header magic
    assert metas[0]["offset"] == 4
    assert metas[1]["offset"] == 4 + len(blobs[0]["data"])


def test_puffin_compressed_footer_refuses(tmp_path):
    path = str(tmp_path / "c.puffin")
    puffin.write_puffin(path, [])
    raw = bytearray(open(path, "rb").read())
    raw[-8] |= 1  # set flags bit 0 (first flag byte, LE int at -8..-4)
    open(path, "wb").write(bytes(raw))
    with pytest.raises(puffin.PuffinError, match="LZ4"):
        puffin.read_footer(path)


def test_puffin_bad_magic_refuses(tmp_path):
    path = str(tmp_path / "b.puffin")
    open(path, "wb").write(b"NOPE" + b"\x00" * 20)
    with pytest.raises(puffin.PuffinError, match="magic"):
        puffin.read_footer(path)


# -- table-level fixture ------------------------------------------------------


def _author_v3_dv_table(
    tmp_path,
    name: str,
    dv_deleted: list[int],
    also_parquet_deleted: list[int] | None = None,
    drop_field: str | None = None,
):
    """One 20-row data file; `dv_deleted` positions removed via a
    Puffin DV; optionally `also_parquet_deleted` via a v2 parquet
    position-delete file in the SAME snapshot (migration
    coexistence)."""
    root = str(tmp_path / name)
    os.makedirs(os.path.join(root, "metadata"))
    os.makedirs(os.path.join(root, "data"))
    ks = list(range(20))
    pq.write_table(
        pa.table({"k": pa.array(ks, pa.int64()),
                  "grp": pa.array(["g"] * 20)}),
        os.path.join(root, "data", "d0.parquet"),
    )
    blob = {"type": "deletion-vector-v1",
            "data": puffin.dv_blob(dv_deleted),
            "properties": {"referenced-data-file": "data/d0.parquet",
                           "cardinality": str(len(dv_deleted))}}
    metas = puffin.write_puffin(
        os.path.join(root, "data", "dv0.puffin"), [blob]
    )
    dv_entry = {
        "content": 1,
        "file_path": "data/dv0.puffin",
        "file_format": "PUFFIN",
        "partition": {},
        "record_count": len(dv_deleted),
        "file_size_in_bytes": os.path.getsize(
            os.path.join(root, "data", "dv0.puffin")
        ),
        "referenced_data_file": "data/d0.parquet",
        "content_offset": metas[0]["offset"],
        "content_size_in_bytes": metas[0]["length"],
    }
    if drop_field:
        dv_entry[drop_field] = None
    data_entry = {
        "content": 0, "file_path": "data/d0.parquet",
        "file_format": "PARQUET", "partition": {}, "record_count": 20,
        "file_size_in_bytes": 1, "referenced_data_file": None,
        "content_offset": None, "content_size_in_bytes": None,
    }
    del_entries = [dv_entry]
    if also_parquet_deleted is not None:
        pq.write_table(
            pa.table({
                "file_path": pa.array(
                    ["data/d0.parquet"] * len(also_parquet_deleted)),
                "pos": pa.array(also_parquet_deleted, pa.int64()),
            }),
            os.path.join(root, "data", "del0.parquet"),
        )
        del_entries.append({
            "content": 1, "file_path": "data/del0.parquet",
            "file_format": "PARQUET", "partition": {},
            "record_count": len(also_parquet_deleted),
            "file_size_in_bytes": 1, "referenced_data_file": None,
            "content_offset": None, "content_size_in_bytes": None,
        })

    def manifest(fname, entries):
        path = os.path.join(root, "metadata", fname)
        write_ocf_generic(
            path, _DV_MANIFEST_ENTRY_SCHEMA,
            [{"status": 1, "snapshot_id": 1, "data_file": e}
             for e in entries],
        )
        return {"manifest_path": f"metadata/{fname}",
                "manifest_length": os.path.getsize(path),
                "partition_spec_id": 0, "added_snapshot_id": None}

    ml = os.path.join(root, "metadata", "snap-1.avro")
    write_ocf_generic(
        ml, MANIFEST_FILE_SCHEMA,
        [manifest("m-data.avro", [data_entry]),
         manifest("m-del.avro", del_entries)],
    )
    metadata = {
        "format-version": 3, "table-uuid": name, "location": root,
        "last-updated-ms": 1, "last-column-id": 2,
        "schema": _ICE_SCHEMA, "schemas": [_ICE_SCHEMA],
        "current-schema-id": 0, "partition-spec": [],
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0, "current-snapshot-id": 1,
        "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1,
                       "manifest-list": "metadata/snap-1.avro"}],
    }
    with open(os.path.join(root, "metadata", "v1.metadata.json"), "w") as f:
        json.dump(metadata, f)
    with open(os.path.join(root, "metadata", "version-hint.text"), "w") as f:
        f.write("1")
    return root, ks


def test_dv_applied(spark, tmp_path):
    dv = [0, 3, 7, 19]
    root, ks = _author_v3_dv_table(tmp_path, "dv1", dv)
    got = sorted(r["k"] for r in read_iceberg(spark, root).collect())
    assert got == [k for k in ks if k not in dv]


def test_dv_and_parquet_deletes_coexist(spark, tmp_path):
    # migration snapshot: some deletes still in v2 parquet form, some
    # already as v3 DVs — both must subtract
    root, ks = _author_v3_dv_table(
        tmp_path, "dv2", [1, 2], also_parquet_deleted=[5, 6]
    )
    got = sorted(r["k"] for r in read_iceberg(spark, root).collect())
    assert got == [k for k in ks if k not in (1, 2, 5, 6)]


def test_dv_scan_entries_surface(tmp_path):
    root, _ = _author_v3_dv_table(tmp_path, "dv3", [4])
    t = IcebergTable(root)
    data, pos, eq, dv = t.scan_entries_full(None)
    assert len(data) == 1 and pos == [] and eq == []
    assert len(dv) == 1
    p, ref, off, sz, card = dv[0]
    assert p.endswith("dv0.puffin") and ref == "data/d0.parquet"
    assert puffin.dv_indexes(p, off, sz) == [4]


def test_dv_whole_file_access_refuses(tmp_path):
    # scan_entries is the whole-files surface (DSv2 wrapper, writer
    # rewrites) — reading around a DV would resurrect rows
    root, _ = _author_v3_dv_table(tmp_path, "dv4", [4])
    with pytest.raises(ValueError, match="deletion vectors"):
        IcebergTable(root).scan_entries(None)


def test_dv_incomplete_entry_refuses(tmp_path):
    root, _ = _author_v3_dv_table(
        tmp_path, "dv5", [4], drop_field="content_offset"
    )
    with pytest.raises(ValueError, match="content_offset"):
        IcebergTable(root).scan_entries_full(None)


def test_dv_corrupt_blob_fails_read(spark, tmp_path):
    root, _ = _author_v3_dv_table(tmp_path, "dv6", [0, 3, 7])
    pf = os.path.join(root, "data", "dv0.puffin")
    raw = bytearray(open(pf, "rb").read())
    raw[10] ^= 0xFF  # inside the first blob's bitmap
    open(pf, "wb").write(bytes(raw))
    from pyspark.errors.exceptions.captured import PythonException

    with pytest.raises(PythonException, match="CRC-32 mismatch"):
        read_iceberg(spark, root).collect()


# -- writer: delete_where_dv ---------------------------------------------------


def _fresh_table(spark, tmp_path, name):
    from plankton_spark.sources.iceberg_meta import IcebergWriter

    root = str(tmp_path / name)
    w = IcebergWriter(spark, root)
    w.create(
        spark.createDataFrame(
            [(i, "even" if i % 2 == 0 else "odd") for i in range(30)],
            "k long, grp string",
        )
    )
    return root, w


def test_delete_where_dv_basic(spark, tmp_path):
    from pyspark.sql import functions as F

    root, w = _fresh_table(spark, tmp_path, "wdv1")
    sid = w.delete_where_dv(F.col("k") % 5 == 0)
    assert sid is not None
    got = sorted(r["k"] for r in read_iceberg(spark, root).collect())
    assert got == [k for k in range(30) if k % 5 != 0]
    t = IcebergTable(root)
    assert t.metadata["format-version"] == 3
    _d, _p, _e, dv = t.scan_entries_full(None)
    assert dv, "expected deletion-vector entries"
    assert all(p.endswith(".puffin") for p, _r, _o, _s, _c in dv)


def test_delete_where_dv_merges_per_file(spark, tmp_path):
    """Second DV delete must MERGE into one DV per file (the v3
    at-most-one-DV invariant), not accumulate entries."""
    from pyspark.sql import functions as F

    root, w = _fresh_table(spark, tmp_path, "wdv2")
    w.delete_where_dv(F.col("k") % 5 == 0)
    w.delete_where_dv(F.col("k") % 7 == 0)
    got = sorted(r["k"] for r in read_iceberg(spark, root).collect())
    assert got == [k for k in range(30) if k % 5 != 0 and k % 7 != 0]
    t = IcebergTable(root)
    _d, _p, _e, dv = t.scan_entries_full(None)
    refs = [r for _p2, r, _o, _s, _c in dv]
    assert len(refs) == len(set(refs)), f"duplicate DV per file: {refs}"
    # merged cardinality: every blob holds BOTH rounds' deletes
    total = sum(len(puffin.dv_indexes(p, o, s)) for p, _r, o, s, _c in dv)
    assert total == len([k for k in range(30) if k % 5 == 0 or k % 7 == 0])


@pytest.mark.parametrize("verb", ["delete_where_dv", "delete_where_pos"])
def test_delete_where_dv_noop_returns_none(spark, tmp_path, verb):
    from pyspark.sql import functions as F

    root, w = _fresh_table(spark, tmp_path, "wdv3")
    delete = getattr(w, verb)
    assert delete(F.col("k") > 1000) is None
    # already-deleted rows re-hit -> no new snapshot either
    delete(F.col("k") == 3)
    snapshots = len(IcebergTable(root).metadata["snapshots"])
    assert delete(F.col("k") == 3) is None
    assert len(IcebergTable(root).metadata["snapshots"]) == snapshots


def test_delete_where_dv_refuses_v2_mix(spark, tmp_path):
    from pyspark.sql import functions as F

    root, w = _fresh_table(spark, tmp_path, "wdv4")
    w.delete_where_pos(F.col("k") == 1)
    with pytest.raises(ValueError, match="v2 position/equality"):
        w.delete_where_dv(F.col("k") == 2)


def test_delete_where_dv_then_append(spark, tmp_path):
    """Appended rows after a DV delete are untouched by it."""
    from pyspark.sql import functions as F

    root, w = _fresh_table(spark, tmp_path, "wdv5")
    w.delete_where_dv(F.col("k") < 10)
    w.append(spark.createDataFrame([(5, "again")], "k long, grp string"))
    got = sorted(r["k"] for r in read_iceberg(spark, root).collect())
    assert got == [5] + list(range(10, 30))


def test_delete_where_dv_time_travel(spark, tmp_path):
    from pyspark.sql import functions as F

    root, w = _fresh_table(spark, tmp_path, "wdv6")
    t0 = IcebergTable(root)
    first = t0.metadata["current-snapshot-id"]
    w.delete_where_dv(F.col("k") >= 20)
    # the pre-delete snapshot still reads all rows
    n_then = read_iceberg(spark, root, snapshot_id=first).count()
    assert n_then == 30
    assert read_iceberg(spark, root).count() == 20


def test_vacuum_keeps_live_puffin(spark, tmp_path):
    """The DV Puffin file is REFERENCED by its manifest entries —
    vacuum (orphan reclamation) must never remove it, even with
    grace=0; the DV'd read keeps working afterwards."""
    from pyspark.sql import functions as F

    from plankton_spark.sources.iceberg_meta import IcebergWriter

    root, w = _fresh_table(spark, tmp_path, "vdv1")
    w.delete_where_dv(F.col("k") % 5 == 0)
    removed = IcebergWriter(spark, root).vacuum(grace_seconds=0.0)
    assert not any(p.endswith(".puffin") for p in removed), removed
    got = sorted(r["k"] for r in read_iceberg(spark, root).collect())
    assert got == [k for k in range(30) if k % 5 != 0]


def test_optimize_purges_dvs_to_clean_files(spark, tmp_path):
    """OPTIMIZE on a DV'd snapshot PURGES the deletion vectors (Delta
    parity): the DV-aware read feeds the re-stage, so the compacted
    files are clean, the DV entries tombstone, and logical content is
    unchanged — never resurrected. Time travel to the pre-compaction
    snapshot still applies the DVs."""
    from pyspark.sql import functions as F

    from plankton_spark.sources.iceberg_meta import IcebergWriter

    root, w = _fresh_table(spark, tmp_path, "vdv2")
    w.delete_where_dv(F.col("k") % 5 == 0)
    t_before = IcebergTable(root)
    dv_snap = t_before.metadata["current-snapshot-id"]
    want = [k for k in range(30) if k % 5 != 0]

    IcebergWriter(spark, root).optimize(num_files=1)
    t = IcebergTable(root)
    _d, _p, _e, dv = t.scan_entries_full(None)
    assert dv == [], "compaction must purge deletion vectors"
    got = sorted(r["k"] for r in read_iceberg(spark, root).collect())
    assert got == want
    # pre-compaction snapshot still DV-filtered
    then = sorted(
        r["k"] for r in read_iceberg(spark, root, snapshot_id=dv_snap).collect()
    )
    assert then == want


def test_dv_supersede_expire_vacuum_lifecycle(spark, tmp_path):
    """Full DV lifecycle: a second delete supersedes the first Puffin
    file (merged DV in a new file); after expire_snapshots drops the
    snapshot that referenced the old Puffin, vacuum reclaims it as an
    orphan — and the live read never changes."""
    from pyspark.sql import functions as F

    from plankton_spark.sources.iceberg_meta import IcebergWriter

    root = str(tmp_path / "ldv1")
    w = IcebergWriter(spark, root)
    # ONE data file, so the second delete supersedes the first Puffin
    # file's only blob (multi-file tables keep old Puffins referenced
    # through carried entries of files the new delete didn't re-hit —
    # correct, but not the lifecycle under test)
    w.create(
        spark.createDataFrame(
            [(i, "even" if i % 2 == 0 else "odd") for i in range(30)],
            "k long, grp string",
        ).coalesce(1)
    )
    w.delete_where_dv(F.col("k") % 5 == 0)
    w.delete_where_dv(F.col("k") % 7 == 0)
    want = [k for k in range(30) if k % 5 != 0 and k % 7 != 0]
    assert sorted(r["k"] for r in read_iceberg(spark, root).collect()) == want

    puffins = lambda: sorted(  # noqa: E731
        f for f in os.listdir(os.path.join(root, "data"))
        if f.endswith(".puffin")
    )
    assert len(puffins()) == 2  # superseded file still on disk (history)

    w2 = IcebergWriter(spark, root)
    w2.expire_snapshots(keep_last=1)
    removed = w2.vacuum(grace_seconds=0.0)
    assert any(p.endswith(".puffin") for p in removed), removed
    assert len(puffins()) == 1
    assert sorted(r["k"] for r in read_iceberg(spark, root).collect()) == want


def test_dv_delete_on_partitioned_table(spark, tmp_path):
    """delete_where_dv on an identity-partitioned table: hit positions
    resolve per physical file across partition dirs; the partitioned
    DV-aware read re-attaches partition values AND subtracts DVs."""
    from pyspark.sql import functions as F

    from plankton_spark.sources.iceberg_meta import IcebergWriter

    root = str(tmp_path / "pdv")
    w = IcebergWriter(spark, root)
    w.create(
        spark.createDataFrame(
            [(i, "even" if i % 2 == 0 else "odd") for i in range(30)],
            "k long, grp string",
        ),
        partition_by=["grp"],
    )
    w.delete_where_dv(F.col("k") % 5 == 0)
    got = sorted(
        (r["k"], r["grp"]) for r in read_iceberg(spark, root).collect()
    )
    want = sorted(
        (k, "even" if k % 2 == 0 else "odd")
        for k in range(30)
        if k % 5 != 0
    )
    assert got == want


# -- round-9 review regressions ------------------------------------------------


def test_dv_delete_works_on_multi_spec(spark, tmp_path):
    """Round-9 refused delete_where_dv on partition-evolved snapshots
    because the READ path refused row-level deletes over multi-spec
    (committing would brick the table). Round 12 lifted the read
    refusal (per-spec union scan feeding the spec-agnostic
    subtraction), so the DV delete now commits AND reads exactly —
    with the predicate evaluated per spec (old-spec files keep their
    partition column in content; a partition-column predicate must
    still hit them)."""
    from pyspark.sql import functions as F

    from plankton_spark.sources.iceberg_meta import IcebergWriter

    root, w = _fresh_table(spark, tmp_path, "msdv")
    w.evolve_spec(["grp"])
    w.append(spark.createDataFrame([(100, "even")], "k long, grp string"))
    w.delete_where_dv(F.col("k") % 5 == 0)
    got = sorted(r["k"] for r in read_iceberg(spark, root).collect())
    assert got == [k for k in [*range(30), 100] if k % 5 != 0]
    # partition-column predicate hits BOTH specs' files
    w.delete_where_dv(F.col("grp") == "even")
    got2 = sorted(r["k"] for r in read_iceberg(spark, root).collect())
    assert got2 == [k for k in range(30) if k % 5 != 0 and k % 2 == 1]


def test_metadata_ops_work_on_dv_tables(spark, tmp_path):
    """Review #2 (verified live before the fix): rollback_to and
    rename_column are metadata-only and must work on DV'd tables —
    undoing a bad DV delete IS rollback's use case."""
    from pyspark.sql import functions as F

    from plankton_spark.sources.iceberg_meta import IcebergWriter

    root, w = _fresh_table(spark, tmp_path, "mddv")
    before = IcebergTable(root).metadata["current-snapshot-id"]
    w.delete_where_dv(F.col("k") % 5 == 0)
    w.rename_column("grp", "bucket")
    cols = read_iceberg(spark, root).columns
    assert "bucket" in cols and "grp" not in cols
    w.rollback_to(before)
    assert read_iceberg(spark, root).count() == 30  # DV delete undone


def test_v2_posdelete_with_referenced_data_file_still_v2(spark, tmp_path):
    """Review #3: the v2 spec allows referenced_data_file on PARQUET
    position-delete files (file-scoped deletes); presence of that
    field alone must NOT classify the entry as a v3 DV (which would
    refuse for missing content_offset)."""
    root, ks = _author_v3_dv_table(tmp_path, "v2ref", [])
    # rewrite the delete manifest: a PARQUET pos-delete entry that
    # carries referenced_data_file but no offsets
    pq.write_table(
        pa.table({
            "file_path": pa.array(["data/d0.parquet"] * 2),
            "pos": pa.array([1, 2], pa.int64()),
        }),
        os.path.join(root, "data", "del0.parquet"),
    )
    entry = {
        "content": 1, "file_path": "data/del0.parquet",
        "file_format": "PARQUET", "partition": {}, "record_count": 2,
        "file_size_in_bytes": 1,
        "referenced_data_file": "data/d0.parquet",  # v2 field 143
        "content_offset": None, "content_size_in_bytes": None,
    }
    write_ocf_generic(
        os.path.join(root, "metadata", "m-del.avro"),
        _DV_MANIFEST_ENTRY_SCHEMA,
        [{"status": 1, "snapshot_id": 1, "data_file": entry}],
    )
    # manifest list references m-del.avro by (unchanged) name; the
    # empty-DV blob entry was replaced wholesale above
    got = sorted(r["k"] for r in read_iceberg(spark, root).collect())
    assert got == [k for k in ks if k not in (1, 2)]


def test_dv_delete_after_spec_evolution_no_append(spark, tmp_path):
    """Review-2 #2: after evolve_spec with NO new data, the live files
    are all single-spec — the guard passes — but the assembled read
    must shape by the LIVE entries' spec, not the new default, or a
    predicate on the evolved partition column silently matches
    nothing (files written pre-evolution physically contain it)."""
    from pyspark.sql import functions as F

    root, w = _fresh_table(spark, tmp_path, "sedv")
    w.evolve_spec(["grp"])
    sid = w.delete_where_dv(F.col("grp") == "even")
    assert sid is not None, "predicate must match (not silently None)"
    got = sorted(r["k"] for r in read_iceberg(spark, root).collect())
    assert got == [k for k in range(30) if k % 2 != 0]


def test_drop_column_refuses_live_equality_delete_key(spark, tmp_path):
    """Review-2 #1: dropping a column a LIVE equality delete keys on
    would orphan the delete's equality_ids and brick every later read
    — must refuse with an OPTIMIZE pointer."""
    from pyspark.sql import functions as _F  # noqa: F401

    from plankton_spark.sources.iceberg_meta import IcebergWriter

    root, w = _fresh_table(spark, tmp_path, "eqdrop")
    w.delete_where_eq(spark.createDataFrame([("even",)], "grp string"))
    with pytest.raises(ValueError, match="equality-delete key"):
        IcebergWriter(spark, root).drop_column("grp")
    # a column NOT keyed by the delete still drops fine... except this
    # table has only k left as non-key — assert read still works
    assert read_iceberg(spark, root).count() == 15


# -- round-10 ADVICE hardening -------------------------------------------------


def _author_foreign_dv(spark, tmp_path, name):
    """Foreign-style v3 DV fixture (manifest-list records carry NO
    content field) relocated under tmp_path so tests can mutate it."""
    import shutil as _sh

    from plankton_spark.queries.iceberg_interop import author_iceberg_dv_orders

    src = author_iceberg_dv_orders(spark, "/root/testdata/sf0.001", name=name)
    dst = str(tmp_path / name)
    _sh.copytree(src, dst)
    # the fixture embeds its own location; rewrite it
    import glob as _glob
    import json as _json

    mpath = _glob.glob(os.path.join(dst, "metadata", "*.metadata.json"))[0]
    with open(mpath) as fh:
        md = _json.load(fh)
    md["location"] = dst
    with open(mpath, "w") as fh:
        _json.dump(md, fh)
    return dst


def test_delete_where_dv_foreign_no_content_markers(spark, tmp_path):
    """ADVICE r9 #2: a foreign manifest list WITHOUT content fields
    must not carry the old delete manifest forward as a data manifest —
    after delete_where_dv the at-most-one-DV-per-file invariant must
    hold (classification falls back to the manifest's own entries)."""
    from pyspark.sql import functions as F

    root = _author_foreign_dv(spark, tmp_path, "dv_foreign_nc")
    w = IcebergWriter(spark, root)
    sid = w.delete_where_dv(F.col("o_orderkey") % 11 == 0)
    assert sid is not None
    t = IcebergTable(root)
    _d, _p, _e, dv = t.scan_entries_full(None)
    refs = [r for _pp, r, _o, _s, _c in dv]
    assert len(refs) == len(set(refs)), f"duplicate live DV per file: {refs}"
    got = sorted(r["o_orderkey"] for r in read_iceberg(spark, root).collect())
    assert got == sorted(
        r["o_orderkey"]
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/orders.parquet"
        )
        .where("o_orderkey < 1500 AND o_orderkey % 7 != 0 AND o_orderkey % 11 != 0")
        .collect()
    )


def test_dv_cardinality_mismatch_refuses(spark, tmp_path):
    """ADVICE r9 #3: the DV broadcast decision trusts the manifest
    cardinality — the decode must cross-check the decoded bitmap count
    and refuse loudly on mismatch (understated foreign counts would
    otherwise reintroduce the collect-for-broadcast OOM path)."""
    from plankton_spark.queries.iceberg_interop import (
        MANIFEST_FILE_SCHEMA,
        _DV_MANIFEST_ENTRY_SCHEMA,
    )
    from plankton_spark.sources.avro_ocf import read_ocf_generic, write_ocf_generic

    root = _author_foreign_dv(spark, tmp_path, "dv_badcard")
    mdv = os.path.join(root, "metadata", "m-dv.avro")
    ents = list(read_ocf_generic(mdv))
    for e in ents:
        e["data_file"]["record_count"] = 1  # understate the cardinality
    write_ocf_generic(mdv, _DV_MANIFEST_ENTRY_SCHEMA, ents)
    ml = os.path.join(root, "metadata", "snap-2.avro")
    rows = list(read_ocf_generic(ml))
    for r in rows:
        if r["manifest_path"].endswith("m-dv.avro"):
            r["manifest_length"] = os.path.getsize(mdv)
    write_ocf_generic(ml, MANIFEST_FILE_SCHEMA, rows)
    with pytest.raises(Exception, match="cardinality"):
        read_iceberg(spark, root).collect()


def test_delete_where_dv_uri_unsafe_basename_refuses(spark, tmp_path):
    """ADVICE r9 #1: hit attribution keys on the basename of the
    URI-ENCODED _metadata.file_path — a data file whose name needs
    encoding (space) must be refused up front, not KeyError after the
    collect or silently mis-attribute deletes."""
    from pyspark.sql import functions as F

    from plankton_spark.queries.iceberg_interop import (
        MANIFEST_FILE_SCHEMA,
        _DV_MANIFEST_ENTRY_SCHEMA,
    )
    from plankton_spark.sources.avro_ocf import read_ocf_generic, write_ocf_generic

    root = _author_foreign_dv(spark, tmp_path, "dv_unsafe_name")
    os.rename(
        os.path.join(root, "data", "file-0.parquet"),
        os.path.join(root, "data", "file 0.parquet"),
    )
    mdata = os.path.join(root, "metadata", "m-data.avro")
    ents = list(read_ocf_generic(mdata))
    for e in ents:
        if e["data_file"]["file_path"] == "data/file-0.parquet":
            e["data_file"]["file_path"] = "data/file 0.parquet"
    write_ocf_generic(mdata, _DV_MANIFEST_ENTRY_SCHEMA, ents)
    # keep the old DVs pointing at file-1 only so only the rename breaks
    ml = os.path.join(root, "metadata", "snap-2.avro")
    rows = list(read_ocf_generic(ml))
    for r in rows:
        if r["manifest_path"].endswith("m-data.avro"):
            r["manifest_length"] = os.path.getsize(mdata)
    write_ocf_generic(ml, MANIFEST_FILE_SCHEMA, rows)
    w = IcebergWriter(spark, root)
    with pytest.raises(ValueError, match="URI-unsafe"):
        w.delete_where_dv(F.col("o_orderkey") % 11 == 0)
