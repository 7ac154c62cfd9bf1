"""Iceberg v3 ROW LINEAGE lifecycle (round-10 verdict #2): first_row_id
assignment on create/append (the inheritance chain), _row_id /
_last_updated_sequence_number projection on read, stability across DV
deletes, and loud refusal where lineage is not tracked."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from plankton_spark.sources.iceberg_meta import (
    IcebergTable,
    IcebergWriter,
    read_iceberg,
)

SF0001 = "/root/testdata/sf0.001"


def _mk(spark, tmp_path, name, n=30):
    root = str(tmp_path / name)
    w = IcebergWriter(spark, root)
    w.create(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(n)], "k long, v string"
        )
    )
    return root, w


def test_create_assigns_row_ids_from_zero(spark, tmp_path):
    root, _w = _mk(spark, tmp_path, "lin1")
    rows = read_iceberg(spark, root, with_lineage=True).collect()
    ids = sorted(r["_row_id"] for r in rows)
    assert ids == list(range(30))
    assert {r["_last_updated_sequence_number"] for r in rows} == {0}
    t = IcebergTable(root)
    assert t.metadata["next-row-id"] == 30
    assert t.metadata["snapshots"][0]["first-row-id"] == 0


def test_append_continues_the_chain(spark, tmp_path):
    root, w = _mk(spark, tmp_path, "lin2")
    w.append(
        spark.createDataFrame([(100 + i, "x") for i in range(10)],
                              "k long, v string")
    )
    rows = read_iceberg(spark, root, with_lineage=True).collect()
    by_k = {r["k"]: r["_row_id"] for r in rows}
    # original rows keep [0, 30); appended rows claim [30, 40)
    assert sorted(v for k, v in by_k.items() if k < 100) == list(range(30))
    assert sorted(v for k, v in by_k.items() if k >= 100) == list(range(30, 40))
    t = IcebergTable(root)
    assert t.metadata["next-row-id"] == 40
    assert t.metadata["snapshots"][-1]["first-row-id"] == 30


def test_row_ids_stable_across_dv_delete(spark, tmp_path):
    root, w = _mk(spark, tmp_path, "lin3")
    before = {
        r["k"]: r["_row_id"]
        for r in read_iceberg(spark, root, with_lineage=True).collect()
    }
    w.delete_where_dv(F.col("k") % 5 == 0)
    after = {
        r["k"]: r["_row_id"]
        for r in read_iceberg(spark, root, with_lineage=True).collect()
    }
    assert set(after) == {k for k in before if k % 5 != 0}
    for k, rid in after.items():
        assert rid == before[k], "DV delete moved a surviving row's _row_id"


def test_lineage_ids_are_unique_and_dense(spark, tmp_path):
    root, w = _mk(spark, tmp_path, "lin4")
    w.append(spark.createDataFrame([(200, "y")], "k long, v string"))
    w.append(spark.createDataFrame([(201, "z")], "k long, v string"))
    rows = read_iceberg(spark, root, with_lineage=True).collect()
    ids = sorted(r["_row_id"] for r in rows)
    assert ids == list(range(32))  # no gap, no collision across commits


def test_pre_lineage_table_refuses(spark, tmp_path):
    """A foreign v2/v1 table with no first_row_id in its manifests must
    refuse the lineage projection loudly, not fabricate ids."""
    from plankton_spark.queries.iceberg_interop import author_iceberg_orders

    root = author_iceberg_orders(spark, SF0001)
    with pytest.raises(ValueError, match="no first_row_id"):
        read_iceberg(spark, root, with_lineage=True).collect()
    # plain read unaffected
    assert read_iceberg(spark, root).count() > 0


def test_optimize_preserves_lineage(spark, tmp_path):
    """OPTIMIZE materializes _row_id / _last_updated_sequence_number
    into the rewritten files (the v3 compaction rule) — every
    surviving row keeps its identity across the rewrite, the rewritten
    files get FRESH first_row_ids (next-row-id advances; materialized
    values win on read), and appends continue the chain."""
    root, w = _mk(spark, tmp_path, "lin5")
    w.append(spark.createDataFrame([(300, "q")], "k long, v string"))
    w.delete_where_dv(F.col("k") % 7 == 0)
    before = {
        r["k"]: (r["_row_id"], r["_last_updated_sequence_number"])
        for r in read_iceberg(spark, root, with_lineage=True).collect()
    }
    w.optimize(num_files=1)
    after = {
        r["k"]: (r["_row_id"], r["_last_updated_sequence_number"])
        for r in read_iceberg(spark, root, with_lineage=True).collect()
    }
    assert after == before, "OPTIMIZE changed a row's lineage identity"
    # the materialized columns are hidden from plain reads
    plain = read_iceberg(spark, root)
    assert plain.columns == ["k", "v"]
    t = IcebergTable(root)
    assert t.metadata["next-row-id"] >= 31  # fresh ids were claimed
    w.append(spark.createDataFrame([(999, "z")], "k long, v string"))
    by_k = {
        r["k"]: r["_row_id"]
        for r in read_iceberg(spark, root, with_lineage=True).collect()
    }
    assert by_k[999] >= 31  # never reuses an id a rewrite claimed
    # a SECOND optimize re-carries the already-materialized values
    w.optimize(num_files=2)
    again = {
        r["k"]: r["_row_id"]
        for r in read_iceberg(spark, root, with_lineage=True).collect()
    }
    assert again == {**{k: v[0] for k, v in before.items()}, 999: by_k[999]}


def _foreign_untracked_rewrite(root: str) -> None:
    """Simulate a FOREIGN v3 writer that rewrites a data file WITHOUT
    materializing lineage or assigning first_row_id (non-conformant
    for lineage tables, but exactly what a pre-lineage engine
    produces): copy one live file to a new name and author a
    replace snapshot by hand — tombstone + null-frid add."""
    import json
    import os
    import shutil as _shutil

    from plankton_spark.sources.avro_ocf import (
        read_ocf_generic,
        write_ocf_generic,
    )
    from plankton_spark.sources.iceberg_meta import (
        _MANIFEST_ENTRY_SCHEMA,
        _MANIFEST_FILE_SCHEMA,
    )

    t = IcebergTable(root)
    md = dict(t.metadata)
    snap = t._snapshot(None)
    manifests = list(read_ocf_generic(t._resolve(snap["manifest-list"])))
    entries = list(
        read_ocf_generic(t._resolve(manifests[0]["manifest_path"]))
    )
    victim = next(
        e
        for e in entries
        if e["status"] != 2 and e["data_file"].get("content", 0) == 0
    )
    rel = victim["data_file"]["file_path"]
    new_rel = "data/foreign-rewrite.parquet"
    _shutil.copyfile(os.path.join(root, rel), os.path.join(root, new_rel))
    sid = snap["snapshot-id"] + 1
    rw = [
        {
            "status": 2 if e["data_file"]["file_path"] == rel else 0,
            "snapshot_id": sid,
            "data_file": e["data_file"],
        }
        for e in entries
        if e["status"] != 2
    ]
    mrw = os.path.join(root, "metadata", f"m{sid}-foreign-rw.avro")
    write_ocf_generic(mrw, _MANIFEST_ENTRY_SCHEMA, rw)
    add_entry = {
        "status": 1,
        "snapshot_id": sid,
        "data_file": {
            "content": 0,
            "file_path": new_rel,
            "file_format": "PARQUET",
            "partition": {},
            "record_count": victim["data_file"]["record_count"],
            "file_size_in_bytes": os.path.getsize(
                os.path.join(root, new_rel)
            ),
            "first_row_id": None,  # the non-preserving part
        },
    }
    madd = os.path.join(root, "metadata", f"m{sid}-foreign-add.avro")
    write_ocf_generic(madd, _MANIFEST_ENTRY_SCHEMA, [add_entry])
    new_manifests = [
        {
            "manifest_path": f"metadata/{os.path.basename(mrw)}",
            "manifest_length": os.path.getsize(mrw),
            "partition_spec_id": 0,
            "added_snapshot_id": sid,
        },
        {
            "manifest_path": f"metadata/{os.path.basename(madd)}",
            "manifest_length": os.path.getsize(madd),
            "partition_spec_id": 0,
            "added_snapshot_id": sid,
        },
    ] + manifests[1:]
    ml_name = f"snap-{sid}-foreign.avro"
    write_ocf_generic(
        os.path.join(root, "metadata", ml_name),
        _MANIFEST_FILE_SCHEMA,
        new_manifests,
    )
    md["snapshots"] = md["snapshots"] + [
        {
            "snapshot-id": sid,
            "timestamp-ms": 0,
            "manifest-list": f"metadata/{ml_name}",
            "summary": {"operation": "replace"},
        }
    ]
    md["current-snapshot-id"] = sid
    v = t.metadata_version + 1
    with open(os.path.join(root, "metadata", f"v{v}.metadata.json"), "w") as f:
        json.dump(md, f)
    with open(os.path.join(root, "metadata", "version-hint.text"), "w") as f:
        f.write(str(v))


def test_delete_update_merge_preserve_lineage(spark, tmp_path):
    """Round-11 extension past OPTIMIZE (Iceberg side): the
    row-rewriting DML preserves identities through materialization —
    DELETE survivors keep id AND sequence attribution; UPDATE keeps
    the id while the sequence resets (materialized null → the new
    file's data seq); MERGE updates keep the target's id, MERGE
    inserts claim fresh ids."""
    root, w = _mk(spark, tmp_path, "lin_dml")
    before = {
        r["k"]: r["_row_id"]
        for r in read_iceberg(spark, root, with_lineage=True).collect()
    }
    w.delete_where(F.col("k") < 5)  # partial rewrite
    after_del = {
        r["k"]: r["_row_id"]
        for r in read_iceberg(spark, root, with_lineage=True).collect()
    }
    assert after_del == {k: v for k, v in before.items() if k >= 5}
    w.update_where({"v": F.lit("upd")}, F.col("k") % 7 == 0)
    after_upd = {
        r["k"]: r["_row_id"]
        for r in read_iceberg(spark, root, with_lineage=True).collect()
    }
    assert after_upd == after_del, "UPDATE moved a row id"
    w.merge(
        spark.createDataFrame([(10, "m"), (500, "n")], "k long, v string"),
        "k",
    )
    after_mrg = {
        r["k"]: r["_row_id"]
        for r in read_iceberg(spark, root, with_lineage=True).collect()
    }
    assert after_mrg[10] == before[10]  # updated: id kept
    assert after_mrg[500] > max(before.values())  # insert: fresh id
    assert {k: v for k, v in after_mrg.items() if k not in (10, 500)} == {
        k: v for k, v in after_upd.items() if k != 10
    }
    # replace_where: survivors keep ids, replacement rows get fresh
    w.replace_where(
        spark.createDataFrame([(6, "rw")], "k long, v string"),
        F.col("k") == 6,
    )
    after_rw = {
        r["k"]: r["_row_id"]
        for r in read_iceberg(spark, root, with_lineage=True).collect()
    }
    assert after_rw[6] != after_mrg[6]  # replaced row is a NEW row
    assert {k: v for k, v in after_rw.items() if k != 6} == {
        k: v for k, v in after_mrg.items() if k != 6
    }


def test_optimize_on_partially_tracked_table_stays_refusing(spark, tmp_path):
    """A foreign non-preserving rewrite strips first_row_id; OPTIMIZE
    (and this engine's DML) on such a snapshot cannot reconstruct the
    lost identities, so rewrites stay NON-preserving and the lineage
    read keeps refusing — ids are never fabricated."""
    root = str(tmp_path / "lin5b")
    w = IcebergWriter(spark, root)
    w.create(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(30)], "k long, v string"
        ).repartition(1)
    )
    _foreign_untracked_rewrite(root)
    with pytest.raises(ValueError, match="first_row_id"):
        read_iceberg(spark, root, with_lineage=True).collect()
    w.optimize()
    with pytest.raises(ValueError, match="first_row_id"):
        read_iceberg(spark, root, with_lineage=True).collect()
    assert read_iceberg(spark, root).count() == 30


def test_foreign_lineage_fixture_reads(spark):
    """The foreign-authored v3 fixture (explicit first_row_id + seq
    chain + DVs) projects per-spec values."""
    from plankton_spark.queries.iceberg_interop import (
        author_iceberg_lineage_orders,
    )

    root = author_iceberg_lineage_orders(spark, SF0001)
    rows = read_iceberg(spark, root, with_lineage=True).collect()
    assert rows, "fixture read empty"
    seqs = {r["_last_updated_sequence_number"] for r in rows}
    assert seqs == {1, 2}
    # _row_id dense over the pre-delete corpus minus the DV'd rows
    ids = sorted(r["_row_id"] for r in rows)
    assert len(ids) == len(set(ids))


def test_manifest_list_first_row_id_inheritance(spark, tmp_path):
    """A conformant foreign v3 table may write NULL first_row_id on
    every data file and rely on INHERITANCE from the manifest-list
    entry's first_row_id plus running record counts — the common
    engine behavior. The reader must derive the per-file ids instead
    of refusing."""
    import json
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from plankton_spark.sources.avro_ocf import write_ocf_generic
    from plankton_spark.sources.iceberg_meta import (
        _MANIFEST_ENTRY_SCHEMA,
    )

    root = str(tmp_path / "lin_inherit")
    os.makedirs(os.path.join(root, "data"))
    os.makedirs(os.path.join(root, "metadata"))
    # two data files: 4 rows then 3 rows, ids must derive 100.. / 104..
    sizes = [4, 3]
    entries = []
    for i, n in enumerate(sizes):
        rel = f"data/f{i}.parquet"
        pq.write_table(
            pa.Table.from_pandas(
                pd.DataFrame({"k": [10 * i + j for j in range(n)]})
            ),
            os.path.join(root, rel),
        )
        entries.append(
            {
                "status": 1,
                "snapshot_id": 1,
                "data_file": {
                    "content": 0,
                    "file_path": rel,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": n,
                    "file_size_in_bytes": os.path.getsize(
                        os.path.join(root, rel)
                    ),
                    "first_row_id": None,  # inheritance-based writer
                },
            }
        )
    m_path = os.path.join(root, "metadata", "m1.avro")
    write_ocf_generic(m_path, _MANIFEST_ENTRY_SCHEMA, entries)
    ml_schema = {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "partition_spec_id", "type": "int"},
            {"name": "added_snapshot_id", "type": ["null", "long"]},
            {"name": "first_row_id", "type": ["null", "long"]},
        ],
    }
    write_ocf_generic(
        os.path.join(root, "metadata", "snap-1.avro"),
        ml_schema,
        [
            {
                "manifest_path": "metadata/m1.avro",
                "manifest_length": os.path.getsize(m_path),
                "partition_spec_id": 0,
                "added_snapshot_id": 1,
                "first_row_id": 100,
            }
        ],
    )
    metadata = {
        "format-version": 3,
        "table-uuid": "lin-inherit-fixture",
        "location": root,
        "last-updated-ms": 1,
        "last-column-id": 1,
        "schema": {
            "type": "struct",
            "schema-id": 0,
            "fields": [
                {"id": 1, "name": "k", "required": False, "type": "long"}
            ],
        },
        "partition-spec": [],
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "next-row-id": 107,
        "current-snapshot-id": 1,
        "snapshots": [
            {
                "snapshot-id": 1,
                "timestamp-ms": 1,
                "manifest-list": "metadata/snap-1.avro",
                "first-row-id": 100,
            }
        ],
    }
    with open(os.path.join(root, "metadata", "v1.metadata.json"), "w") as f:
        json.dump(metadata, f)
    with open(os.path.join(root, "metadata", "version-hint.text"), "w") as f:
        f.write("1")
    frids = IcebergTable(root).first_row_ids()
    assert sorted(frids.values()) == [100, 104]
    rows = read_iceberg(spark, root, with_lineage=True).collect()
    by_k = {r["k"]: r["_row_id"] for r in rows}
    assert by_k == {0: 100, 1: 101, 2: 102, 3: 103, 10: 104, 11: 105, 12: 106}


def test_append_after_dv_delete_continues_chain(spark, tmp_path):
    """A DV delete must carry next-row-id forward untouched, so a later
    append claims ids AFTER the deleted rows' (ids are never reused)."""
    root, w = _mk(spark, tmp_path, "lin6")
    w.delete_where_dv(F.col("k") < 10)
    w.append(spark.createDataFrame([(400, "n")], "k long, v string"))
    rows = read_iceberg(spark, root, with_lineage=True).collect()
    by_k = {r["k"]: r["_row_id"] for r in rows}
    assert by_k[400] == 30  # deleted ids [0,10) are NOT reused
    assert sorted(v for k, v in by_k.items() if k < 100) == list(range(10, 30))
    t = IcebergTable(root)
    assert t.metadata["next-row-id"] == 31
    # the delete snapshot records first-row-id == next-row-id (no rows)
    del_snap = t.metadata["snapshots"][1]
    assert del_snap["summary"]["operation"] == "delete"
    assert del_snap["first-row-id"] == 30


def test_branch_append_advances_global_ids(spark, tmp_path):
    """Row ids are TABLE-global (spec): an append on an audit branch
    claims ids after main's high-water mark, and a later main append
    does NOT reuse them even though main never saw the branch rows."""
    root, w = _mk(spark, tmp_path, "lin7")
    w.append(
        spark.createDataFrame([(600, "b")], "k long, v string"),
        branch="audit",
    )
    br = read_iceberg(spark, root, ref="audit", with_lineage=True).collect()
    assert {r["_row_id"] for r in br if r["k"] == 600} == {30}
    # main is untouched by the branch write
    main = read_iceberg(spark, root, with_lineage=True).collect()
    assert sorted(r["_row_id"] for r in main) == list(range(30))
    # a later MAIN append continues after the branch's claim
    w.append(spark.createDataFrame([(700, "m")], "k long, v string"))
    main = {
        r["k"]: r["_row_id"]
        for r in read_iceberg(spark, root, with_lineage=True).collect()
    }
    assert main[700] == 31  # 30 was claimed by the branch append


def test_multi_spec_compaction_preserves_lineage(spark, tmp_path):
    """OPTIMIZE on a partition-evolved snapshot — the op that RESOLVES
    evolution — preserves lineage by scanning each spec group with its
    own identity columns and unioning: pre-evolution rows keep their
    ids through the spec-crossing rewrite, and the compacted table is
    single-spec; since round 13 the multi-spec lineage READ works
    directly too (per-spec union scan + the broadcast lineage join —
    asserted mid-lifecycle below), so OPTIMIZE is an option, not a
    prerequisite."""
    root = str(tmp_path / "ms_lin")
    w = IcebergWriter(spark, root)
    w.create(
        spark.createDataFrame(
            [(i, "a" if i % 2 == 0 else "b") for i in range(20)],
            "k long, grp string",
        ).repartition(1).sortWithinPartitions("k")
    )
    before = {
        r["k"]: r["_row_id"]
        for r in read_iceberg(spark, root, with_lineage=True).collect()
    }
    w.evolve_spec(["grp"])
    w.append(
        spark.createDataFrame(
            [(100 + i, "a") for i in range(5)], "k long, grp string"
        ).repartition(1).sortWithinPartitions("k")
    )
    # round 13: the multi-spec lineage read composes (per-spec union
    # scan + broadcast lineage join) — ids correct BEFORE any rewrite
    mid = {
        r["k"]: r["_row_id"]
        for r in read_iceberg(spark, root, with_lineage=True).collect()
    }
    assert all(mid[k] == v for k, v in before.items())
    assert sorted(mid[100 + i] for i in range(5)) == list(range(20, 25))
    w.optimize(num_files=1)
    after = {
        r["k"]: r["_row_id"]
        for r in read_iceberg(spark, root, with_lineage=True).collect()
    }
    assert all(after[k] == v for k, v in before.items())
    assert sorted(after[100 + i] for i in range(5)) == list(range(20, 25))
    full, *_ = IcebergTable(root).scan_entries_full(None)
    assert len({sid for *_x, sid in full}) == 1  # compacted to one spec


def test_dv_delete_preserves_carried_sequence_numbers(spark, tmp_path):
    """Round-13 live fix: delete_where_dv / delete_where_pos rewrite
    the manifest list — re-listing carried data manifests with the
    seq-less record shape zeroed every file's data sequence number
    (and with it _last_updated_sequence_number). Both now write via
    _write_manifest_list; seqs must survive a DV delete, including
    over a multi-spec snapshot with lineage read on top."""
    import os

    root = str(tmp_path / "seqkeep")
    w = IcebergWriter(spark, root)
    w.create(
        spark.createDataFrame(
            [(i, "a" if i % 2 == 0 else "b") for i in range(20)],
            "k long, grp string",
        ).coalesce(1)
    )
    w.evolve_spec(["grp"])
    w.append(
        spark.createDataFrame(
            [(100 + i, "a") for i in range(5)], "k long, grp string"
        ).coalesce(1)
    )
    t0 = IcebergTable(root)
    seqs_before = {
        os.path.basename(p): sq
        for p, _pv, sq, _s in t0.scan_entries_full(None)[0]
    }
    w.delete_where_dv(F.col("k") % 4 == 0)
    t1 = IcebergTable(root)
    seqs_after = {
        os.path.basename(p): sq
        for p, _pv, sq, _s in t1.scan_entries_full(None)[0]
    }
    assert seqs_after == seqs_before
    # and the multi-spec lineage read composes with the engine DVs
    rows = {
        r["k"]: r["_row_id"]
        for r in read_iceberg(spark, root, with_lineage=True).collect()
    }
    assert set(rows) == {k for k in list(range(20)) + [100 + i for i in range(5)] if k % 4 != 0}


@pytest.mark.parametrize("verb", ["pos", "eq"])
def test_pos_and_eq_deletes_never_lower_format_version(spark, tmp_path, verb):
    """A v2-form delete (position or equality delete file) on a v3
    lineage table keeps format-version 3, and its snapshot records
    first-row-id == next-row-id like a DV delete's (a delete adds no
    rows). Survivors keep their ids."""
    root, w = _mk(spark, tmp_path, f"fmt_{verb}")
    w.delete_where_dv(F.col("k") % 7 == 0)
    w.optimize(num_files=1)
    before = {
        r["k"]: r["_row_id"]
        for r in read_iceberg(spark, root, with_lineage=True).collect()
    }
    if verb == "pos":
        w.delete_where_pos(F.col("k") < 5)
    else:
        w.delete_where_eq(spark.createDataFrame([(k,) for k in range(5)], "k long"))
    t = IcebergTable(root)
    assert t.metadata["format-version"] == 3
    snap = t.metadata["snapshots"][-1]
    assert snap["summary"]["operation"] == "delete"
    assert snap["first-row-id"] == t.metadata["next-row-id"]
    after = {
        r["k"]: r["_row_id"]
        for r in read_iceberg(spark, root, with_lineage=True).collect()
    }
    assert after == {k: rid for k, rid in before.items() if k >= 5}
