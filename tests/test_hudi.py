"""Hudi COPY_ON_WRITE format tests (sources/hudi_meta.py): writer/
reader roundtrips, time travel, the incremental query's copy-forward
contract, empty-group deletes, honest refusals (MOR, replacecommit),
a hand-authored FOREIGN table layout, and the Delta conversion."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from plankton_spark.sources import delta_log, hudi_meta
from plankton_spark.sources.hudi_meta import (
    HudiTable,
    HudiWriter,
    read_hudi,
)


def _df(spark, lo, hi, status="A"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.lit(status).alias("status"),
        (F.col("id") % 5).alias("grp"),
    )


def _content(df):
    return sorted((r["k"], r["status"], r["grp"]) for r in df.collect())


def test_create_and_snapshot_roundtrip(spark, tmp_path):
    root = str(tmp_path / "t")
    w = HudiWriter(spark, root, record_key="k")
    w.create(_df(spark, 0, 100))
    out = read_hudi(spark, root)
    assert _content(out) == _content(_df(spark, 0, 100))
    # meta columns are in the files but pruned by default
    assert not [c for c in out.columns if c.startswith("_hoodie_")]
    meta = read_hudi(spark, root, with_meta=True)
    assert {c for c in meta.columns if c.startswith("_hoodie_")} == {
        "_hoodie_commit_time",
        "_hoodie_commit_seqno",
        "_hoodie_record_key",
        "_hoodie_partition_path",
        "_hoodie_file_name",
    }


def test_upsert_updates_and_inserts(spark, tmp_path):
    root = str(tmp_path / "t")
    w = HudiWriter(spark, root, record_key="k")
    w.create(_df(spark, 0, 100))
    w.upsert(_df(spark, 50, 120, status="B"))
    out = read_hudi(spark, root)
    assert out.count() == 120
    assert out.where(F.col("status") == "B").count() == 70
    assert _content(out.where(F.col("k") < 50)) == _content(_df(spark, 0, 50))


def test_partitioned_layout_and_prune(spark, tmp_path):
    root = str(tmp_path / "t")
    w = HudiWriter(spark, root, record_key="k", partition_field="status")
    base = _df(spark, 0, 50, "A").unionByName(_df(spark, 50, 80, "B"))
    w.create(base)
    # plain-VALUE partition dirs (Hudi default), not hive key=value
    assert os.path.isdir(os.path.join(root, "A"))
    assert os.path.isdir(os.path.join(root, "B"))
    pruned = read_hudi(spark, root, partition_path="B")
    assert pruned.count() == 30
    assert set(r["status"] for r in pruned.select("status").distinct().collect()) == {"B"}


def test_timetravel_and_slice_isolation(spark, tmp_path):
    root = str(tmp_path / "t")
    w = HudiWriter(spark, root, record_key="k")
    i1 = w.create(_df(spark, 0, 100))
    i2 = w.upsert(_df(spark, 0, 10, status="B"))
    i3 = w.delete_keys(spark.range(0, 100, 2).select(F.col("id").alias("k")))
    assert read_hudi(spark, root, as_of=i1).count() == 100
    v2 = read_hudi(spark, root, as_of=i2)
    assert v2.count() == 100
    assert v2.where(F.col("status") == "B").count() == 10
    v3 = read_hudi(spark, root, as_of=i3)
    assert v3.count() == 50
    assert v3.where(F.col("k") % 2 == 0).count() == 0
    # superseded slices untouched: v1 re-read still pristine
    assert read_hudi(spark, root, as_of=i1).where(F.col("status") == "B").count() == 0


def test_incremental_copy_forward_contract(spark, tmp_path):
    """COW copies keep their ORIGINAL _hoodie_commit_time, so the
    incremental range (i1, i2] returns exactly the records the upsert
    wrote — not the survivors it copied forward."""
    root = str(tmp_path / "t")
    w = HudiWriter(spark, root, record_key="k")
    i1 = w.create(_df(spark, 0, 100))
    i2 = w.upsert(_df(spark, 90, 130, status="B"))
    inc = read_hudi(spark, root, incremental=(i1, i2))
    assert inc.count() == 40
    assert set(r["k"] for r in inc.select("k").collect()) == set(range(90, 130))
    # and the copied survivors still carry i1
    meta = read_hudi(spark, root, with_meta=True)
    survivors = meta.where(F.col("k") < 90)
    assert set(
        r["_hoodie_commit_time"] for r in survivors.select("_hoodie_commit_time").distinct().collect()
    ) == {i1}


def test_delete_emptying_group_advances_slice(spark, tmp_path):
    """Deleting EVERY record of a file group must write an empty base
    file — otherwise the old slice stays latest and resurrects."""
    root = str(tmp_path / "t")
    w = HudiWriter(spark, root, record_key="k")
    w.create(_df(spark, 0, 30))
    w.delete_keys(spark.range(0, 30).select(F.col("id").alias("k")))
    assert read_hudi(spark, root).count() == 0


def test_group_buckets_fan_out(spark, tmp_path):
    root = str(tmp_path / "t")
    w = HudiWriter(spark, root, record_key="k", group_buckets=4)
    w.create(_df(spark, 0, 200))
    t = HudiTable(root)
    slices = t.file_slices()
    assert len(slices) == 4  # key-hash fan-out
    assert read_hudi(spark, root).count() == 200


def test_unknown_type_refusal_and_replacecommit_replay(spark, tmp_path):
    root = str(tmp_path / "t")
    w = HudiWriter(spark, root, record_key="k")
    w.create(_df(spark, 0, 10))
    # an unknown table type → reads refuse (MOR is supported now; a
    # COW-authored table re-labeled MOR still reads — base files only)
    props = os.path.join(root, ".hoodie", "hoodie.properties")
    orig = open(props).read()
    open(props, "w").write(orig.replace("COPY_ON_WRITE", "MERGE_ON_READ"))
    assert read_hudi(spark, root).count() == 10
    open(props, "w").write(orig.replace("COPY_ON_WRITE", "SOMETHING_ELSE"))
    with pytest.raises(NotImplementedError, match="SOMETHING_ELSE"):
        read_hudi(spark, root)
    open(props, "w").write(orig)
    # replacecommit replay: an empty one (no replaced groups, no new
    # files) is a metadata no-op...
    open(os.path.join(root, ".hoodie", "20990101000000000.replacecommit"), "w").write("{}")
    assert read_hudi(spark, root).count() == 10
    # ...and a hand-authored one listing every file group with no
    # replacement output empties the snapshot FROM that instant on,
    # while time travel before it still sees the replaced groups
    t = HudiTable(root)
    i1 = t.instants()[0]
    replaced = {}
    for part, fid, _ti, _rel in t.file_slices(i1):
        replaced.setdefault(part, []).append(fid)
    with open(
        os.path.join(root, ".hoodie", "20990102000000000.replacecommit"), "w"
    ) as fh:
        json.dump({"partitionToReplaceFileIds": replaced}, fh)
    with pytest.raises(ValueError, match="no file slices"):
        read_hudi(spark, root)
    assert read_hudi(spark, root, as_of=i1).count() == 10


def test_foreign_layout_read(spark, tmp_path):
    """A table authored by hand in the foreign writer's shape (UUID
    fileIds, real write tokens, pretty-printed commit JSON) reads
    through the same timeline replay."""
    root = str(tmp_path / "t")
    meta = os.path.join(root, ".hoodie")
    os.makedirs(meta)
    with open(os.path.join(meta, "hoodie.properties"), "w") as fh:
        fh.write(
            "hoodie.table.name=foreign\n"
            "hoodie.table.type=COPY_ON_WRITE\n"
            "hoodie.table.recordkey.fields=k\n"
            "hoodie.table.partition.fields=\n"
        )
    inst = "20240101120000000"
    fid = "01234567-89ab-cdef-0123-456789abcdef-0"
    fname = f"{fid}_20-118-236_{inst}.parquet"
    df = spark.range(0, 7).select(
        F.lit(inst).alias("_hoodie_commit_time"),
        F.concat(F.lit(inst + "_"), F.col("id").cast("string")).alias("_hoodie_commit_seqno"),
        F.col("id").cast("string").alias("_hoodie_record_key"),
        F.lit("").alias("_hoodie_partition_path"),
        F.lit(fname).alias("_hoodie_file_name"),
        F.col("id").alias("k"),
    )
    import glob
    import shutil

    tmp = os.path.join(root, "_stage")
    df.coalesce(1).write.parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    os.replace(part, os.path.join(root, fname))
    shutil.rmtree(tmp)
    commit = {
        "partitionToWriteStats": {
            "": [{"fileId": fid, "path": fname, "prevCommit": "null", "numWrites": 7}]
        },
        "operationType": "BULK_INSERT",
    }
    with open(os.path.join(meta, f"{inst}.commit"), "w") as fh:
        json.dump(commit, fh, indent=2)
    out = read_hudi(spark, root)
    assert sorted(r["k"] for r in out.collect()) == list(range(7))
    # engine writes continue the foreign timeline past its max instant
    w = HudiWriter(spark, root)
    i2 = w.upsert(spark.range(7, 9).select(F.col("id").alias("k")))
    assert i2 > inst
    assert read_hudi(spark, root).count() == 9


def test_convert_to_delta_matches_and_refuses_twice(spark, tmp_path):
    from plankton_spark.sources.delta_log import read_delta

    root = str(tmp_path / "t")
    w = HudiWriter(spark, root, record_key="k")
    w.create(_df(spark, 0, 60))
    w.upsert(_df(spark, 40, 80, status="B"))
    expected = _content(read_hudi(spark, root))
    delta_log.author(spark, root, hudi_meta.inventory)
    got = _content(read_delta(spark, root).select("k", "status", "grp"))
    assert got == expected
    assert "_hoodie_commit_time" not in read_delta(spark, root).columns
    with pytest.raises(FileExistsError):
        delta_log.author(spark, root, hudi_meta.inventory)


def test_pending_instants_invisible(spark, tmp_path):
    """An inflight (uncommitted) instant's files must not be read —
    the completed-timeline replay excludes them by construction."""
    root = str(tmp_path / "t")
    w = HudiWriter(spark, root, record_key="k")
    w.create(_df(spark, 0, 20))
    # simulate a crashed writer: requested+inflight but no completed
    open(os.path.join(root, ".hoodie", "20990101000000000.commit.requested"), "w").close()
    open(os.path.join(root, ".hoodie", "20990101000000000.commit.inflight"), "w").close()
    assert read_hudi(spark, root).count() == 20
    # and the next engine write picks an instant PAST the pending one
    i = HudiWriter(spark, root).upsert(spark.range(20, 25).select(F.col("id").alias("k")))
    assert i > "20990101000000000"


def test_convert_to_iceberg_multi_target(spark, tmp_path):
    """XTable multi-target layout: one Hudi table converts in place to
    BOTH Delta and Iceberg; all three chains read identical contents
    (superseded upsert slices invisible through every chain)."""
    from plankton_spark.sources.delta_log import read_delta
    from plankton_spark.sources import hudi_meta, iceberg_meta
    from plankton_spark.sources.iceberg_meta import read_iceberg

    root = str(tmp_path / "t")
    w = HudiWriter(spark, root, record_key="k")
    w.create(_df(spark, 0, 60))
    w.upsert(_df(spark, 40, 80, status="B"))
    expected = _content(read_hudi(spark, root))
    iceberg_meta.author(spark, root, hudi_meta.inventory)
    delta_log.author(spark, root, hudi_meta.inventory)
    assert _content(read_iceberg(spark, root).select("k", "status", "grp")) == expected
    assert _content(read_delta(spark, root).select("k", "status", "grp")) == expected
    with pytest.raises(FileExistsError):
        iceberg_meta.author(spark, root, hudi_meta.inventory)


# ---- MERGE_ON_READ ----


def test_log_block_codec_roundtrip(tmp_path):
    from plankton_spark.sources.hudi_log import (
        AVRO_DATA_BLOCK,
        DELETE_BLOCK,
        append_data_block,
        append_delete_block,
        log_block_instants,
        read_log_blocks,
    )

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "s", "type": ["null", "string"]},
        ],
    }
    p = str(tmp_path / ".fg-1_001.log.1_0-1-0")
    append_data_block(p, "001", schema, [{"k": 1, "s": "a"}, {"k": 2, "s": None}])
    append_data_block(p, "002", schema, [{"k": 3, "s": "c"}])
    append_delete_block(p, "003", [("1", ""), ("3", "")])
    got = list(read_log_blocks(p))
    assert got == [
        ("001", AVRO_DATA_BLOCK, [{"k": 1, "s": "a"}, {"k": 2, "s": None}]),
        ("002", AVRO_DATA_BLOCK, [{"k": 3, "s": "c"}]),
        ("003", DELETE_BLOCK, [("1", ""), ("3", "")]),
    ]
    assert log_block_instants(p) == {"001", "002", "003"}
    # idempotent append: a retried attempt whose instant is already
    # present is skipped (no duplicate block)
    append_data_block(p, "002", schema, [{"k": 3, "s": "c"}])
    append_delete_block(p, "003", [("1", ""), ("3", "")])
    assert list(read_log_blocks(p)) == got
    # corrupt tail (a FOREIGN writer's torn plain append): decodable
    # prefix survives
    with open(p, "ab") as fh:
        fh.write(b"#HUDI#\x00\x00\x00\x00\x00\x00\xff\xff partial")
    assert list(read_log_blocks(p)) == got


def test_mor_upsert_precedence_and_timetravel(spark, tmp_path):
    root = str(tmp_path / "t")
    w = HudiWriter(spark, root, record_key="k", table_type="MERGE_ON_READ")
    i1 = w.create(_df(spark, 0, 50))
    i2 = w.upsert(_df(spark, 0, 20, status="B"))
    i3 = w.upsert(_df(spark, 0, 10, status="C"))
    out = read_hudi(spark, root)
    assert out.count() == 50
    assert out.where(F.col("status") == "C").count() == 10
    assert out.where(F.col("status") == "B").count() == 10  # 10..19
    assert read_hudi(spark, root, as_of=i1).where(
        F.col("status") != "A"
    ).count() == 0
    v2 = read_hudi(spark, root, as_of=i2)
    assert v2.where(F.col("status") == "B").count() == 20
    inc = read_hudi(spark, root, incremental=(i1, i3))
    # latest versions changed in (i1, i3]: keys 0..19
    assert sorted(r["k"] for r in inc.select("k").collect()) == list(range(20))


def test_mor_compaction_equivalence(spark, tmp_path):
    root = str(tmp_path / "t")
    w = HudiWriter(spark, root, record_key="k", table_type="MERGE_ON_READ")
    w.create(_df(spark, 0, 50))
    w.upsert(_df(spark, 10, 60, status="B"))  # updates 10..49 + inserts 50..59
    before = _content(read_hudi(spark, root))
    w.compact()
    assert _content(read_hudi(spark, root)) == before
    t = HudiTable(root)
    assert sum(len(lrs) for *_x, lrs in t.file_slices_with_logs()) == 0
    # post-compaction upserts start a new log chain against the new base
    w.upsert(_df(spark, 0, 5, status="D"))
    out = read_hudi(spark, root)
    assert out.where(F.col("status") == "D").count() == 5
    assert out.count() == 60


def test_mor_refusals(spark, tmp_path):
    from plankton_spark.sources import delta_log, hudi_meta

    root = str(tmp_path / "t")
    w = HudiWriter(spark, root, record_key="k", table_type="MERGE_ON_READ")
    w.create(_df(spark, 0, 20))
    w.upsert(_df(spark, 0, 5, status="B"))
    # converters can't represent un-compacted log deltas
    with pytest.raises(NotImplementedError, match="log"):
        delta_log.author(spark, root, hudi_meta.inventory)
    # a deltacommit on a COW table is an inconsistent timeline
    root2 = str(tmp_path / "t2")
    w2 = HudiWriter(spark, root2, record_key="k")
    w2.create(_df(spark, 0, 10))
    open(os.path.join(root2, ".hoodie", "20990101000000000.deltacommit"), "w").write("{}")
    with pytest.raises(NotImplementedError, match="deltacommit"):
        read_hudi(spark, root2)


def test_mor_delete_lifecycle(spark, tmp_path):
    """MOR DELETE_BLOCK path: delete_keys appends tombstone events to
    the touched groups' logs (no base rewrite); the latest-wins merge
    hides the keys — including keys whose latest version lives in a
    LOG (update-then-delete); compaction folds the deletes into fresh
    bases; a post-compaction read is identical; the converter refusal
    lifts once compacted."""
    from plankton_spark.sources.delta_log import read_delta
    from plankton_spark.sources import delta_log, hudi_meta

    root = str(tmp_path / "t")
    w = HudiWriter(spark, root, record_key="k", table_type="MERGE_ON_READ")
    i1 = w.create(_df(spark, 0, 50))
    w.upsert(_df(spark, 0, 20, status="B"))  # log updates
    # delete: 5 log-updated keys, 5 base-only keys, 3 nonexistent
    keys = spark.createDataFrame(
        [(k,) for k in [0, 1, 2, 3, 4, 30, 31, 32, 33, 34, 900, 901, 902]],
        "k long",
    )
    i3 = w.delete_keys(keys)
    out = read_hudi(spark, root)
    assert out.count() == 40
    gone = {0, 1, 2, 3, 4, 30, 31, 32, 33, 34}
    assert set(r["k"] for r in out.collect()) == set(range(50)) - gone
    # update-then-delete keys stay gone; surviving updates stay 'B'
    assert out.where(F.col("status") == "B").count() == 15
    # time travel BEFORE the delete still sees everything
    assert read_hudi(spark, root, as_of=i1).count() == 50
    # no base file was rewritten by the delete (log event only)
    t = HudiTable(root)
    assert all(
        ti == i1 for _p, _f, ti, _rel, _lrs in t.file_slices_with_logs()
    )
    before = _content(out)
    w.compact()
    assert _content(read_hudi(spark, root)) == before
    assert sum(len(lrs) for *_x, lrs in HudiTable(root).file_slices_with_logs()) == 0
    # converter refusal lifts on the compacted table
    delta_log.author(spark, root, hudi_meta.inventory)
    assert _content(read_delta(spark, root).select("k", "status", "grp")) == before
    # incremental across the delete range emits no rows for deleted
    # keys (removals are not records)
    inc = read_hudi(spark, root, incremental=(i1, i3))
    assert set(r["k"] for r in inc.select("k").collect()) == set(range(5, 20))


def test_mor_delete_empties_group(spark, tmp_path):
    """Deleting EVERY record of a MOR file group, then compacting,
    must advance the slice with an empty base file — not resurrect."""
    root = str(tmp_path / "t")
    w = HudiWriter(spark, root, record_key="k", table_type="MERGE_ON_READ")
    w.create(_df(spark, 0, 30))
    w.delete_keys(spark.range(0, 30).select(F.col("id").alias("k")))
    assert read_hudi(spark, root).count() == 0
    w.compact()
    assert read_hudi(spark, root).count() == 0


def test_cow_clustering_lifecycle(spark, tmp_path):
    """cluster() rewrites the live groups into group_buckets fresh
    ones under a replacecommit: snapshot content identical, replaced
    groups invisible from the instant on but time-travelable before
    it, commit time AND seqno preserved (layout-only ⇒ incremental
    silent), empty-group tombstones compact away."""
    root = str(tmp_path / "t")
    w = HudiWriter(spark, root, record_key="k", group_buckets=4)
    i1 = w.create(_df(spark, 0, 200))
    i2 = w.upsert(_df(spark, 150, 220, status="B"))
    # empty a whole group so clustering has a tombstone to fold
    i3 = w.delete_keys(
        spark.range(0, 200, 4).select(F.col("id").alias("k"))
    )
    before = _content(read_hudi(spark, root))
    meta_before = {
        r["_hoodie_record_key"]: (
            r["_hoodie_commit_time"], r["_hoodie_commit_seqno"]
        )
        for r in read_hudi(spark, root, with_meta=True).collect()
    }
    w.group_buckets = 3
    ic = w.cluster()
    assert _content(read_hudi(spark, root)) == before
    t = HudiTable(root)
    slices = t.file_slices()
    assert len(slices) == 3  # the new bucketed layout
    assert all(ti == ic for _p, _f, ti, _rel in slices)
    # layout-only: per-record commit metadata carried through untouched
    meta_after = {
        r["_hoodie_record_key"]: (
            r["_hoodie_commit_time"], r["_hoodie_commit_seqno"]
        )
        for r in read_hudi(spark, root, with_meta=True).collect()
    }
    assert meta_after == meta_before
    # incremental across the clustering emits nothing for it
    assert read_hudi(spark, root, incremental=(i3, ic)).count() == 0
    # ...and the pre-clustering ranges are unchanged
    inc = read_hudi(spark, root, incremental=(i1, ic))
    assert inc.count() == read_hudi(spark, root, incremental=(i1, i3)).count()
    # time travel before the replacecommit sees the OLD layout
    assert len(t.file_slices(i2)) > 3
    assert read_hudi(spark, root, as_of=i2).count() == 220
    # post-clustering writes continue normally
    w.upsert(_df(spark, 300, 310, status="C"))
    assert read_hudi(spark, root).count() == 180  # 220 - 50 deleted + 10


def test_empty_incremental_and_prune_return_empty(spark, tmp_path):
    """An incremental range with no changes (or a partition prune
    matching nothing) is a legitimate empty result, not an error —
    schema intact, zero rows."""
    root = str(tmp_path / "t")
    w = HudiWriter(spark, root, record_key="k", partition_field="status")
    i1 = w.create(_df(spark, 0, 30))
    empty = read_hudi(spark, root, incremental=(i1, i1))
    assert empty.count() == 0
    assert set(empty.columns) == {"k", "status", "grp"}
    pruned = read_hudi(spark, root, partition_path="ZZZ")
    assert pruned.count() == 0
    # MOR flavor
    root2 = str(tmp_path / "t2")
    w2 = HudiWriter(spark, root2, record_key="k", table_type="MERGE_ON_READ")
    j1 = w2.create(_df(spark, 0, 10))
    assert read_hudi(spark, root2, incremental=(j1, j1)).count() == 0


def test_survivor_seqno_preserved(spark, tmp_path):
    """COW copies keep BOTH their original _hoodie_commit_time and
    _hoodie_commit_seqno; only rows the writing instant changed mint
    new seqnos (foreign readers ordering by seqno never misattribute
    copies)."""
    root = str(tmp_path / "t")
    w = HudiWriter(spark, root, record_key="k")
    i1 = w.create(_df(spark, 0, 50))
    seqno_before = {
        r["_hoodie_record_key"]: r["_hoodie_commit_seqno"]
        for r in read_hudi(spark, root, with_meta=True).collect()
    }
    i2 = w.upsert(_df(spark, 40, 60, status="B"))
    meta = read_hudi(spark, root, with_meta=True)
    rows = {
        r["_hoodie_record_key"]: (
            r["_hoodie_commit_time"], r["_hoodie_commit_seqno"]
        )
        for r in meta.collect()
    }
    for k in range(40):
        ct, sq = rows[str(k)]
        assert ct == i1
        assert sq == seqno_before[str(k)]  # copy: original seqno kept
    for k in range(40, 60):
        ct, sq = rows[str(k)]
        assert ct == i2
        assert sq.startswith(i2 + "_")  # changed: new seqno minted


def test_rollback_scoped_to_instant(spark, tmp_path):
    """rollback(A) must NOT sweep an unreferenced log staged by a
    DIFFERENT still-pending deltacommit B — orphan attribution goes by
    the logs' block INSTANT_TIME headers."""
    from plankton_spark.sources.hudi_log import append_data_block
    from plankton_spark.sources.hudi_meta import rollback

    root = str(tmp_path / "t")
    w = HudiWriter(spark, root, record_key="k", table_type="MERGE_ON_READ")
    w.create(_df(spark, 0, 20))
    t = HudiTable(root)
    part, fid, base_instant, _rel, _lrs = t.file_slices_with_logs()[0]
    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "k", "type": "long"}],
    }
    crash_a = "20990101000000000"
    crash_b = "20990102000000000"
    for inst in (crash_a, crash_b):
        for phase in ("requested", "inflight"):
            open(
                os.path.join(root, ".hoodie", f"{inst}.deltacommit.{phase}"),
                "w",
            ).close()
    log_a = f".{fid}_{base_instant}.log.7_0-1-0"
    log_b = f".{fid}_{base_instant}.log.8_0-1-0"
    append_data_block(os.path.join(root, log_a), crash_a, schema, [{"k": 1}])
    append_data_block(os.path.join(root, log_b), crash_b, schema, [{"k": 2}])
    removed = rollback(root, crash_a)
    assert log_a in removed
    assert log_b not in removed
    assert os.path.exists(os.path.join(root, log_b))
    rollback(root, crash_b)
    assert not os.path.exists(os.path.join(root, log_b))


def test_virtual_key_incremental_slice_grain(spark, tmp_path):
    """Converted (virtual-key) tables get file-slice-grain incremental
    attribution: the conversion instant owns every converted slice, a
    later empty range returns an empty frame."""
    from plankton_spark.sources.delta_log import DeltaLogWriter
    from plankton_spark.sources import delta_log, hudi_meta

    root = str(tmp_path / "t")
    dw = DeltaLogWriter(spark, root)
    dw.create(_df(spark, 0, 40).coalesce(1))
    dw.delete_where(F.col("k") % 4 == 0)
    inst = hudi_meta.author(spark, root, delta_log.inventory, record_key="k")
    full = read_hudi(spark, root, incremental=("0" * 17, inst))
    assert full.count() == 30
    assert set(full.columns) == {"k", "status", "grp"}
    assert read_hudi(spark, root, incremental=(inst, inst)).count() == 0


def test_hudiincr_offset_shapes(spark, tmp_path):
    """hudiincr offsets carry the last-consumed INSTANT TIME; legacy
    ordinal checkpoints still resolve; a cleaned-away file referenced
    by an unconsumed range fails with a retention-aware error."""
    from plankton_spark.sources.hudi_meta import (
        HudiIncrStreamReader,
        clean,
    )

    root = str(tmp_path / "t")
    w = HudiWriter(spark, root, record_key="k")
    i1 = w.create(_df(spark, 0, 20))
    i2 = w.upsert(_df(spark, 0, 5, status="B"))
    schema = read_hudi(spark, root, with_meta=True).schema
    r = HudiIncrStreamReader(root, schema)
    assert r.initialOffset() == {"last": ""}
    assert r.latestOffset() == {"last": i2}
    parts = r.partitions({"last": i1}, {"last": i2})
    assert {p.instant for p in parts} == {i2}
    # legacy ordinal offset maps onto the same timeline
    parts_legacy = r.partitions({"pos": 1}, {"last": i2})
    assert {p.instant for p in parts_legacy} == {i2}
    # retention outrunning the consumer → loud, named error
    clean(root, keep_last_slices=1)
    with pytest.raises(ValueError, match="retention"):
        r.partitions({"last": ""}, {"last": i2})


def test_clean_retention_and_rollback(spark, tmp_path):
    from plankton_spark.sources.hudi_meta import clean, rollback

    root = str(tmp_path / "t")
    w = HudiWriter(spark, root, record_key="k")
    i1 = w.create(_df(spark, 0, 40))
    w.upsert(_df(spark, 0, 10, status="B"))
    w.upsert(_df(spark, 0, 10, status="C"))
    before = _content(read_hudi(spark, root))
    deleted = clean(root, keep_last_slices=1)
    assert deleted  # two superseded base versions of the touched group
    # the live snapshot is untouched
    assert _content(read_hudi(spark, root)) == before
    # time travel to the cleaned-away version now fails at scan time
    with pytest.raises(Exception):
        read_hudi(spark, root, as_of=i1).collect()

    # rollback: a crashed write leaves pending files + staged data
    crash = "20990101000000000"
    open(os.path.join(root, ".hoodie", f"{crash}.commit.requested"), "w").close()
    open(os.path.join(root, ".hoodie", f"{crash}.commit.inflight"), "w").close()
    orphan = f"fg-crash-1_0-1-0_{crash}.parquet"
    _df(spark, 0, 3).coalesce(1).write.parquet(str(tmp_path / "stage"))
    import glob as g
    import shutil as sh

    src = g.glob(str(tmp_path / "stage" / "part-*.parquet"))[0]
    os.replace(src, os.path.join(root, orphan))
    sh.rmtree(str(tmp_path / "stage"))
    removed = rollback(root, crash)
    assert orphan in removed
    assert not os.path.exists(os.path.join(root, orphan))
    assert not os.path.exists(
        os.path.join(root, ".hoodie", f"{crash}.commit.inflight")
    )
    # completed instants refuse
    done = HudiTable(root).instants()[-1]
    with pytest.raises(ValueError, match="COMPLETED"):
        rollback(root, done)
    # engine writes continue cleanly after clean + rollback
    w.upsert(_df(spark, 40, 45))
    assert read_hudi(spark, root).count() == 45


def test_mor_clean_drops_detached_logs(spark, tmp_path):
    from plankton_spark.sources.hudi_meta import clean

    root = str(tmp_path / "t")
    w = HudiWriter(spark, root, record_key="k", table_type="MERGE_ON_READ")
    w.create(_df(spark, 0, 30))
    w.upsert(_df(spark, 0, 10, status="B"))
    w.compact()
    before = _content(read_hudi(spark, root))
    deleted = clean(root, keep_last_slices=1)
    # the pre-compaction base AND its detached log are both cleaned
    assert any(".log." in d for d in deleted)
    assert _content(read_hudi(spark, root)) == before


def test_delta_to_hudi_virtual_keys(spark, tmp_path):
    from plankton_spark.sources.delta_log import DeltaLogWriter, read_delta
    from plankton_spark.sources import delta_log, hudi_meta

    root = str(tmp_path / "t")
    dw = DeltaLogWriter(spark, root)
    dw.create(_df(spark, 0, 50).coalesce(1))
    dw.append(_df(spark, 50, 80, status="B").coalesce(1))
    dw.delete_where(F.col("k") % 5 == 0)
    expected = _content(read_delta(spark, root))
    hudi_meta.author(spark, root, delta_log.inventory, record_key="k")
    got = _content(read_hudi(spark, root).select("k", "status", "grp"))
    assert got == expected
    # virtual-key refusal: meta reads (nothing to surface). Engine
    # WRITES work since round 13 (test_virtual_key_write_lifecycle);
    # incremental is file-slice-grain attributed — see
    # test_virtual_key_incremental_slice_grain.
    with pytest.raises(NotImplementedError, match="virtual-key"):
        read_hudi(spark, root, with_meta=True)
    w = HudiWriter(spark, root)
    assert w.virtual and w.record_key == "k"
    with pytest.raises(FileExistsError):
        hudi_meta.author(spark, root, delta_log.inventory, record_key="k")
    # partitioned Delta refuses (content lacks the partition column)
    root2 = str(tmp_path / "t2")
    dw2 = DeltaLogWriter(spark, root2)
    dw2.create(_df(spark, 0, 20), partition_by=["status"])
    with pytest.raises(NotImplementedError, match="partition"):
        hudi_meta.author(spark, root2, delta_log.inventory, record_key="k")


def test_iceberg_to_hudi_virtual_keys(spark, tmp_path):
    from plankton_spark.sources import hudi_meta, iceberg_meta
    from plankton_spark.sources.iceberg_meta import IcebergWriter, read_iceberg

    root = str(tmp_path / "t")
    iw = IcebergWriter(spark, root)
    iw.create(_df(spark, 0, 50).coalesce(1))
    iw.append(_df(spark, 50, 70, status="B").coalesce(1))
    iw.delete_where(F.col("k") % 4 == 0)  # rewrite: old files tombstoned
    expected = _content(read_iceberg(spark, root).select("k", "status", "grp"))
    hudi_meta.author(spark, root, iceberg_meta.inventory, record_key="k")
    got = _content(read_hudi(spark, root).select("k", "status", "grp"))
    assert got == expected
    # DV'd source refuses
    root2 = str(tmp_path / "t2")
    iw2 = IcebergWriter(spark, root2)
    iw2.create(_df(spark, 0, 30).coalesce(1))
    iw2.delete_where_dv(F.col("k") == 1)
    with pytest.raises(NotImplementedError, match="row-level deletes"):
        hudi_meta.author(spark, root2, iceberg_meta.inventory, record_key="k")


def test_duplicate_key_batches_refuse(spark, tmp_path):
    """An upsert/delete batch with duplicate record keys refuses
    (Hudi collapses them via precombine BEFORE the write; silently
    writing would duplicate rows on COW and make the MOR log merge
    nondeterministic)."""
    root = str(tmp_path / "cow")
    w = HudiWriter(spark, root, record_key="k")
    w.create(_df(spark, 0, 20))
    dup = _df(spark, 0, 5).unionByName(_df(spark, 3, 8, status="B"))
    with pytest.raises(ValueError, match="duplicate record keys"):
        w.upsert(dup)
    root2 = str(tmp_path / "mor")
    w2 = HudiWriter(spark, root2, record_key="k", table_type="MERGE_ON_READ")
    w2.create(_df(spark, 0, 20))
    with pytest.raises(ValueError, match="duplicate record keys"):
        w2.upsert(dup)


def test_rollback_sweeps_orphan_logs(spark, tmp_path):
    """A crashed MOR deltacommit leaves a staged log file no completed
    instant references; rollback must sweep it while leaving every
    COMMITTED log untouched."""
    from plankton_spark.sources.hudi_log import append_data_block
    from plankton_spark.sources.hudi_meta import rollback

    root = str(tmp_path / "t")
    w = HudiWriter(spark, root, record_key="k", table_type="MERGE_ON_READ")
    w.create(_df(spark, 0, 20))
    w.upsert(_df(spark, 0, 5, status="B"))  # committed log
    before = _content(read_hudi(spark, root))
    committed_logs = [
        n for n in os.listdir(root) if ".log." in n
    ]
    assert committed_logs
    # simulate the crash: pending deltacommit + staged orphan log
    crash = "20990101000000000"
    for phase in ("requested", "inflight"):
        open(os.path.join(root, ".hoodie", f"{crash}.deltacommit.{phase}"), "w").close()
    t = HudiTable(root)
    base_instant = t.file_slices_with_logs()[0][2]
    orphan = f".{t.file_slices_with_logs()[0][1]}_{base_instant}.log.9_0-1-0"
    append_data_block(
        os.path.join(root, orphan),
        crash,
        {"type": "record", "name": "r", "fields": [{"name": "k", "type": "long"}]},
        [{"k": 999}],
    )
    removed = rollback(root, crash)
    assert orphan in removed
    assert not os.path.exists(os.path.join(root, orphan))
    for n in committed_logs:
        assert os.path.exists(os.path.join(root, n))
    assert _content(read_hudi(spark, root)) == before


def test_partitioned_mor_lifecycle(spark, tmp_path):
    """MOR over a PARTITIONED table: log files land inside the
    partition dirs of their file groups; merge, compaction and the
    partition prune all hold."""
    root = str(tmp_path / "t")
    w = HudiWriter(
        spark, root, record_key="k", partition_field="status",
        table_type="MERGE_ON_READ",
    )
    base = _df(spark, 0, 40, "A").unionByName(_df(spark, 40, 60, "B"))
    w.create(base)
    # update 10 'A'-partition records (grp flips) + insert new 'B's
    upd = _df(spark, 0, 10, "A").withColumn("grp", F.lit(9).cast("long"))
    ins = _df(spark, 60, 70, "B")
    w.upsert(upd.unionByName(ins))
    out = read_hudi(spark, root)
    assert out.count() == 70
    assert out.where(F.col("grp") == 9).count() == 10
    pruned = read_hudi(spark, root, partition_path="B")
    assert pruned.count() == 30
    w.compact()
    assert _content(read_hudi(spark, root)) == _content(
        base.where(F.col("k") >= 10)
        .unionByName(upd)
        .unionByName(ins)
    )


def _disk_files(root):
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        if rel.split(os.sep)[0] == ".hoodie":
            continue
        for n in files:
            part = "" if rel == "." else rel
            out[(part, n)] = os.path.getsize(os.path.join(dirpath, n))
    return out


def test_metadata_table_files_listing_parity(spark, tmp_path):
    """hoodie.metadata.enable: every completed instant upserts its
    written files into the internal MOR metadata table's `files`
    partition; clean/rollback mark removals with isDeleted records.
    The listing must equal the PHYSICAL on-disk file set (names AND
    sizes) after every lifecycle step — the parity the timeline
    fallback is measured against."""
    from plankton_spark.sources.hudi_meta import clean, metadata_listing

    root = str(tmp_path / "t")
    w = HudiWriter(
        spark, root, record_key="k", partition_field="status",
        group_buckets=2, metadata_table=True,
    )

    def listed():
        return {
            (r["part"], r["fname"]): r["fsize"]
            for r in metadata_listing(spark, root).collect()
        }

    base = _df(spark, 0, 40, "A").unionByName(_df(spark, 40, 60, "B"))
    w.create(base)
    assert listed() == _disk_files(root)
    w.upsert(
        _df(spark, 0, 10, "A").withColumn("grp", F.lit(7).cast("long"))
    )
    assert listed() == _disk_files(root)
    w.delete_keys(spark.range(40, 45).select(F.col("id").alias("k")))
    assert listed() == _disk_files(root)
    w.group_buckets = 1
    w.cluster()
    assert listed() == _disk_files(root)
    # retention: physically removed files drop out of the listing
    deleted = clean(root, keep_last_slices=1, spark=spark)
    assert deleted
    assert listed() == _disk_files(root)
    # rollback of a staged crash updates the listing too
    crash = "20990101000000000"
    for phase in ("requested", "inflight"):
        open(os.path.join(root, ".hoodie", f"{crash}.commit.{phase}"), "w").close()
    orphan = f"fg-crash-7_0-1-0_{crash}.parquet"
    _df(spark, 0, 3).coalesce(1).write.parquet(str(tmp_path / "stage"))
    import glob as g
    import shutil as sh

    src = g.glob(str(tmp_path / "stage" / "part-*.parquet"))[0]
    os.replace(src, os.path.join(root, "A", orphan))
    sh.rmtree(str(tmp_path / "stage"))
    from plankton_spark.sources.hudi_meta import rollback

    rollback(root, crash, spark=spark)
    assert listed() == _disk_files(root)
    # a metadata-disabled table refuses the listing (timeline is the
    # documented fallback), and the metadata table never recurses
    root2 = str(tmp_path / "t2")
    HudiWriter(spark, root2, record_key="k").create(_df(spark, 0, 5))
    with pytest.raises(ValueError, match="metadata"):
        metadata_listing(spark, root2)
    assert not os.path.isdir(
        os.path.join(root, ".hoodie", "metadata", ".hoodie", "metadata")
    )


def test_insert_overwrite_partitions_and_table(spark, tmp_path):
    """INSERT OVERWRITE (the other replacecommit flavor): default
    scope replaces every group of the partitions the input touches —
    untouched partitions carry forward; whole_table=True replaces
    everything; MOR replaced groups drop their logs with them; time
    travel before the instant still sees the old groups."""
    root = str(tmp_path / "t")
    w = HudiWriter(spark, root, record_key="k", partition_field="status")
    base = _df(spark, 0, 40, "A").unionByName(_df(spark, 40, 60, "B"))
    i1 = w.create(base)
    repl = _df(spark, 100, 110, "A").withColumn("grp", F.lit(9).cast("long"))
    io = w.insert_overwrite(repl)
    out = read_hudi(spark, root)
    # partition A fully replaced, B untouched
    assert _content(out) == _content(
        repl.unionByName(_df(spark, 40, 60, "B"))
    )
    assert read_hudi(spark, root, as_of=i1).count() == 60
    # incremental attribution: the overwrite's rows are NEW records
    inc = read_hudi(spark, root, incremental=(i1, io))
    assert sorted(r["k"] for r in inc.collect()) == list(range(100, 110))
    # whole-table overwrite
    w.insert_overwrite(_df(spark, 200, 205, "C"), whole_table=True)
    assert read_hudi(spark, root).count() == 5
    # MOR: replaced groups shed their logs
    root2 = str(tmp_path / "t2")
    w2 = HudiWriter(spark, root2, record_key="k", table_type="MERGE_ON_READ")
    w2.create(_df(spark, 0, 30))
    w2.upsert(_df(spark, 0, 5, status="B"))  # log on the base group
    w2.insert_overwrite(_df(spark, 500, 510, "Z"))
    out2 = read_hudi(spark, root2)
    assert _content(out2) == _content(_df(spark, 500, 510, "Z"))
    t2 = HudiTable(root2)
    assert sum(len(lrs) for *_x, lrs in t2.file_slices_with_logs()) == 0


def test_column_stats_file_skipping(spark, tmp_path):
    """column_stats partition + stats_filter: range-clustered ingest
    (one fresh file group per insert) lets a key-range read skip
    whole slices from ONE metadata read; the kept set is a SUPERSET
    (unknown stats never prune) and the residual predicate stays
    exact; MOR refuses until compacted."""
    from plankton_spark.sources.hudi_meta import prune_slices_by_stats

    root = str(tmp_path / "t")
    w = HudiWriter(spark, root, record_key="k", metadata_table=True)
    w.create(_df(spark, 0, 100))
    w.insert(_df(spark, 100, 200))
    w.insert(_df(spark, 200, 300))
    t = HudiTable(root)
    slices = t.file_slices()
    assert len(slices) == 3
    kept = prune_slices_by_stats(spark, root, slices, ("k", 120, 180))
    assert len(kept) == 1
    out = read_hudi(spark, root, stats_filter=("k", 120, 180))
    assert sorted(r["k"] for r in out.collect()) == list(range(100, 200))
    exact = out.where(F.col("k").between(120, 180))
    assert exact.count() == 61
    # out-of-range → empty frame, schema intact
    assert read_hudi(spark, root, stats_filter=("k", 900, 950)).count() == 0
    # no metadata table → loud, named error
    root2 = str(tmp_path / "t2")
    HudiWriter(spark, root2, record_key="k").create(_df(spark, 0, 10))
    with pytest.raises(ValueError, match="metadata"):
        read_hudi(spark, root2, stats_filter=("k", 0, 5))
    # MOR refuses (log records carry no stats)
    root3 = str(tmp_path / "t3")
    w3 = HudiWriter(
        spark, root3, record_key="k", table_type="MERGE_ON_READ",
        metadata_table=True,
    )
    w3.create(_df(spark, 0, 10))
    with pytest.raises(NotImplementedError, match="stats_filter"):
        read_hudi(spark, root3, stats_filter=("k", 0, 5))


def test_hudiincr_starting_instant_option(spark, tmp_path):
    """option("startingInstant", t): a fresh consumer begins strictly
    after t instead of replaying the whole timeline (real Hudi's
    begin.instanttime); checkpointed consumers keep their own
    resume point."""
    import shutil
    import uuid as _uuid

    from plankton_spark.sources.hudi_meta import register

    register(spark)
    root = str(tmp_path / "t")
    w = HudiWriter(spark, root, record_key="k")
    i1 = w.create(_df(spark, 0, 50))
    w.upsert(_df(spark, 50, 60, status="B"))
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    shutil.rmtree(sink, ignore_errors=True)
    q = (
        spark.readStream.format("hudiincr")
        .option("path", root)
        .option("startingInstant", i1)
        .load()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .queryName(f"hsi_{_uuid.uuid4().hex[:8]}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    feed = spark.read.parquet(sink)
    # only the upsert's write-set: the create instant is skipped
    assert sorted(r["k"] for r in feed.select("k").collect()) == list(
        range(50, 60)
    )


def test_bloom_codec_no_false_negatives(tmp_path):
    from plankton_spark.sources.hudi_bloom import (
        bloom_build,
        bloom_decode,
        bloom_might_contain,
    )

    keys = [f"k-{i}" for i in range(1000)]
    dec = bloom_decode(bloom_build(keys))
    assert all(bloom_might_contain(dec, k) for k in keys)  # NEVER misses
    # false positives exist but stay rare at BITS_PER_KEY sizing
    fp = sum(
        bloom_might_contain(dec, f"absent-{i}") for i in range(2000)
    )
    assert fp < 20  # ~2e-4 expected; generous determinism margin


def test_bloom_index_prunes_upsert_tagging(spark, tmp_path):
    """The metadata table's bloom_filters partition: upsert tagging
    reads ONLY the files whose bloom might hold an incoming key —
    range-clustered ingest makes the prune exact — and the upsert
    result is bit-identical to a metadata-disabled twin table
    (false positives widen the read, never the result; no false
    negatives by construction)."""
    root_b = str(tmp_path / "bloomed")
    root_p = str(tmp_path / "plain")
    wb = HudiWriter(spark, root_b, record_key="k", metadata_table=True)
    wp = HudiWriter(spark, root_p, record_key="k")
    for w in (wb, wp):
        w.create(_df(spark, 0, 100))
        w.insert(_df(spark, 100, 200))
        w.insert(_df(spark, 200, 300))
    t = HudiTable(root_b)
    slices = t.file_slices()
    assert len(slices) == 3
    incoming = _df(spark, 120, 180, status="B").withColumn(
        "__key", F.col("k").cast("string")
    )
    cand = wb._bloom_candidate_set(
        incoming, [(p, fid, rel) for p, fid, _ti, rel in slices]
    )
    assert cand is not None and len(cand) == 1  # only the 100..199 file
    # plain table has no metadata → no pruning path
    assert (
        wp._bloom_candidate_set(
            incoming,
            [(p, fid, rel) for p, fid, _ti, rel in HudiTable(root_p).file_slices()],
        )
        is None
    )
    # differential: identical logical results, updates AND inserts
    batch = _df(spark, 150, 320, status="B")
    wb.upsert(batch)
    wp.upsert(batch)
    assert _content(read_hudi(spark, root_b)) == _content(
        read_hudi(spark, root_p)
    )
    # delete through the pruned MOR path too (fresh MOR twin pair)
    root_mb = str(tmp_path / "mor_bloomed")
    root_mp = str(tmp_path / "mor_plain")
    wmb = HudiWriter(
        spark, root_mb, record_key="k", table_type="MERGE_ON_READ",
        metadata_table=True,
    )
    wmp = HudiWriter(
        spark, root_mp, record_key="k", table_type="MERGE_ON_READ"
    )
    for w in (wmb, wmp):
        w.create(_df(spark, 0, 60))
        w.insert(_df(spark, 60, 120))
        w.upsert(_df(spark, 10, 20, status="B"))
        w.delete_keys(spark.range(70, 80).select(F.col("id").alias("k")))
    assert _content(read_hudi(spark, root_mb)) == _content(
        read_hudi(spark, root_mp)
    )


def test_bloom_codec_property(tmp_path):
    """Property sweep over sizes and key shapes: membership never
    misses (the upsert-safety invariant), decode inverts build, and
    sizing scales with the key count."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from plankton_spark.sources.hudi_bloom import (
        bloom_build,
        bloom_decode,
        bloom_might_contain,
    )

    @settings(max_examples=30, deadline=None)
    @given(
        st.lists(
            st.text(min_size=0, max_size=40), min_size=0, max_size=300
        )
    )
    def check(keys):
        dec = bloom_decode(bloom_build(keys))
        assert all(bloom_might_contain(dec, k) for k in keys)
        m, k, bits = dec
        assert k == 7 and m >= 4096 and len(bits) == (m + 7) // 8

    check()


def test_precombine_collapses_dup_key_batches(spark, tmp_path):
    """A table created with precombine= collapses duplicate-key
    upsert batches latest-wins on that column (COW and MOR), refuses
    precombine TIES, collapses delete batches to distinct keys, and
    round-trips the property through hoodie.properties."""
    from plankton_spark.sources.hudi_meta import HudiTable

    def mk(n):
        return spark.createDataFrame(
            [(i, 0, "A") for i in range(n)], "k int, ts int, s string"
        )

    dup = spark.createDataFrame(
        [(3, 5, "B"), (3, 9, "C"), (99, 1, "N"), (99, 7, "M")],
        "k int, ts int, s string",
    )
    for ttype in ("COPY_ON_WRITE", "MERGE_ON_READ"):
        root = str(tmp_path / ttype.lower())
        w = HudiWriter(
            spark, root, record_key="k", table_type=ttype, precombine="ts"
        )
        w.create(mk(10))
        t = HudiTable(root)
        assert t.precombine_field == "ts"
        assert (
            t.props["hoodie.datasource.write.precombine.field"] == "ts"
        )
        # reopened writer reads precombine back from props
        w2 = HudiWriter(spark, root)
        assert w2.precombine == "ts"
        w2.upsert(dup)
        rows = {
            r["k"]: (r["ts"], r["s"])
            for r in read_hudi(spark, root).collect()
        }
        assert rows[3] == (9, "C") and rows[99] == (7, "M")
        assert len(rows) == 11
        # ties have no deterministic winner — refuse
        tie = spark.createDataFrame(
            [(5, 1, "X"), (5, 1, "Y")], "k int, ts int, s string"
        )
        with pytest.raises(ValueError, match="tie"):
            w2.upsert(tie)
        # duplicate-key DELETE batches collapse to distinct keys
        w2.delete_keys(
            spark.createDataFrame(
                [(3, 0, "z"), (3, 0, "z")], "k int, ts int, s string"
            )
        )
        assert 3 not in {r["k"] for r in read_hudi(spark, root).collect()}


def test_virtual_key_write_lifecycle(spark, tmp_path):
    """Round-13: engine writes on VIRTUAL-KEY (converted) tables —
    tagging/survivor joins key on the declared record-key column,
    file attribution via _metadata.file_path joined to the slice
    map, no meta-field backfill. Upsert updates + inserts, delete
    removes, untouched groups are not rewritten, time travel to the
    conversion instant intact, virtual MOR refuses."""
    from plankton_spark.sources.delta_log import DeltaLogWriter
    from plankton_spark.sources.hudi_meta import HudiTable
    from plankton_spark.sources import delta_log, hudi_meta

    root = str(tmp_path / "vk")
    dw = DeltaLogWriter(spark, root)
    dw.create(_df(spark, 0, 50).coalesce(1))
    dw.append(_df(spark, 50, 80, status="B").coalesce(1))
    inst0 = hudi_meta.author(spark, root, delta_log.inventory, record_key="k")
    w = HudiWriter(spark, root)
    assert w.virtual
    up = _df(spark, 0, 5, status="U").unionByName(
        _df(spark, 200, 205, status="N")
    )
    i1 = w.upsert(up)
    snap = {r["k"]: r["status"] for r in read_hudi(spark, root).collect()}
    assert len(snap) == 85
    assert snap[0] == "U" and snap[49] == "A" and snap[200] == "N"
    assert snap[60] == "B"
    # untouched group (50-79) kept its original slice (not rewritten)
    slices = {fid: ti for _p, fid, ti, _rel in HudiTable(root).file_slices()}
    assert inst0 in slices.values()  # the B file untouched
    assert i1 in slices.values()
    # slice-grain incremental: rewritten group re-emits copies
    assert read_hudi(spark, root, incremental=(inst0, i1)).count() == 55
    # delete through the virtual path
    w.delete_keys(_df(spark, 2, 4))
    left = {r["k"] for r in read_hudi(spark, root).collect()}
    assert left == set(range(85)) - {2, 3} - set(range(80, 200)) | set(
        range(200, 205)
    ) - {2, 3}
    # time travel to conversion still sees the original 80 rows
    assert read_hudi(spark, root, as_of=inst0).count() == 80


def test_record_level_index_lifecycle(spark, tmp_path):
    """Round-13: the metadata table's record_index partition — one
    (key → partition, fileId) mapping per LIVE key, maintained on
    every instant; tagging point-looks-up the mapping (no base-file
    read); deletes tombstone; a re-inserted key routes back to its
    original group (global-index rule) and re-maps; the mapping
    always equals the physical key→fileId assignment."""
    root = str(tmp_path / "rli")
    w = HudiWriter(
        spark, root, record_key="k", group_buckets=3, record_index=True
    )
    w.create(_df(spark, 0, 60))
    t = HudiTable(root)
    assert t.props["hoodie.metadata.record.index.enable"] == "true"
    w2 = HudiWriter(spark, root)  # reopen reads the prop back
    assert w2._rli_enabled
    w2.upsert(_df(spark, 0, 10, status="B").unionByName(_df(spark, 100, 105, status="N")))
    w2.delete_keys(_df(spark, 7, 8).unionByName(_df(spark, 100, 101)))
    snap = {r["k"]: r["status"] for r in read_hudi(spark, root).collect()}
    assert len(snap) == 63 and snap[5] == "B" and snap[101] == "N"
    assert 7 not in snap and 100 not in snap
    idx = {r["__key"]: r["__fid"] for r in w2._rli_lookup().collect()}
    assert len(idx) == 63 and "7" not in idx
    # parity with physical placement
    disk = {
        r["k2"]: r["fid"]
        for r in read_hudi(spark, root, with_meta=True).select(
            F.col("_hoodie_record_key").alias("k2"),
            F.element_at(F.split("_hoodie_file_name", "_"), 1).alias(
                "fid"
            ),
        ).collect()
    }
    assert idx == disk
    # re-insert of a deleted key: original group, fresh mapping
    w2.upsert(_df(spark, 7, 8, status="Z"))
    snap2 = {r["k"]: r["status"] for r in read_hudi(spark, root).collect()}
    assert snap2[7] == "Z" and len(snap2) == 64
    assert "7" in {r["__key"] for r in w2._rli_lookup().collect()}


def test_virtual_mor_lifecycle(spark, tmp_path):
    """Round-13: VIRTUAL-KEY MERGE_ON_READ — log data blocks carry
    DATA COLUMNS ONLY (block-header instant is the version
    authority), DELETE_BLOCKs key on the declared column, the read
    merge and compaction route by declared key + slice map. The
    engine can CREATE virtual tables too (populate_meta_fields=
    False), not only inherit them from converts."""
    from plankton_spark.sources.hudi_log import (
        AVRO_DATA_BLOCK,
        read_log_blocks,
    )
    from plankton_spark.sources.hudi_meta import HudiTable

    root = str(tmp_path / "vmor")
    w = HudiWriter(
        spark,
        root,
        record_key="k",
        table_type="MERGE_ON_READ",
        group_buckets=2,
        populate_meta_fields=False,
    )
    inst0 = w.create(_df(spark, 0, 80))
    assert HudiTable(root).virtual_keys
    # wave 1: log-updates + a fresh-base insert
    i1 = w.upsert(
        _df(spark, 0, 10, status="U").unionByName(
            _df(spark, 200, 210, status="N")
        )
    )
    # wave 2 (REOPENED writer): log-over-log precedence, including on
    # a row that itself arrived via the wave-1 insert
    w2 = HudiWriter(spark, root)
    assert w2.virtual and w2._is_mor
    w2.upsert(_df(spark, 5, 7, status="V").unionByName(
        _df(spark, 200, 202, status="V")
    ))
    w2.delete_keys(_df(spark, 8, 9).unionByName(_df(spark, 205, 206)))
    snap = {r["k"]: r["status"] for r in read_hudi(spark, root).collect()}
    assert len(snap) == 88  # 80 + 10 - 2
    assert snap[0] == "U" and snap[5] == "V" and snap[6] == "V"
    assert snap[200] == "V" and snap[202] == "N" and snap[20] == "A"
    assert 8 not in snap and 205 not in snap
    # log data records are META-LESS on disk
    logs = [
        lr
        for *_x, lrs in HudiTable(root).file_slices_with_logs()
        for lr in lrs
    ]
    assert logs
    recs = [
        rec
        for lp in logs
        for _inst, btype, payload in read_log_blocks(
            str(tmp_path / "vmor" / lp)
        )
        if btype == AVRO_DATA_BLOCK
        for rec in payload
    ]
    assert recs and all(
        not any(c.startswith("_hoodie_") for c in rec) for rec in recs
    )
    # time travel to create
    assert read_hudi(spark, root, as_of=inst0).count() == 80
    # with_meta still refuses (nothing to surface)
    with pytest.raises(NotImplementedError, match="meta columns"):
        read_hudi(spark, root, with_meta=True)
    # incremental over LIVE LOGS works since round 13 (mixed grain:
    # block instants are exact, base rows carry the slice instant) —
    # (create, wave1]: the wave-1 write-set in its as-of-i1 state,
    # wave-2 'V' overwrites and the later deletes both cut at end
    inc1 = {
        r["k"]: r["status"]
        for r in read_hudi(spark, root, incremental=(inst0, i1)).collect()
    }
    assert set(inc1) == set(range(0, 10)) | set(range(200, 210))
    assert all(inc1[k] == "U" for k in range(0, 10))
    assert all(inc1[k] == "N" for k in range(200, 210))
    # compaction folds logs, snapshot bit-identical, logs detach
    pre = _content(read_hudi(spark, root))
    ic = w2.compact()
    assert _content(read_hudi(spark, root)) == pre
    t = HudiTable(root)
    assert all(not lrs for *_x, lrs in t.file_slices_with_logs())
    # compacted virtual MOR still carries no meta columns in bases
    assert not any(
        c.startswith("_hoodie_")
        for c in read_hudi(spark, root).columns
    )
    # FULLY-COMPACTED virtual MOR: slice-grain incremental applies
    # (compaction is the attribution grain — compacted groups re-emit
    # whole, untouched groups are silent, empty ranges are legal)
    inc = read_hudi(spark, root, incremental=(inst0, ic))
    inc_rows = _content(inc)
    assert set(inc_rows) <= set(pre)  # re-emitted groups, post-merge rows
    changed = {k for k, s, _g in pre if s in ("U", "V", "N")}
    assert changed <= {k for k, _s, _g in inc_rows}  # every touched row
    assert read_hudi(spark, root, incremental=(ic, ic)).count() == 0


def test_mor_clustering_log_aware(spark, tmp_path):
    """Round-13 continuation: cluster() on an UN-COMPACTED MOR table
    folds live log deltas (updates AND delete tombstones) into the
    replacement layout — merged content identical, replaced groups'
    logs detach with their bases, records keep their latest-version
    commit time + seqno so the incremental query is silent across
    the replacecommit, and post-cluster upserts open fresh log
    chains against the new groups."""
    root = str(tmp_path / "t")
    w = HudiWriter(
        spark, root, record_key="k",
        table_type="MERGE_ON_READ", group_buckets=2,
    )
    w.create(_df(spark, 0, 100))
    i2 = w.upsert(_df(spark, 20, 120, status="B"))  # logs + fresh base
    i3 = w.delete_keys(
        spark.range(0, 100, 9).select(F.col("id").alias("k"))
    )  # DELETE_BLOCK tombstones in the logs
    before = _content(read_hudi(spark, root))
    meta_before = {
        r["_hoodie_record_key"]: (
            r["_hoodie_commit_time"], r["_hoodie_commit_seqno"]
        )
        for r in read_hudi(spark, root, with_meta=True).collect()
    }
    w.group_buckets = 3
    ic = w.cluster()
    assert _content(read_hudi(spark, root)) == before
    t = HudiTable(root)
    slices = t.file_slices_with_logs()
    assert len(slices) == 3
    assert all(not lrs for *_x, lrs in slices)  # logs detached
    # latest-version identity carried through the fold untouched
    meta_after = {
        r["_hoodie_record_key"]: (
            r["_hoodie_commit_time"], r["_hoodie_commit_seqno"]
        )
        for r in read_hudi(spark, root, with_meta=True).collect()
    }
    assert meta_after == meta_before
    # silence: the cluster-only range emits nothing; ranges through
    # it equal the pre-cluster ranges
    assert read_hudi(spark, root, incremental=(i3, ic)).count() == 0
    assert (
        read_hudi(spark, root, incremental=(i2, ic)).count()
        == read_hudi(spark, root, incremental=(i2, i3)).count()
    )
    # time travel before the replacecommit sees the old slices
    assert read_hudi(spark, root, as_of=i3).count() == len(before)
    # post-cluster upsert logs against the NEW groups
    w.upsert(_df(spark, 1, 4, status="E"))
    out = read_hudi(spark, root)
    assert out.where(F.col("status") == "E").count() == 3
    # ...and compaction still folds them
    pre = _content(out)
    w.compact()
    assert _content(read_hudi(spark, root)) == pre


def test_virtual_cluster_refuses(spark, tmp_path):
    """Clustering is layout-only — it must preserve per-record commit
    identity, which virtual-key files never carry; refuse rather than
    re-emit the whole table as an incremental change."""
    root = str(tmp_path / "t")
    w = HudiWriter(
        spark, root, record_key="k", populate_meta_fields=False,
    )
    w.create(_df(spark, 0, 20))
    with pytest.raises(NotImplementedError, match="virtual-key"):
        w.cluster()


def test_virtual_mor_incremental_mixed_grain(spark, tmp_path):
    """Round-13 continuation: incremental over a virtual-key MOR with
    LIVE LOGS — log rows attribute at their block's instant (exact:
    one commit per block), base rows at their slice instant, the
    filter runs after the latest-wins merge, and deletes inside the
    range just hide their keys."""
    root = str(tmp_path / "t")
    w = HudiWriter(
        spark, root, record_key="k",
        table_type="MERGE_ON_READ", group_buckets=2,
        populate_meta_fields=False,
    )
    i0 = w.create(_df(spark, 0, 40))
    i1 = w.upsert(_df(spark, 10, 20, status="B"))     # log updates
    i2 = w.upsert(_df(spark, 15, 25, status="C"))     # log-over-log + inserts
    i3 = w.delete_keys(spark.range(0, 3).select(F.col("id").alias("k")))
    # (i0, i2]: merged-latest versions committed in range
    inc = {
        r["k"]: r["status"]
        for r in read_hudi(spark, root, incremental=(i0, i2)).collect()
    }
    assert set(inc) == set(range(10, 25))
    assert all(inc[k] == "B" for k in range(10, 15))
    assert all(inc[k] == "C" for k in range(15, 25))
    # a delete-only range emits nothing
    assert read_hudi(spark, root, incremental=(i2, i3)).count() == 0
    # full range: deleted keys vanish even though 0..2 never changed
    inc2 = read_hudi(spark, root, incremental=(i0, i3))
    assert inc2.count() == 15
    # an update mid-range later overwritten in-range emits ONCE, in
    # its end-state ('C' wins over 'B' for 15..19)
    assert not any(
        r["status"] == "B" and r["k"] >= 15 for r in inc2.collect()
    )


def test_virtual_rli_lifecycle(spark, tmp_path):
    """Round-13 continuation: the RECORD-LEVEL INDEX on virtual-key
    tables — maintenance scans the DECLARED key column with (part,
    fid) attribution from the commit's add list; tagging point-looks-
    up with zero base reads; parity with the physical assignment."""
    root = str(tmp_path / "t")
    w = HudiWriter(
        spark, root, record_key="k", group_buckets=2,
        populate_meta_fields=False, record_index=True,
    )
    w.create(_df(spark, 0, 40))
    w2 = HudiWriter(spark, root)  # props round-trip
    assert w2.virtual and w2._rli_enabled
    w2.upsert(_df(spark, 10, 50, status="B"))
    w2.delete_keys(spark.range(0, 5).select(F.col("id").alias("k")))
    snap = read_hudi(spark, root)
    assert snap.count() == 45
    assert snap.where(F.col("status") == "B").count() == 40
    idx = w2._rli_lookup()
    assert idx is not None and idx.count() == 45
    # mapping equals the physical key→fileId assignment on disk
    disk = (
        snap.withColumn(
            "__b",
            F.substring_index(F.col("_metadata.file_path"), "/", -1),
        )
        .select(
            F.col("k").cast("string").alias("__key"),
            F.element_at(F.split("__b", "_"), 1).alias("__fid"),
        )
    )
    pairs = idx.select("__key", "__fid")
    assert pairs.exceptAll(disk).isEmpty()
    assert disk.exceptAll(pairs).isEmpty()
    # virtual MOR + RLI: updates log, mapping stays put, compaction
    # re-maps idempotently
    root2 = str(tmp_path / "t2")
    wm = HudiWriter(
        spark, root2, record_key="k", table_type="MERGE_ON_READ",
        populate_meta_fields=False, record_index=True,
    )
    wm.create(_df(spark, 0, 30))
    wm.upsert(_df(spark, 5, 35, status="B"))
    assert read_hudi(spark, root2).count() == 35
    assert wm._rli_lookup().count() == 35
    pre = _content(read_hudi(spark, root2))
    wm.compact()
    assert _content(read_hudi(spark, root2)) == pre
    assert wm._rli_lookup().count() == 35


def test_virtual_stream_feed(spark, tmp_path):
    """Round-13 continuation: the hudiincr STREAMING feed on a
    virtual-key MOR table — the reader synthesizes
    _hoodie_commit_time from each partition's instant (exact for log
    blocks and fresh-group bases), COMPACT instants skip at planning
    (layout-only), DELETE_BLOCKs stay silent, and a mid-stream
    restart resumes from the checkpointed instant."""
    import shutil
    import uuid as _uuid

    from plankton_spark.sources.hudi_meta import register

    register(spark)
    root = str(tmp_path / "t")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    w = HudiWriter(
        spark, root, record_key="k",
        table_type="MERGE_ON_READ", group_buckets=2,
        populate_meta_fields=False,
    )
    i1 = w.create(_df(spark, 0, 40))
    i2 = w.upsert(_df(spark, 10, 20, status="B").unionByName(
        _df(spark, 100, 110, status="N")
    ))

    def drain():
        shutil.rmtree(sink + "_tmp", ignore_errors=True)
        q = (
            spark.readStream.format("hudiincr")
            .option("path", root)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .queryName(f"vsf_{_uuid.uuid4().hex[:8]}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()
    i3 = w.upsert(_df(spark, 15, 18, status="C"))  # while consumer is down
    ic = w.compact()                               # must be silent
    i4 = w.delete_keys(
        spark.range(0, 3).select(F.col("id").alias("k"))
    )                                              # must be silent
    drain()
    feed = spark.read.parquet(sink)
    by_inst = {
        r["_hoodie_commit_time"]: r["count"]
        for r in feed.groupBy("_hoodie_commit_time").count().collect()
    }
    assert by_inst == {i1: 40, i2: 20, i3: 3}
    assert ic not in by_inst and i4 not in by_inst
    # data columns ride along untouched; no other meta columns appear
    assert set(feed.columns) == {"_hoodie_commit_time", "k", "status", "grp"}
    # per-instant content: the down-time upsert's exact write-set
    assert sorted(
        r["k"] for r in feed.where(
            F.col("_hoodie_commit_time") == i3
        ).collect()
    ) == [15, 16, 17]
