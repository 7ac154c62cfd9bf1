"""Delta CHANGE DATA FEED lifecycle (round-10 verdict #4): cdc
actions + _change_data files on rewriting commits, the spec's reader
algorithm (cdc verbatim / add-remove derivation / layout-only
skipped), partitioned change layout, and loud refusals where a
change set cannot be derived."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from plankton_spark.sources.delta_log import (
    DeltaLog,
    DeltaLogWriter,
    DeltaProtocolError,
    read_delta,
    read_delta_cdf,
)


def _mk(spark, tmp_path, name, n=20, **kw):
    root = str(tmp_path / name)
    w = DeltaLogWriter(spark, root)
    w.create(
        spark.createDataFrame(
            [(i, i * 10) for i in range(n)], "k long, v long"
        ).repartition(1),
        change_data_feed=True,
        **kw,
    )
    return root, w


def _by_type(df):
    return {
        (r["_commit_version"], r["_change_type"]): r["n"]
        for r in df.groupBy("_commit_version", "_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def test_cdf_lifecycle_update_delete_merge(spark, tmp_path):
    root, w = _mk(spark, tmp_path, "cdf1")
    w.update_where({"v": F.col("v") + 1}, F.col("k") % 5 == 3)  # v1
    w.delete_where(F.col("k") % 5 == 4)                          # v2
    w.merge(
        spark.createDataFrame([(18, 999), (200, 888)], "k long, v long"),
        "k",
    )                                                            # v3
    cdf = read_delta_cdf(spark, root, 0, 3)
    counts = _by_type(cdf)
    assert counts[(0, "insert")] == 20
    assert counts[(1, "update_preimage")] == 4
    assert counts[(1, "update_postimage")] == 4
    assert counts[(2, "delete")] == 4
    assert counts[(3, "update_preimage")] == 1
    assert counts[(3, "update_postimage")] == 1
    assert counts[(3, "insert")] == 1
    rows = {
        (r["_commit_version"], r["_change_type"], r["k"]): r["v"]
        for r in cdf.collect()
    }
    # preimage/postimage pair the snapshot diff cannot express
    assert rows[(1, "update_preimage", 3)] == 30
    assert rows[(1, "update_postimage", 3)] == 31
    # the MERGE preimage reflects the EARLIER update's value
    assert rows[(3, "update_preimage", 18)] == 181
    assert rows[(3, "update_postimage", 18)] == 999
    # cdc files are real parquet under _change_data/, named by actions
    cdc_files = glob.glob(os.path.join(root, "_change_data", "*.parquet"))
    assert cdc_files, "no _change_data files written"
    with open(os.path.join(root, "_delta_log", f"{1:020d}.json")) as fh:
        acts = [json.loads(x) for x in fh if x.strip()]
    cdc_acts = [a["cdc"] for a in acts if "cdc" in a]
    assert cdc_acts and all(
        a["path"].startswith("_change_data/") and a["dataChange"] is False
        for a in cdc_acts
    )
    # REPLACE WHERE: only the matched rows (k 0..3; 4 went at v2) read
    # back as deletes and the input as inserts — the survivors of the
    # rewritten file are no change at all
    w.replace_where(
        spark.createDataFrame([(1, 7)], "k long, v long"), F.col("k") < 5
    )                                                            # v4
    rep = read_delta_cdf(spark, root, 4, 4)
    assert _by_type(rep) == {(4, "delete"): 4, (4, "insert"): 1}
    assert sorted((r["_change_type"], r["k"], r["v"]) for r in rep.collect()) == [
        ("delete", 0, 0), ("delete", 1, 10), ("delete", 2, 20),
        ("delete", 3, 31), ("insert", 1, 7),
    ]
    with open(os.path.join(root, "_delta_log", f"{4:020d}.json")) as fh:
        acts = [json.loads(x) for x in fh if x.strip()]
    assert any("cdc" in a for a in acts)


def test_cdf_range_slicing_and_optimize_silent(spark, tmp_path):
    root, w = _mk(spark, tmp_path, "cdf2")
    w.append(spark.createDataFrame([(100, 1)], "k long, v long"))  # v1
    w.optimize(num_files=1)                                        # v2
    w.delete_where(F.col("k") == 100)                              # v3
    # layout-only commit contributes nothing
    assert read_delta_cdf(spark, root, 2, 2).count() == 0
    assert _by_type(read_delta_cdf(spark, root, 1, 1)) == {(1, "insert"): 1}
    assert _by_type(read_delta_cdf(spark, root, 3, 3)) == {(3, "delete"): 1}
    # final state agrees with the accumulated feed
    assert read_delta(spark, root).count() == 20


def test_cdf_partitioned_layout(spark, tmp_path):
    root = str(tmp_path / "cdf_part")
    w = DeltaLogWriter(spark, root)
    w.create(
        spark.createDataFrame(
            [(i, "a" if i % 2 == 0 else "b") for i in range(20)],
            "k long, grp string",
        ),
        partition_by=["grp"],
        change_data_feed=True,
    )
    w.delete_where((F.col("grp") == "a") & (F.col("k") < 6))  # v1
    cdf = read_delta_cdf(spark, root, 1, 1)
    rows = cdf.collect()
    assert {r["k"] for r in rows} == {0, 2, 4}
    assert {r["grp"] for r in rows} == {"a"}  # partition value re-attached
    # change files live under the hive layout inside _change_data/
    assert glob.glob(
        os.path.join(root, "_change_data", "grp=a", "*.parquet")
    )
    with open(os.path.join(root, "_delta_log", f"{1:020d}.json")) as fh:
        acts = [json.loads(x) for x in fh if x.strip()]
    cdc_acts = [a["cdc"] for a in acts if "cdc" in a]
    assert all(a["partitionValues"] == {"grp": "a"} for a in cdc_acts)


def test_cdf_derivation_refuses_dv_commits(spark, tmp_path):
    """A DV write without cdc actions cannot be derived from whole
    files — the reader must refuse, never misattribute."""
    root = str(tmp_path / "cdf_dv")
    w = DeltaLogWriter(spark, root)
    w.create(
        spark.createDataFrame(
            [(i, i) for i in range(20)], "k long, v long"
        ).repartition(1)
    )
    w.delete_where_dv(F.col("k") < 5)  # v1: DV re-add, no cdc
    with pytest.raises(DeltaProtocolError, match="deletion vector"):
        read_delta_cdf(spark, root, 0, 1).collect()
    # the snapshot-diff fallback still works on the same table
    from plankton_spark.sources.delta_log import read_delta_changes

    assert read_delta_changes(spark, root, 0, 1).count() == 5


def test_cdf_enablement_recorded(spark, tmp_path):
    root, _w = _mk(spark, tmp_path, "cdf_cfg")
    st = DeltaLog(root).replay(None)
    assert st.config.get("delta.enableChangeDataFeed") == "true"
    assert (st.protocol or {}).get("minWriterVersion", 0) >= 4


def test_cdf_composes_with_row_tracking(spark, tmp_path):
    """CDF + row tracking on one table: the tracked create sets both
    config families, updates emit cdc AND preserve ids via OPTIMIZE."""
    root, w = _mk(spark, tmp_path, "cdf_rt", row_tracking=True)
    w.update_where({"v": F.col("v") + 7}, F.col("k") == 3)  # v1
    before = {
        r["k"]: r["v"]
        for r in read_delta(spark, root).collect()
    }
    counts = _by_type(read_delta_cdf(spark, root, 1, 1))
    assert counts == {
        (1, "update_preimage"): 1,
        (1, "update_postimage"): 1,
    }
    assert before[3] == 37


def test_cdf_from_dv_commits(spark, tmp_path):
    """DV-writing DML on a CDF table emits cdc actions too (round-11
    closure of the derivation refusal): the feed reads DV deletes and
    DV updates with full per-row attribution."""
    root = str(tmp_path / "cdf_dv2")
    w = DeltaLogWriter(spark, root)
    w.create(
        spark.createDataFrame(
            [(i, i) for i in range(20)], "k long, v long"
        ).repartition(1),
        change_data_feed=True,
    )
    w.delete_where_dv(F.col("k") < 5)                            # v1
    w.update_where_dv({"v": F.col("v") + 100}, F.col("k") < 10)  # v2
    cdf = read_delta_cdf(spark, root, 1, 2)
    assert _by_type(cdf) == {
        (1, "delete"): 5,
        (2, "update_preimage"): 5,
        (2, "update_postimage"): 5,
    }
    vals = {
        (r["_change_type"], r["k"]): r["v"]
        for r in cdf.where(F.col("_commit_version") == 2).collect()
    }
    assert vals[("update_preimage", 5)] == 5
    assert vals[("update_postimage", 5)] == 105
    # and the delete feed excludes rows a PRIOR DV already deleted
    w.delete_where_dv(F.col("k") < 7)                            # v3
    assert _by_type(read_delta_cdf(spark, root, 3, 3)) == {
        (3, "delete"): 2  # 5 and 6 only — 0..4 were already gone
    }


def test_dv_update_never_resurrects_deleted_rows(spark, tmp_path):
    """REGRESSION (round-11 review find): update_where_dv evaluated
    its predicate over the DV-unaware positional scan, so a condition
    matching an already-DV-deleted row re-staged its transformed copy
    — resurrection. The live view must subtract existing DVs first;
    a delete matching ONLY dead rows must be a no-op."""
    root = str(tmp_path / "dv_resurrect")
    w = DeltaLogWriter(spark, root)
    w.create(
        spark.createDataFrame(
            [(i, i) for i in range(20)], "k long, v long"
        ).repartition(1)
    )
    w.delete_where_dv(F.col("k") < 5)
    w.update_where_dv({"v": F.col("v") + 100}, F.col("k") < 10)
    rows = sorted((r["k"], r["v"]) for r in read_delta(spark, root).collect())
    assert len(rows) == 15, rows
    assert rows[:5] == [(5, 105), (6, 106), (7, 107), (8, 108), (9, 109)]
    assert w.delete_where_dv(F.col("k") < 5) is None  # all already dead


def test_cdf_stream_source_refuses_underivable_dv_commit(spark, tmp_path):
    """format("deltacdf") on a NON-CDF table whose history holds a DV
    commit (no cdc actions): the stream must refuse at planning, not
    misattribute whole files."""
    from plankton_spark.sources.delta_log import register

    register(spark)
    root = str(tmp_path / "cdfstream_dv")
    w = DeltaLogWriter(spark, root)
    w.create(
        spark.createDataFrame(
            [(i, i) for i in range(10)], "k long, v long"
        ).repartition(1)
    )
    w.delete_where_dv(F.col("k") < 3)
    stream = spark.readStream.format("deltacdf").option("path", root).load()
    q = (
        stream.writeStream.format("memory")
        .queryName("cdf_refuse_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="deletion vectors|cannot be derived"):
        q.awaitTermination(120)
        raise AssertionError("stream did not fail")


def test_cdf_stream_matches_batch_feed(spark, tmp_path):
    """The streaming feed (drained in one availableNow pass over the
    whole history) equals read_delta_cdf over the same version
    range, column for column (minus the reader-only timestamp)."""
    from plankton_spark.sources.delta_log import register

    register(spark)
    root = str(tmp_path / "cdfstream_eq")
    w = DeltaLogWriter(spark, root)
    w.create(
        spark.createDataFrame(
            [(i, i * 10) for i in range(20)], "k long, v long"
        ).repartition(1),
        change_data_feed=True,
    )
    w.update_where({"v": F.col("v") + 1}, F.col("k") % 5 == 3)
    w.delete_where(F.col("k") % 5 == 4)
    w.merge(
        spark.createDataFrame([(18, 999), (200, 888)], "k long, v long"),
        "k",
    )
    stream = spark.readStream.format("deltacdf").option("path", root).load()
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(tmp_path / "sink"))
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "sink")).collect()
    )
    want = sorted(
        tuple(r)
        for r in read_delta_cdf(spark, root, 0, 3)
        .drop("_commit_timestamp")
        .collect()
    )
    assert got == want


def test_cdf_stream_starting_version(spark, tmp_path):
    """startingVersion skips earlier history: a consumer attaching at
    v2 sees only the delete, never the backfill inserts."""
    from plankton_spark.sources.delta_log import register

    register(spark)
    root = str(tmp_path / "cdfstream_sv")
    w = DeltaLogWriter(spark, root)
    w.create(
        spark.createDataFrame(
            [(i, i) for i in range(10)], "k long, v long"
        ).repartition(1),
        change_data_feed=True,
    )
    w.append(spark.createDataFrame([(100, 1)], "k long, v long"))  # v1
    w.delete_where(F.col("k") == 3)                                 # v2
    stream = (
        spark.readStream.format("deltacdf")
        .option("path", root)
        .option("startingVersion", "2")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("cdf_sv_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("cdf_sv_t").collect()
    assert {(r["_commit_version"], r["_change_type"], r["k"]) for r in rows} == {
        (2, "delete", 3)
    }


def test_merge_schema_evolution_on_tracked_table(spark, tmp_path):
    """MERGE WITH SCHEMA EVOLUTION on a row-tracked table (names
    declared at create): the evolved column lands, survivors
    null-fill it, and every identity is preserved (updates keep ids
    with reset versions, inserts fresh)."""
    from plankton_spark.sources.delta_log import DeltaProtocolError  # noqa: F401

    root = str(tmp_path / "rt_evolve")
    w = DeltaLogWriter(spark, root)
    w.create(
        spark.createDataFrame(
            [(i, i) for i in range(10)], "k long, v long"
        ).repartition(1),
        row_tracking=True,
    )
    before = {
        r["k"]: r["_row_id"]
        for r in read_delta(spark, root, with_row_ids=True).collect()
    }
    v = w.merge(
        spark.createDataFrame(
            [(3, 30, "x"), (100, 1, "y")], "k long, v long, tag string"
        ),
        "k",
        merge_schema=True,
    )
    rows = {
        r["k"]: (r["_row_id"], r["_row_commit_version"], r["tag"])
        for r in read_delta(spark, root, with_row_ids=True).collect()
    }
    assert rows[3][0] == before[3] and rows[3][1] == v and rows[3][2] == "x"
    assert rows[100][0] >= 10 and rows[100][2] == "y"
    assert rows[5][0] == before[5] and rows[5][2] is None  # null-filled


def test_cdf_last_image_equals_source_rowwise(spark, tmp_path):
    """The CDC consumer invariant: materializing the feed's last
    image per key reproduces the source table ROW FOR ROW — including
    a key deleted at one commit and re-inserted by a later MERGE (the
    case a naive inserts-then-deletes apply gets wrong)."""
    from plankton_spark.operators import cdf_last_image

    root = str(tmp_path / "cdf_apply_pin")
    w = DeltaLogWriter(spark, root)
    w.create(
        spark.createDataFrame(
            [(i, i * 10) for i in range(20)], "k long, v long"
        ).repartition(1),
        change_data_feed=True,
    )
    w.update_where({"v": F.col("v") + 1}, F.col("k") % 5 == 3)
    w.delete_where(F.col("k") % 5 == 4)
    # re-insert a previously deleted key (k=4) plus a fresh one
    w.merge(
        spark.createDataFrame(
            [(4, 777), (18, 999), (200, 888)], "k long, v long"
        ),
        "k",
    )
    feed = read_delta_cdf(spark, root, 0, 3)
    replica = sorted(
        (r["k"], r["v"]) for r in cdf_last_image(feed, "k").collect()
    )
    source = sorted(
        (r["k"], r["v"]) for r in read_delta(spark, root).collect()
    )
    assert replica == source
    assert (4, 777) in replica  # the delete-then-reinsert key
    # the iceberg changelog feeds through the same consumer
    from plankton_spark.sources.iceberg_meta import (
        IcebergWriter,
        read_iceberg,
        read_iceberg_changelog,
    )

    iroot = str(tmp_path / "cl_apply_pin")
    iw = IcebergWriter(spark, iroot)
    iw.create(
        spark.createDataFrame(
            [(i, i) for i in range(15)], "k long, v long"
        ).repartition(1)
    )
    iw.delete_where_dv(F.col("k") % 4 == 1)
    iw.append(spark.createDataFrame([(100, 5)], "k long, v long"))
    cl = read_iceberg_changelog(spark, iroot, 1, 3).withColumnRenamed(
        "_snapshot_id", "_commit_version"
    )
    # changelog emits plain insert/delete; the same last-image fold
    ireplica = sorted(
        (r["k"], r["v"]) for r in cdf_last_image(cl, "k").collect()
    )
    isource = sorted(
        (r["k"], r["v"]) for r in read_iceberg(spark, iroot).collect()
    )
    assert ireplica == isource


def test_iceberg_changelog_attributes_equality_deletes(spark, tmp_path):
    """Changelog over an eq-deleted range: the live-set diff emits
    exactly the value-matched rows as deletes, re-inserted keys (seq
    strictly greater than the delete's) emit as inserts WITHOUT the
    carried-file diff re-firing, and the delete never emits twice."""
    from plankton_spark.sources.iceberg_meta import (
        IcebergWriter,
        read_iceberg_changelog,
    )

    root = str(tmp_path / "ice")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    w = IcebergWriter(spark, root)
    w.create(df.where(F.col("k") < 60).coalesce(1))                 # snap 1
    w.append(df.where(F.col("k") >= 60).coalesce(1))                # snap 2
    w.delete_where_eq(df.where(F.col("k") % 4 == 0).select("k"))    # snap 3
    w.append(df.where(F.col("k") % 8 == 0).coalesce(1))             # snap 4
    cl = read_iceberg_changelog(spark, root, 1, 4)
    got = {
        (r["_snapshot_id"], r["_change_type"]): (r["n"], r["ksum"])
        for r in cl.groupBy("_snapshot_id", "_change_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("ksum"))
        .collect()
    }
    # snap 3's eq delete hits BOTH earlier files (k%4==0 over 0..99)
    dead = [k for k in range(100) if k % 4 == 0]
    reins = [k for k in range(100) if k % 8 == 0]
    assert got[(1, "insert")] == (60, sum(range(60)))
    assert got[(2, "insert")] == (40, sum(range(60, 100)))
    assert got[(3, "delete")] == (len(dead), sum(dead))
    assert got[(4, "insert")] == (len(reins), sum(reins))
    assert len(got) == 4  # no spurious carried-diff emissions at snap 4
    # and the per-snapshot feed REPLAYS to the live table: inserts
    # minus deletes keyed by (k, v) multiset equals the final read
    from plankton_spark.sources.iceberg_meta import read_iceberg

    ins = cl.where(F.col("_change_type") == "insert").groupBy("k", "v").count()
    dels = cl.where(F.col("_change_type") == "delete").groupBy("k", "v").count()
    folded = (
        ins.join(dels.withColumnRenamed("count", "d"), ["k", "v"], "left")
        .select("k", "v", (F.col("count") - F.coalesce("d", F.lit(0))).alias("n"))
        .where(F.col("n") > 0)
    )
    live = read_iceberg(spark, root).groupBy("k", "v").count()
    assert sorted(map(tuple, folded.collect())) == sorted(map(tuple, live.collect()))


def test_icebergcdf_offsets_are_snapshot_id_keyed(spark, tmp_path):
    """Round-12: the icebergcdf stream's offsets carry the
    last-consumed SNAPSHOT ID (the id-keyed resolution the iceberglog
    stream got in round 6 — this reader was missed): positions shift
    when expire_snapshots drops entries, ids don't; an expired
    checkpointed id is a loud retention error; legacy {"pos"}
    checkpoints still resolve."""
    import pytest
    from pyspark.sql import functions as F

    from plankton_spark.sources.iceberg_meta import (
        IcebergCdfStreamReader,
        IcebergWriter,
    )

    root = str(tmp_path / "t")
    df = spark.range(0, 30).selectExpr("id AS k")
    w = IcebergWriter(spark, root)
    w.create(df.where(F.col("k") < 10).coalesce(1))
    w.append(df.where((F.col("k") >= 10) & (F.col("k") < 20)).coalesce(1))
    w.append(df.where(F.col("k") >= 20).coalesce(1))
    r = IcebergCdfStreamReader(root)
    snaps = r._snaps()
    assert r.initialOffset() == {"last_snapshot_id": None}
    assert r.latestOffset() == {
        "last_snapshot_id": snaps[-1]["snapshot-id"]
    }
    first = {"last_snapshot_id": snaps[0]["snapshot-id"]}
    parts = r.partitions(first, r.latestOffset())
    assert {p.sid for p in parts} == {
        snaps[1]["snapshot-id"], snaps[2]["snapshot-id"]
    }
    # legacy ordinal start resolves identically
    parts_legacy = r.partitions({"pos": 1}, r.latestOffset())
    assert {p.sid for p in parts_legacy} == {p.sid for p in parts}
    # retention outrunning the consumer: expired id → loud error
    expired = w.expire_snapshots(keep_last=2)
    assert snaps[0]["snapshot-id"] in expired
    with pytest.raises(ValueError, match="retention"):
        IcebergCdfStreamReader(root).partitions(
            first, IcebergCdfStreamReader(root).latestOffset()
        )


def test_icebergcdf_stream_matches_batch_over_eq_deletes(spark, tmp_path):
    """Round-13: the icebergcdf stream handles EQUALITY-DELETED
    ranges — planning folds the eq delete files into per-partition
    {key_tuple: max_seq} payloads so each per-file reader applies
    the live-set diff locally (join-free). The stream's output over
    an eq-delete → re-insert → second-eq lifecycle must equal the
    batch changelog's exactly, including the sequence rule (the
    re-inserted rows outrank the first delete; the second delete
    kills them but never re-emits rows the first already killed)."""
    import uuid

    from pyspark.sql import functions as F

    from plankton_spark.sources.iceberg_meta import (
        IcebergWriter,
        read_iceberg_changelog,
        register,
    )

    register(spark)
    root = str(tmp_path / "t")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    o = spark.range(600).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("c")
    )
    k = F.col("k")
    w = IcebergWriter(spark, root)
    w.create(o.where(k < 500).coalesce(1))
    w.append(o.where(k >= 500).coalesce(1))

    def drain():
        q = (
            spark.readStream.format("icebergcdf")
            .option("path", root)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .queryName(f"eqs_{uuid.uuid4().hex[:6]}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    w.delete_where_eq(o.where((k < 500) & (k % 5 == 0)).select("k"))
    w.append(o.where((k < 500) & (k % 10 == 0)).coalesce(1))
    w.delete_where_eq(o.where(k % 20 == 0).select("k"))
    drain()
    stream = {
        tuple(r)
        for r in spark.read.parquet(sink)
        .select("k", "c", "_change_type", "_snapshot_id")
        .collect()
    }
    batch = {
        tuple(r)
        for r in read_iceberg_changelog(spark, root, 1, 5)
        .select("k", "c", "_change_type", "_snapshot_id")
        .collect()
    }
    assert stream == batch
    # sanity: the second eq delete emitted deletes for the re-insert
    # file's rows (seq 4 < 5) and s2's, never the already-dead ones
    s5_dels = {r[0] for r in stream if r[3] == 5 and r[2] == "delete"}
    assert s5_dels == {x for x in range(600) if x % 20 == 0}


def test_cdf_merge_with_empty_source(spark, tmp_path):
    """Commits that change nothing keep an empty feed: a MERGE whose
    source is empty (v1) and a replace_where of an empty frame over
    no rows (v2, which stages an empty change frame). Staging drops
    0-row files, change files included, so v2 carries no change
    file."""
    from plankton_spark.sources.delta_log import read_delta_changes

    root, w = _mk(spark, tmp_path, "cdf_empty_merge")
    empty = spark.createDataFrame([], "k long, v long")
    w.merge(empty, "k")
    w.replace_where(empty, F.col("k") > 100)
    assert DeltaLog(root).latest_version() == 2
    for v in (1, 2):
        assert read_delta_cdf(spark, root, v, v).collect() == []
        assert read_delta_changes(spark, root, v - 1, v).collect() == []
    assert _by_type(read_delta_cdf(spark, root, 0, 2)) == {(0, "insert"): 20}
    assert sorted(read_delta(spark, root).collect()) == sorted(
        (i, i * 10) for i in range(20)
    )
    assert not glob.glob(
        os.path.join(root, "_change_data", "**", "*.parquet"), recursive=True
    )


def test_cdf_read_replays_the_log_once(spark, tmp_path, monkeypatch):
    """A feed read replays the log once, to the version before its
    range, and folds each commit's actions forward: derived deletes
    resolve against the folded prior state, not a replay per commit."""
    root = str(tmp_path / "cdf_once")
    w = DeltaLogWriter(spark, root)
    w.create(spark.createDataFrame([(i, i * 10) for i in range(20)], "k long, v long").repartition(1))
    w.append(spark.createDataFrame([(100, 1)], "k long, v long"))  # v1
    w.delete_where(F.col("k") % 5 == 4)  # v2: remove + add, derived
    w.update_where({"v": F.col("v") + 1}, F.col("k") == 100)  # v3
    replays = []
    real = DeltaLog.replay
    monkeypatch.setattr(
        DeltaLog, "replay", lambda self, *a: replays.append(a) or real(self, *a)
    )
    counts = _by_type(read_delta_cdf(spark, root, 1, 3))
    assert replays == [(0,)]
    assert counts == {
        (1, "insert"): 1,
        (2, "delete"): 20,
        (2, "insert"): 16,
        (3, "delete"): 1,
        (3, "insert"): 1,
    }
