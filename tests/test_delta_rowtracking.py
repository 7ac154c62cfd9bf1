"""Delta ROW TRACKING lifecycle — the cross-format twin of
tests/test_iceberg_rowlineage.py: baseRowId chains on create/append,
_row_id/_row_commit_version projection, stability across DV deletes,
hwm recovery without domain metadata, loud refusals."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from plankton_spark.sources.delta_log import (
    DeltaLog,
    DeltaLogWriter,
    DeltaProtocolError,
    read_delta,
)


def _mk(spark, tmp_path, name, n=30):
    root = str(tmp_path / name)
    w = DeltaLogWriter(spark, root)
    w.create(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(n)], "k long, v string"
        ),
        row_tracking=True,
    )
    return root, w


def test_create_assigns_ids_and_domain(spark, tmp_path):
    root, _w = _mk(spark, tmp_path, "rt1")
    rows = read_delta(spark, root, with_row_ids=True).collect()
    assert sorted(r["_row_id"] for r in rows) == list(range(30))
    assert {r["_row_commit_version"] for r in rows} == {0}
    st = DeltaLog(root).replay(None)
    dm = st.domains["delta.rowTracking"]
    assert json.loads(dm["configuration"])["rowIdHighWaterMark"] == 29
    prot = st.protocol
    assert "rowTracking" in prot["writerFeatures"]
    assert "domainMetadata" in prot["writerFeatures"]


def test_append_continues_and_ids_stable_across_dv(spark, tmp_path):
    root, w = _mk(spark, tmp_path, "rt2")
    w.append(
        spark.createDataFrame([(100 + i, "x") for i in range(10)],
                              "k long, v string")
    )
    before = {
        r["k"]: (r["_row_id"], r["_row_commit_version"])
        for r in read_delta(spark, root, with_row_ids=True).collect()
    }
    assert sorted(v[0] for k, v in before.items() if k >= 100) == list(
        range(30, 40)
    )
    assert {v[1] for k, v in before.items() if k >= 100} == {1}
    w.delete_where_dv(F.col("k") % 5 == 0)
    after = {
        r["k"]: (r["_row_id"], r["_row_commit_version"])
        for r in read_delta(spark, root, with_row_ids=True).collect()
    }
    assert set(after) == {k for k in before if k % 5 != 0}
    for k, v in after.items():
        assert v == before[k], "DV delete changed a survivor's row id"


def test_append_after_delete_never_reuses_ids(spark, tmp_path):
    root, w = _mk(spark, tmp_path, "rt3")
    w.delete_where_dv(F.col("k") < 10)
    w.append(spark.createDataFrame([(400, "n")], "k long, v string"))
    by_k = {
        r["k"]: r["_row_id"]
        for r in read_delta(spark, root, with_row_ids=True).collect()
    }
    assert by_k[400] == 30  # deleted ids [0,10) are NOT reused


def test_hwm_recovers_from_live_adds_without_domain(spark, tmp_path):
    """A checkpoint that drops domainMetadata must not cause id reuse:
    the hwm falls back to max(baseRowId + numRecords) over live adds."""
    from plankton_spark.sources.delta_log import _row_id_hwm

    root, _w = _mk(spark, tmp_path, "rt4")
    log = DeltaLog(root)
    st = log.replay(None)._replace(domains={})  # domain lost to a checkpoint
    assert _row_id_hwm(st) == 29


def test_plain_table_refuses_row_id_read(spark, tmp_path):
    root = str(tmp_path / "rt5")
    w = DeltaLogWriter(spark, root)
    w.create(spark.createDataFrame([(1, "a")], "k long, v string"))
    with pytest.raises(DeltaProtocolError, match="no\n?.*baseRowId|baseRowId"):
        read_delta(spark, root, with_row_ids=True).collect()
    assert read_delta(spark, root).count() == 1


def _foreign_untracked_rewrite(root: str) -> None:
    """Simulate a FOREIGN writer that supports rowTracking but does
    not preserve ids on rewrite (legal while the feature is merely
    'supported'): copy one live data file to a new name and commit
    add(no baseRowId) + remove(original) by hand."""
    import glob
    import shutil as _shutil

    log = DeltaLog(root)
    rel = sorted(log.replay(None).active)[0]
    new_rel = f"part-foreign-rewrite.parquet"
    _shutil.copyfile(os.path.join(root, rel), os.path.join(root, new_rel))
    v = log.latest_version() + 1
    with open(os.path.join(root, "_delta_log", f"{v:020d}.json"), "w") as fh:
        fh.write(
            json.dumps(
                {
                    "add": {
                        "path": new_rel,
                        "partitionValues": {},
                        "size": os.path.getsize(
                            os.path.join(root, new_rel)
                        ),
                        "modificationTime": 0,
                        "dataChange": True,
                    }
                }
            )
            + "\n"
        )
        fh.write(
            json.dumps({"remove": {"path": rel, "dataChange": True}}) + "\n"
        )


def test_delete_update_merge_preserve_row_ids(spark, tmp_path):
    """Round-11 extension past OPTIMIZE: the row-rewriting DML ops
    preserve identities through the materialized columns — DELETE
    survivors keep id AND commit version; UPDATE keeps the id while
    the commit version RESETS to the updating commit (spec
    semantics); MERGE updates keep the target's id with a reset
    version, MERGE inserts claim fresh ids."""
    root, w = _mk(spark, tmp_path, "rt_dml")
    before = {
        r["k"]: (r["_row_id"], r["_row_commit_version"])
        for r in read_delta(spark, root, with_row_ids=True).collect()
    }
    v_del = w.delete_where(F.col("k") < 5)  # partial rewrite
    after_del = {
        r["k"]: (r["_row_id"], r["_row_commit_version"])
        for r in read_delta(spark, root, with_row_ids=True).collect()
    }
    assert after_del == {k: v for k, v in before.items() if k >= 5}
    v_upd = w.update_where({"v": F.lit("upd")}, F.col("k") % 7 == 0)
    after_upd = {
        r["k"]: (r["_row_id"], r["_row_commit_version"])
        for r in read_delta(spark, root, with_row_ids=True).collect()
    }
    for k, (rid, cv) in after_upd.items():
        assert rid == before[k][0], f"UPDATE moved row id of k={k}"
        want_cv = v_upd if (k % 7 == 0 and k >= 5) else before[k][1]
        assert cv == want_cv, (k, cv, want_cv, v_del, v_upd)
    v_mrg = w.merge(
        spark.createDataFrame([(10, "m"), (500, "n")], "k long, v string"),
        "k",
    )
    after_mrg = {
        r["k"]: (r["_row_id"], r["_row_commit_version"])
        for r in read_delta(spark, root, with_row_ids=True).collect()
    }
    assert after_mrg[10][0] == before[10][0]  # updated: id kept
    assert after_mrg[10][1] == v_mrg          # ...version reset
    assert after_mrg[500][0] > max(r for r, _ in before.values())  # insert
    # untouched rows in rewritten files keep BOTH
    carried = {
        k: t for k, t in after_mrg.items() if k not in (10, 500)
    }
    assert carried == {k: t for k, t in after_upd.items() if k != 10}
    # REPLACE WHERE: survivors of the rewritten file keep id AND
    # version; the replacement rows are new rows, with fresh ids above
    # the high-water mark and this commit's version
    st = DeltaLog(root).replay(None)
    hwm = json.loads(
        st.domains["delta.rowTracking"]["configuration"]
    )["rowIdHighWaterMark"]
    region = (F.col("k") >= 20) & (F.col("k") < 25)
    v_rep = w.replace_where(
        spark.createDataFrame([(21, "r"), (22, "r")], "k long, v string"),
        region,
    )
    after_rep = {
        r["k"]: (r["_row_id"], r["_row_commit_version"])
        for r in read_delta(spark, root, with_row_ids=True).collect()
    }
    assert {k: t for k, t in after_rep.items() if not 20 <= k < 25} == {
        k: t for k, t in after_mrg.items() if not 20 <= k < 25
    }
    fresh = [after_rep[k] for k in (21, 22)]
    assert sorted(after_rep) == sorted(
        [k for k in after_mrg if not 20 <= k < 25] + [21, 22]
    )
    assert all(rid > hwm and cv == v_rep for rid, cv in fresh), (fresh, hwm)
    assert len({rid for rid, _ in after_rep.values()}) == len(after_rep)


def test_whole_file_delete_preserves_tracking(spark, tmp_path):
    """delete_where that drops WHOLE files (no rewrite) keeps tracking
    valid — untouched adds keep their baseRowId."""
    root, w = _mk(spark, tmp_path, "rt6a")  # one tiny file per row
    w.delete_where(F.col("k") < 5)
    rows = read_delta(spark, root, with_row_ids=True).collect()
    assert sorted(r["_row_id"] for r in rows) == list(range(5, 30))


def test_foreign_untracked_rewrite_breaks_tracking_loudly(spark, tmp_path):
    """A FOREIGN writer's rewrite that drops baseRowId (legal while
    the feature is merely supported by that writer) must make the
    row-id read refuse — never renumber. This engine's own DML
    preserves (test_delete_update_merge_preserve_row_ids)."""
    root = str(tmp_path / "rt6b")
    w = DeltaLogWriter(spark, root)
    w.create(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(30)], "k long, v string"
        ).repartition(1),
        row_tracking=True,
    )
    _foreign_untracked_rewrite(root)
    with pytest.raises(DeltaProtocolError, match="baseRowId"):
        read_delta(spark, root, with_row_ids=True).collect()
    assert read_delta(spark, root).count() == 30


def test_optimize_preserves_row_ids(spark, tmp_path):
    """OPTIMIZE on a row-tracked table materializes each row's
    _row_id / _row_commit_version into the rewritten files (hidden
    physical columns named by the table configuration, per the spec)
    — identities survive the compaction, the re-adds carry FRESH
    baseRowIds (the hwm advances; materialized values win on read),
    and the DV purge rides the same rewrite."""
    root, w = _mk(spark, tmp_path, "rt_opt")
    w.append(
        spark.createDataFrame([(100 + i, "x") for i in range(10)],
                              "k long, v string")
    )
    w.delete_where_dv(F.col("k") % 5 == 0)
    before = {
        r["k"]: (r["_row_id"], r["_row_commit_version"])
        for r in read_delta(spark, root, with_row_ids=True).collect()
    }
    w.optimize(num_files=1)
    after = {
        r["k"]: (r["_row_id"], r["_row_commit_version"])
        for r in read_delta(spark, root, with_row_ids=True).collect()
    }
    assert after == before, "OPTIMIZE changed a row's tracking identity"
    # materialized columns are invisible to plain reads
    plain = read_delta(spark, root)
    assert plain.columns == ["k", "v"]
    assert plain.count() == len(after)
    # ids claimed by the rewrite are never reused by later appends
    w.append(spark.createDataFrame([(999, "z")], "k long, v string"))
    by_k = {
        r["k"]: r["_row_id"]
        for r in read_delta(spark, root, with_row_ids=True).collect()
    }
    assert by_k[999] >= 40
    # a second optimize re-carries the already-materialized values
    w.optimize(num_files=2)
    again = {
        r["k"]: r["_row_id"]
        for r in read_delta(spark, root, with_row_ids=True).collect()
    }
    assert again == {**{k: v[0] for k, v in before.items()}, 999: by_k[999]}


def test_create_declares_materialized_columns(spark, tmp_path):
    """create(row_tracking=True) must ACTIVATE tracking in the table
    configuration (delta.enableRowTracking — the writer feature alone
    is merely 'supported') and declare the materialized column names
    up front."""
    root, _w = _mk(spark, tmp_path, "rt_cfg")
    st = DeltaLog(root).replay(None)
    cfg = st.config
    assert cfg.get("delta.enableRowTracking") == "true"
    assert (
        cfg.get("delta.rowTracking.materializedRowIdColumnName")
        == "_row_id"
    )
    assert (
        cfg.get("delta.rowTracking.materializedRowCommitVersionColumnName")
        == "_row_commit_version"
    )


def test_create_refuses_reserved_column_clash(spark, tmp_path):
    root = str(tmp_path / "rt_clash")
    w = DeltaLogWriter(spark, root)
    with pytest.raises(ValueError, match="materialized column names"):
        w.create(
            spark.createDataFrame([(1, 2)], "k long, _row_id long"),
            row_tracking=True,
        )


def test_optimize_on_partially_tracked_table_stays_refusing(spark, tmp_path):
    """A foreign untracked rewrite strips baseRowId; OPTIMIZE on such
    a snapshot cannot reconstruct the lost identities, so it stays
    NON-preserving and the row-id read keeps refusing."""
    root = str(tmp_path / "rt_part_opt")
    w = DeltaLogWriter(spark, root)
    w.create(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(30)], "k long, v string"
        ).repartition(1),
        row_tracking=True,
    )
    _foreign_untracked_rewrite(root)
    w.optimize(num_files=1)
    with pytest.raises(DeltaProtocolError, match="baseRowId"):
        read_delta(spark, root, with_row_ids=True).collect()
    assert read_delta(spark, root).count() == 30


def test_uniform_convert_after_optimize_carries_materialized_ids(
    spark, tmp_path
):
    """The UniForm translation of a COMPACTED row-tracked table: the
    Delta materialized columns use the Iceberg v3 reserved names, so
    the Iceberg lineage read resolves the SAME physical columns and
    every _row_id read through the Iceberg chain equals what the
    Delta side assigned — across the rewrite, with zero data copies."""
    from plankton_spark.sources.iceberg_meta import read_iceberg
    from plankton_spark.sources import delta_log, iceberg_meta

    root, w = _mk(spark, tmp_path, "uni_opt")
    w.append(spark.createDataFrame([(800, "q")], "k long, v string"))
    w.delete_where_dv(F.col("k") % 5 == 0)
    delta_ids = {
        r["k"]: r["_row_id"]
        for r in read_delta(spark, root, with_row_ids=True).collect()
    }
    w.optimize(num_files=1)
    iceberg_meta.author(spark, root, delta_log.inventory)
    ice_ids = {
        r["k"]: r["_row_id"]
        for r in read_iceberg(spark, root, with_lineage=True).collect()
    }
    assert ice_ids == delta_ids


def test_txn_append_refused_on_tracked_table(spark, tmp_path):
    root, w = _mk(spark, tmp_path, "rt7")
    with pytest.raises(DeltaProtocolError, match="row tracking composes"):
        w.append(
            spark.createDataFrame([(1, "a")], "k long, v string"),
            txn=("app", 1),
        )


def test_time_travel_projects_historical_ids(spark, tmp_path):
    root, w = _mk(spark, tmp_path, "rt8")
    w.append(spark.createDataFrame([(500, "z")], "k long, v string"))
    v0 = read_delta(spark, root, version=0, with_row_ids=True)
    assert v0.count() == 30
    assert v0.agg(F.max("_row_id")).collect()[0][0] == 29


def test_partition_pruned_to_empty_keeps_schema(spark, tmp_path):
    """Row-id read whose partition filter prunes every file returns an
    EMPTY frame with the row-id columns still present."""
    root = str(tmp_path / "rt9")
    w = DeltaLogWriter(spark, root)
    w.create(
        spark.createDataFrame(
            [(i, "a" if i % 2 == 0 else "b") for i in range(10)],
            "k long, grp string",
        ),
        partition_by=["grp"],
        row_tracking=True,
    )
    out = read_delta(spark, root, partitions={"grp": "zzz"}, with_row_ids=True)
    assert out.count() == 0
    assert "_row_id" in out.columns and "_row_commit_version" in out.columns


def test_tracking_survives_checkpoint_compaction(spark, tmp_path):
    """The 10-commit checkpoint must carry baseRowId /
    defaultRowCommitVersion and the delta.rowTracking domain metadata —
    otherwise replay-from-checkpoint loses tracking and the NEXT
    append restarts ids at 0 (id reuse)."""
    import glob

    root, w = _mk(spark, tmp_path, "rt10", n=5)
    for i in range(10):  # versions 1..10 — v10 writes a checkpoint
        w.append(spark.createDataFrame([(100 + i, "x")], "k long, v string"))
    assert glob.glob(os.path.join(root, "_delta_log", "*.checkpoint*")), (
        "expected a checkpoint after 10 commits"
    )
    st = DeltaLog(root).replay(None)
    # replay (checkpoint + tail) still sees every add's ids + domain
    assert all(a.get("baseRowId") is not None for a in st.active.values())
    assert "delta.rowTracking" in st.domains
    w.append(spark.createDataFrame([(999, "z")], "k long, v string"))
    by_k = {
        r["k"]: r["_row_id"]
        for r in read_delta(spark, root, with_row_ids=True).collect()
    }
    assert by_k[999] == 15  # 5 create + 10 appended — NOT restarted at 0
    ids = sorted(by_k.values())
    assert ids == list(range(16)) and len(set(ids)) == 16


def test_concurrent_row_tracked_appends_never_overlap_ids(spark, tmp_path):
    """Two racing row-tracked appends: the OCC loser must re-read the
    advanced high-water mark and re-assign — overlapping id ranges
    would corrupt lineage forever. Mirrors the identity-allocation and
    txn-replay race tests."""
    import threading

    root, _w = _mk(spark, tmp_path, "rt_race", n=10)
    barrier = threading.Barrier(2)
    errs: list[Exception] = []

    def appender(tag):
        try:
            w = DeltaLogWriter(spark, root)
            df = spark.createDataFrame(
                [(1000 * tag + i, "x") for i in range(5)], "k long, v string"
            )
            barrier.wait()
            w.append(df)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=appender, args=(t,)) for t in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    rows = read_delta(spark, root, with_row_ids=True).collect()
    ids = sorted(r["_row_id"] for r in rows)
    assert ids == list(range(20)), f"id overlap or gap: {ids}"


def test_uniform_convert_partial_tracking_translates_without_lineage(
    spark, tmp_path
):
    """convert_delta_to_iceberg on a PARTIALLY-tracked Delta snapshot
    (a foreign rewrite stripped a baseRowId) must translate WITHOUT
    lineage: data reads fine through the Iceberg chain, the lineage
    read refuses — ids are never fabricated."""
    from plankton_spark.sources.iceberg_meta import read_iceberg
    from plankton_spark.sources import delta_log, iceberg_meta

    root = str(tmp_path / "uni_partial")
    w = DeltaLogWriter(spark, root)
    w.create(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(30)], "k long, v string"
        ).repartition(1),
        row_tracking=True,
    )
    _foreign_untracked_rewrite(root)
    iceberg_meta.author(spark, root, delta_log.inventory)
    assert read_iceberg(spark, root).count() == 30
    import pytest as _pytest

    with _pytest.raises(ValueError, match="first_row_id"):
        read_iceberg(spark, root, with_lineage=True).collect()


def test_uniform_convert_fully_tracked_carries_ids(spark, tmp_path):
    """Fully-tracked Delta → Iceberg: every _row_id read through the
    ICEBERG chain equals what the DELTA side assigned."""
    from plankton_spark.sources.iceberg_meta import (
        IcebergTable,
        read_iceberg,
    )
    from plankton_spark.sources import delta_log, iceberg_meta

    root, w = _mk(spark, tmp_path, "uni_full")
    w.append(spark.createDataFrame([(800, "q")], "k long, v string"))
    delta_ids = {
        r["k"]: r["_row_id"]
        for r in read_delta(spark, root, with_row_ids=True).collect()
    }
    iceberg_meta.author(spark, root, delta_log.inventory)
    ice_ids = {
        r["k"]: r["_row_id"]
        for r in read_iceberg(spark, root, with_lineage=True).collect()
    }
    assert ice_ids == delta_ids
    assert IcebergTable(root).metadata["next-row-id"] == 31


def test_dv_update_preserves_row_ids(spark, tmp_path):
    """update_where_dv (the O(changed-rows) fast path) preserves
    identities too: masked re-adds keep their copied baseRowIds, the
    updated copies carry their rows' ORIGINAL ids materialized with a
    reset commit version, and a second DV update over already-updated
    rows (whose ids now live in the materialized column) stays
    stable."""
    root = str(tmp_path / "rt_dvu")
    w = DeltaLogWriter(spark, root)
    w.create(
        spark.createDataFrame(
            [(i, i) for i in range(20)], "k long, v long"
        ).repartition(1).sortWithinPartitions("k"),
        row_tracking=True,
    )
    before = {
        r["k"]: (r["_row_id"], r["_row_commit_version"])
        for r in read_delta(spark, root, with_row_ids=True).collect()
    }
    w.delete_where_dv(F.col("k") < 3)
    v2 = w.update_where_dv({"v": F.col("v") + 100}, F.col("k") % 4 == 0)
    after = {
        r["k"]: (r["_row_id"], r["_row_commit_version"])
        for r in read_delta(spark, root, with_row_ids=True).collect()
    }
    assert set(after) == {k for k in before if k >= 3}
    for k, (rid, cv) in after.items():
        assert rid == before[k][0]
        assert cv == (v2 if k % 4 == 0 else before[k][1])
    v3 = w.update_where_dv({"v": F.col("v") + 1000}, F.col("k") == 4)
    after3 = {
        r["k"]: (r["_row_id"], r["_row_commit_version"])
        for r in read_delta(spark, root, with_row_ids=True).collect()
    }
    assert after3[4] == (before[4][0], v3)
    assert {k: t[0] for k, t in after3.items()} == {
        k: t[0] for k, t in after.items()
    }
