"""Metadata-only plan inputs stay in the JVM: snapshot reads take their
schema from table metadata (no schema-inference job), driver-built
frames are Arrow local relations (no Python RDD), and each DML verb
runs a pinned number of Spark jobs. Row-level rewrites match hit files
by exact path, so files sharing a basename in different partition
directories never stand in for each other."""

from __future__ import annotations

import json
import os
import uuid

from functools import partial

import pytest
from pyspark.sql import functions as F

from plankton_spark.sources.assemble import file_key, local_frame
from plankton_spark.sources import delta_log, iceberg_meta
from plankton_spark.sources.convert import hive_inventory
from plankton_spark.sources.delta_log import (
    DeltaLog,
    DeltaLogWriter,
    read_delta,
)
from plankton_spark.sources.hudi_meta import (
    META_COLS,
    HudiTable,
    HudiWriter,
    read_hudi,
)
from plankton_spark.sources.iceberg_meta import (
    IcebergTable,
    IcebergWriter,
    read_iceberg,
)
from plankton_spark.table_format import PlankTable

FORMATS = ("planktable", "delta", "iceberg", "hudi")


def _jobs(spark, fn):
    """(fn's result, number of Spark jobs it ran), read from the status
    tracker under a fresh job group."""
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(spark, lo, hi):
    # one partition: incremental actions (take, first) run the same
    # number of jobs at any core count
    return spark.range(lo, hi, 1, 1).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("grp"),
        (F.col("id") * 0.5).alias("v"),
    )


class _Tables:
    """One small table per format behind the verb surface the DML
    benchmark uses (Hudi COW through its key-based verbs)."""

    def __init__(self, spark, root):
        self.spark = spark
        self.paths = {f: os.path.join(root, f) for f in FORMATS}
        self.w = {
            "planktable": PlankTable(spark, self.paths["planktable"]),
            "delta": DeltaLogWriter(spark, self.paths["delta"]),
            "iceberg": IcebergWriter(spark, self.paths["iceberg"]),
            "hudi": HudiWriter(spark, self.paths["hudi"], record_key="k"),
        }
        for f in FORMATS:
            self.w[f].create(_rows(spark, 0, 200).coalesce(2))

    def read(self, fmt):
        path = self.paths[fmt]
        if fmt == "planktable":
            return self.w[fmt].read()
        if fmt == "delta":
            return read_delta(self.spark, path)
        if fmt == "iceberg":
            return read_iceberg(self.spark, path)
        return read_hudi(self.spark, path)

    def verb(self, fmt, verb):
        w, hudi = self.w[fmt], fmt == "hudi"
        cond = F.col("grp") == 1
        if verb == "append":
            df = _rows(self.spark, 1000, 1050).coalesce(1)
            w.insert(df) if hudi else w.append(df)
        elif verb == "delete":
            if hudi:
                w.delete_keys(self.read(fmt).where(cond).select("k"))
            else:
                w.delete_where(cond)
        elif verb == "update":
            if hudi:
                w.upsert(
                    self.read(fmt)
                    .where(F.col("grp") == 2)
                    .select("k", "grp", (F.col("v") + 1).alias("v"))
                )
            else:
                w.update_where({"v": F.col("v") + 1}, F.col("grp") == 2)
        elif verb == "merge":
            src = _rows(self.spark, 190, 210)
            w.upsert(src) if hudi else w.merge(src, "k")
        else:
            if hudi:
                w.group_buckets = 1
                w.cluster()
            else:
                w.optimize(num_files=1)


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    return _Tables(spark, str(tmp_path_factory.mktemp("metajobs")))


@pytest.mark.parametrize("fmt", FORMATS)
def test_snapshot_read_builds_without_jobs(spark, tables, fmt):
    """Building a snapshot read and resolving its schema is pure
    metadata work on every format: no schema-inference job."""
    schema, n = _jobs(spark, lambda: tables.read(fmt).schema)
    assert [f.name for f in schema.fields][:3] == ["k", "grp", "v"]
    assert n == 0, f"{fmt}: building a snapshot read ran {n} Spark job(s)"


# Spark jobs per verb on the tables above (the same at 1, 4 and 32
# cores). A rise means a verb picked up a probe, a schema inference or
# a Python-RDD frame; a fall should lower the pin. Before reads took
# their schema from metadata, planktable ran 2/6/6/4/2 and hudi
# 2/11/13/9/3. Hudi counts include the snapshot reads its key-based
# delete and update consume.
VERB_JOBS = {
    "planktable": dict(append=1, delete=3, update=3, merge=3, optimize=1),
    "delta": dict(append=2, delete=4, update=4, merge=5, optimize=2),
    "iceberg": dict(append=1, delete=4, update=4, merge=7, optimize=2),
    "hudi": dict(append=2, delete=8, update=10, merge=7, optimize=2),
}


@pytest.mark.parametrize("fmt", FORMATS)
def test_dml_verb_job_counts(spark, tmp_path, fmt):
    t = _Tables(spark, str(tmp_path))
    got = {}
    for verb in ("append", "delete", "update", "merge", "optimize"):
        _, got[verb] = _jobs(spark, lambda: t.verb(fmt, verb))
    assert got == VERB_JOBS[fmt]
    keys = sorted(r.k for r in t.read(fmt).select("k").collect())
    base = set(range(200)) | set(range(1000, 1050))
    want = sorted({k for k in base if k % 5 != 1} | set(range(190, 210)))
    assert keys == want


# Driver parquet-footer opens per verb on the tables above, as (opens
# of files the verb staged, opens of other files). Every format reads
# each staged file's footer once, in its staging dir
# (sources/stage.py); only Iceberg's merge also opens live files, the
# footers of the files whose key range it prunes against.
FOOTER_OPENS = {
    fmt: dict(
        append=(1, 0), delete=(2, 0), update=(2, 0), merge=(2, 0), optimize=(1, 0)
    )
    for fmt in FORMATS
}
FOOTER_OPENS["iceberg"]["merge"] = (2, 2)
_STAGE_DIRS = ("/.stage-", "/_stage-", "/.hoodie/.temp/")


def test_dml_verb_footer_opens(spark, tmp_path, footer_opens):
    t = _Tables(spark, str(tmp_path))
    got = {}
    for fmt in FORMATS:
        got[fmt] = {}
        for verb in ("append", "delete", "update", "merge", "optimize"):
            footer_opens.clear()
            t.verb(fmt, verb)
            opens = list(footer_opens)
            assert len(set(opens)) == len(opens), (fmt, verb, opens)
            staged = sum(any(d in p for d in _STAGE_DIRS) for p in opens)
            got[fmt][verb] = (staged, len(opens) - staged)
    assert got == FOOTER_OPENS


# replace_where shares the row-rewrite path of delete and update; it
# runs on a table of its own so the pins above keep their tables and
# their key check. A rise means the shared path picked up a job.
REPLACE_WHERE_JOBS = {"planktable": 5, "delta": 7, "iceberg": 6}


@pytest.mark.parametrize("fmt", sorted(REPLACE_WHERE_JOBS))
def test_replace_where_job_count(spark, tmp_path, fmt):
    path = str(tmp_path / fmt)
    w = {"planktable": PlankTable, "delta": DeltaLogWriter, "iceberg": IcebergWriter}[
        fmt
    ](spark, path)
    w.create(_rows(spark, 0, 200).coalesce(2))
    cond = F.col("grp") == 3
    new = _rows(spark, 0, 200).where(cond).withColumn("v", F.col("v") * 2)
    _, n = _jobs(spark, lambda: w.replace_where(new.coalesce(1), cond))
    assert n == REPLACE_WHERE_JOBS[fmt]
    read = {
        "planktable": lambda: w.read(),
        "delta": lambda: read_delta(spark, path),
        "iceberg": lambda: read_iceberg(spark, path),
    }[fmt]
    got = sorted((r.k, r.v) for r in read().collect())
    assert got == [(k, k * (1.0 if k % 5 == 3 else 0.5)) for k in range(200)]


# Merge-on-read verbs (deletion vectors, position and equality deletes)
# mark rows instead of rewriting files. Each runs on a table of its own
# so the pins above keep their tables; a rise means the verb picked up
# a job. After the verb, building a snapshot read of the table, whose
# deletes it must subtract, still runs no job.
MOR_JOBS = {
    ("delta", "delete_where_dv"): 2,
    ("delta", "update_where_dv"): 4,
    ("iceberg", "delete_where_pos"): 3,
    ("iceberg", "delete_where_dv"): 1,
    ("iceberg", "delete_where_eq"): 2,
}


@pytest.mark.parametrize("fmt,verb", sorted(MOR_JOBS))
def test_merge_on_read_job_count(spark, tmp_path, fmt, verb):
    path = str(tmp_path / verb)
    w = {"delta": DeltaLogWriter, "iceberg": IcebergWriter}[fmt](spark, path)
    w.create(_rows(spark, 0, 200).coalesce(2))
    cond = F.col("grp") == 1
    call = {
        "delete_where_dv": lambda: w.delete_where_dv(cond),
        "update_where_dv": lambda: w.update_where_dv({"v": F.col("v") + 1}, cond),
        "delete_where_pos": lambda: w.delete_where_pos(cond),
        "delete_where_eq": lambda: w.delete_where_eq(
            _rows(spark, 0, 200).where(cond).select("k")
        ),
    }[verb]
    _, n = _jobs(spark, call)
    assert n == MOR_JOBS[(fmt, verb)]
    read = {"delta": read_delta, "iceberg": read_iceberg}[fmt]
    df, n = _jobs(spark, lambda: read(spark, path))
    assert n == 0, f"{fmt}: building a {verb} snapshot read ran {n} Spark job(s)"
    got = sorted((r.k, r.v) for r in df.collect())
    if verb == "update_where_dv":
        want = [(k, k * 0.5 + (k % 5 == 1)) for k in range(200)]
    else:
        want = [(k, k * 0.5) for k in range(200) if k % 5 != 1]
    assert got == want


def test_local_frame_is_a_local_relation(spark):
    df = local_frame(
        spark,
        [("a", 1, {"x": "1"}), ("b", None, None)],
        "f string, n long, m map<string,string>",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert [tuple(r) for r in df.collect()] == [
        ("a", 1, {"x": "1"}),
        ("b", None, None),
    ]
    empty = local_frame(spark, [], "f string, n long")
    assert empty.count() == 0 and empty.columns == ["f", "n"]
    assert "LocalTableScan" in empty._jdf.queryExecution().executedPlan().toString()


def test_file_key_matches_scan_paths_exactly(spark, tmp_path):
    """`input_file_name()` URIs (percent-encoded) map to the plain path
    table metadata records; equal basenames in different directories
    stay distinct."""
    a = str(tmp_path / "p=a b" / "part-0.parquet")
    b = str(tmp_path / "p=c" / "part-0.parquet")
    for p in (a, b):
        spark.range(0, 1, 1, 1).write.parquet(p + ".d")
        os.rename(
            next(
                os.path.join(p + ".d", f)
                for f in os.listdir(p + ".d")
                if f.endswith(".parquet")
            ),
            p,
        )
    seen = {
        r[0]
        for r in spark.read.parquet(a, b)
        .select(F.input_file_name())
        .collect()
    }
    assert {file_key(u) for u in seen} == {a, b}
    assert file_key("s3a://bkt/t/p%3D1/x.parquet") == "s3a://bkt/t/p=1/x.parquet"


# -- schema parity: metadata schema == what inference used to give ------


def _inferred(spark, t):
    return spark.read.option("mergeSchema", "true").parquet(*t.files()).schema


def test_planktable_schema_parity(spark, tmp_path):
    t = PlankTable(spark, str(tmp_path / "pt"))
    t.create(_rows(spark, 0, 20).select("k", F.col("grp").cast("int").alias("grp")))
    assert t.schema() is not None
    assert t.read().schema == _inferred(spark, t)
    t.append(
        _rows(spark, 20, 25).select(
            "k", F.col("grp").cast("int").alias("grp"), F.lit("x").alias("z")
        ),
        merge_schema=True,
    )
    assert t.read().schema == _inferred(spark, t)
    assert t.read().columns == ["k", "grp", "z"]
    t.rename_column("z", "zz")
    assert t.read().schema == _inferred(spark, t)
    t.drop_column("zz")
    assert t.read().schema == _inferred(spark, t)
    t.widen_column("grp", "long")
    assert t.read().schema == _inferred(spark, t)
    assert dict(t.read().dtypes)["grp"] == "bigint"
    # restore reads under the restored version's schema
    t.restore(1)
    assert t.read().columns == ["k", "grp", "z"]
    assert t.read().schema == _inferred(spark, t)
    # a time-travel read sees the schema of its own version
    assert t.read(version=0).columns == ["k", "grp"]


def test_planktable_merge_widens_like_merge_schema(spark, tmp_path):
    """A MERGE whose source widens a decimal stages wider files; the
    recorded schema widens the way mergeSchema inference did."""
    t = PlankTable(spark, str(tmp_path / "mw"))
    bal = (F.col("k") * 1.25).cast("decimal(12,2)").alias("bal")
    t.create(_rows(spark, 0, 10).select("k", bal))
    src = _rows(spark, 5, 15).select("k", bal).select("k", F.col("bal") + 1000)
    t.merge(src.toDF("k", "bal"), "k")
    assert dict(t.read().dtypes)["bal"] == "decimal(13,2)"
    assert t.read().schema == _inferred(spark, t)
    got = sorted((r.k, float(r.bal)) for r in t.read().collect())
    assert got == [(k, k * 1.25 + (1000 if k >= 5 else 0)) for k in range(15)]


def test_planktable_schema_survives_checkpoint_and_expiry(spark, tmp_path):
    t = PlankTable(spark, str(tmp_path / "ck"))
    t.create(_rows(spark, 0, 5))
    t.append(_rows(spark, 5, 6).withColumn("z", F.lit(1)), merge_schema=True)
    for i in range(10):
        t.append(_rows(spark, 10 + i, 11 + i).withColumn("z", F.lit(i)))
    t.expire_log(keep_versions=2)
    schema, n = _jobs(spark, lambda: t.read().schema)
    assert n == 0 and schema.fieldNames() == ["k", "grp", "v", "z"]
    assert schema == _inferred(spark, t)


def test_planktable_legacy_log_still_infers(spark, tmp_path):
    """A log written before commits recorded the schema reads exactly
    as before: mergeSchema inference over the live files."""
    path = str(tmp_path / "legacy")
    t = PlankTable(spark, path)
    t.create(_rows(spark, 0, 10))
    t.append(_rows(spark, 10, 12).withColumn("z", F.lit("x")), merge_schema=True)
    logdir = os.path.join(path, "_log")
    for name in os.listdir(logdir):
        with open(os.path.join(logdir, name)) as fh:
            commit = json.load(fh)
        commit.pop("schema", None)
        with open(os.path.join(logdir, name), "w") as fh:
            json.dump(commit, fh)
    assert t.schema() is None
    schema, n = _jobs(spark, lambda: t.read().schema)
    assert n >= 1  # inference, as before schemas were recorded
    assert schema == _inferred(spark, t)
    assert schema.fieldNames() == ["k", "grp", "v", "z"]
    t.delete_where(F.col("k") < 3)
    assert sorted(r.k for r in t.read().collect()) == list(range(3, 12))


def test_planktable_delete_of_whole_file_stages_nothing(spark, tmp_path):
    t = PlankTable(spark, str(tmp_path / "whole"))
    t.create(_rows(spark, 0, 10).coalesce(1))
    t.append(_rows(spark, 10, 20).coalesce(1))
    t.delete_where(F.col("k") >= 10)
    assert t.history()[-1]["n_added"] == 0
    assert t.history()[-1]["n_removed"] == 1
    assert not [e for e in os.listdir(t.path) if e.startswith(".stage-")]
    assert sorted(r.k for r in t.read().collect()) == list(range(10))


def test_hudi_cow_schema_parity(spark, tmp_path):
    path = str(tmp_path / "hudi")
    w = HudiWriter(spark, path, record_key="k")
    w.create(_rows(spark, 0, 30).withColumn("ts", F.current_date()))
    w.upsert(_rows(spark, 25, 40).withColumn("ts", F.current_date()))
    slices = HudiTable(path).file_slices()
    paths = [os.path.join(path, rel) for _p, _f, _t, rel in slices]
    old = spark.read.parquet(*paths).drop(*META_COLS).schema
    new, n = _jobs(spark, lambda: read_hudi(spark, path).schema)
    assert n == 0 and new == old
    with_meta = read_hudi(spark, path, with_meta=True).schema
    assert with_meta == spark.read.parquet(*paths).schema


# -- exact hit matching on same-basename partition files ----------------


def _same_basename_parquet(spark, root):
    """Spark's partitioned writer, one task: every partition directory
    gets the same part-file name."""
    _rows(spark, 0, 10).coalesce(1).write.partitionBy("grp").parquet(root)
    names = {
        d: [f for f in os.listdir(os.path.join(root, d)) if f.endswith(".parquet")]
        for d in os.listdir(root)
        if d.startswith("grp=")
    }
    assert len({tuple(v) for v in names.values()}) == 1, names
    return root


def test_delta_delete_leaves_same_basename_file_live(spark, tmp_path):
    root = _same_basename_parquet(spark, str(tmp_path / "d"))
    delta_log.author(
        spark, root, partial(hive_inventory, partition_schema={"grp": "long"})
    )
    before = {p for p, _ in DeltaLog(root).snapshot()[2]}
    DeltaLogWriter(spark, root).delete_where(F.col("k") == 1)  # grp=1 only
    after = {p for p, _ in DeltaLog(root).snapshot()[2]}
    untouched = {p for p in before if "grp=1" not in p}
    assert untouched <= after, "a file outside the hit partition was rewritten"
    assert len(before - after) == 1
    assert sorted(r.k for r in read_delta(spark, root).collect()) == [
        k for k in range(10) if k != 1
    ]


def test_iceberg_delete_leaves_same_basename_file_live(spark, tmp_path):
    root = _same_basename_parquet(spark, str(tmp_path / "i"))
    iceberg_meta.author(
        spark, root, partial(hive_inventory, partition_schema={"grp": "long"})
    )
    before = set(IcebergTable(root).data_files())
    IcebergWriter(spark, root).delete_where(F.col("k") == 1)  # grp=1 only
    after = set(IcebergTable(root).data_files())
    untouched = {p for p in before if "grp=1" not in p}
    assert untouched <= after, "a file outside the hit partition was rewritten"
    assert len(before - after) == 1
    assert sorted(r.k for r in read_iceberg(spark, root).collect()) == [
        k for k in range(10) if k != 1
    ]


# Driver metadata reads per verb on the tables above, then for one
# snapshot read. Iceberg: (Avro decodes, distinct Avro files read) —
# each manifest list and manifest is decoded once, and the distinct
# count grows by one manifest list and one manifest per commit. Delta:
# DeltaLog.replay calls — one; the commit path then reads only the
# commits newer than the replayed version (and the newest commit's
# in-commit-timestamp line). Before verbs carried one opened table
# from snapshot to commit, Iceberg decoded 5/30/40/50/54 and 14 times
# and Delta replayed 2/4/4/3/3 and 1 times.
METADATA_READS = {
    "iceberg": dict(
        append=(2, 2), delete=(3, 3), update=(4, 4), merge=(5, 5),
        optimize=(6, 6), read=(7, 7),
    ),
    "delta": dict(append=1, delete=1, update=1, merge=1, optimize=1, read=1),
}


def _metadata_reads(monkeypatch):
    """Iceberg Avro decodes (paths, in order) and Delta events: ("replay",
    version replayed), ("open", commit version read by any other
    parse) and ("ict", version whose first line was read)."""
    import builtins
    import re

    from plankton_spark.sources import avro_ocf, delta_log, iceberg_meta

    decodes, events, in_ict = [], [], []
    real_read = avro_ocf.read_ocf_generic

    def read(path):
        decodes.append(os.path.realpath(path))
        return real_read(path)

    monkeypatch.setattr(avro_ocf, "read_ocf_generic", read)
    monkeypatch.setattr(iceberg_meta, "read_ocf_generic", read)
    real_replay = delta_log.DeltaLog.replay

    def replay(self, *a, **k):
        out = real_replay(self, *a, **k)
        events.append(("replay", self.latest_version() if not a or a[0] is None else a[0]))
        return out

    monkeypatch.setattr(delta_log.DeltaLog, "replay", replay)
    real_ict = delta_log._commit_ict

    def ict(log_dir, version):
        events.append(("ict", version))
        in_ict.append(1)
        try:
            return real_ict(log_dir, version)
        finally:
            in_ict.pop()

    monkeypatch.setattr(delta_log, "_commit_ict", ict)
    commit = re.compile(r"_delta_log/(\d{20})\.json$")

    def opener(path, *a, **k):
        m = commit.search(str(path))
        if m and not in_ict:
            events.append(("open", int(m.group(1))))
        return builtins.open(path, *a, **k)

    monkeypatch.setattr(delta_log, "open", opener, raising=False)
    return decodes, events


def test_dml_verb_metadata_reads(spark, tmp_path, monkeypatch):
    t = _Tables(spark, str(tmp_path))
    decodes, events = _metadata_reads(monkeypatch)
    got, stale = {"iceberg": {}, "delta": {}}, []
    for verb in ("append", "delete", "update", "merge", "optimize", "read"):
        for fmt in ("iceberg", "delta"):
            decodes.clear()
            events.clear()
            if verb == "read":
                t.read(fmt).schema
            else:
                t.verb(fmt, verb)
            if fmt == "iceberg":
                got[fmt][verb] = (len(decodes), len(set(decodes)))
                continue
            replays = [v for kind, v in events if kind == "replay"]
            got[fmt][verb] = len(replays)
            if replays:
                # after the replay, no commit at or below its version is
                # parsed again; the newest one's ICT line may be read
                i = events.index(("replay", replays[0]))
                stale += [
                    (verb, e) for e in events[i + 1:]
                    if e[0] != "replay" and e[1] <= replays[0]
                    and e != ("ict", replays[0])
                ]
    assert got == METADATA_READS
    assert not stale, stale
