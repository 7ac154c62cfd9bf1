"""Apache Hudi COPY_ON_WRITE tables — pure-Python timeline/metadata
layer over Spark-native parquet scans (the Hudi arm of the migration
matrix, next to delta_log.py and iceberg_meta.py).

Public knowledge only: the Hudi table format as published at
hudi.apache.org (tech spec + storage layout docs):

- ``.hoodie/hoodie.properties`` — java-properties table config
  (``hoodie.table.type`` COPY_ON_WRITE vs MERGE_ON_READ,
  ``hoodie.table.recordkey.fields``, partition-path field).
- Timeline: one instant per action, named ``<instantTime>.<action>``
  with ``.requested`` / ``.inflight`` transition files; an action file
  WITHOUT a suffix is the completed instant. ``commit`` carries
  HoodieCommitMetadata JSON: ``partitionToWriteStats`` maps partition
  path → write-stat list ({fileId, path, prevCommit, numWrites,
  numInserts, numUpdateWrites, numDeletes, fileSizeInBytes}).
- Base files: ``<fileId>_<writeToken>_<instantTime>.parquet`` inside
  plain-value partition directories (Hudi's default layout is the
  partition VALUE, not hive ``key=value``). All records carry the five
  meta columns ``_hoodie_commit_time``, ``_hoodie_commit_seqno``,
  ``_hoodie_record_key``, ``_hoodie_partition_path``,
  ``_hoodie_file_name``; data columns (including the partition field)
  stay in file content.
- COW semantics: a *file group* (fileId) is rewritten wholesale by
  every upsert/delete touching it; the snapshot at instant T reads,
  per file group, the base file with the largest commit instant ≤ T
  (the *latest file slice*). Records copied forward keep their
  ORIGINAL ``_hoodie_commit_time``; updated/inserted records carry the
  writing instant — which is exactly what makes the incremental query
  (``_hoodie_commit_time ∈ (begin, end]`` over slices touched in the
  range) correct without a log.

Scale notes: slice resolution replays the timeline — O(completed
instants) driver-side metadata, no data IO. Snapshot reads are one
multi-path parquet scan (pushdown + column pruning intact; the five
meta columns are pruned at the scan when ``with_meta=False``). The
upsert index is the *global simple index* shape: one key-proportional
join of incoming keys against a key→fileId projection of the current
snapshot; the rewrite reads and writes only the TOUCHED file groups
(COW write amplification is per-group, never per-table).

MERGE_ON_READ (sources/hudi_log.py): upserts append updates as LOG
FILES (avro data blocks) under deltacommits, deletes as DELETE_BLOCK
entries; the snapshot read merges base + executor-parsed log records
with one latest-wins record-key window (a delete event winning hides
the key); compact() folds logs into fresh base files under a commit
and the stale logs detach by base-instant mismatch.

``replacecommit`` instants (clustering) replay per the spec: the
listed file groups become invisible from that instant on and the
clustering output becomes the live layout; records keep their
ORIGINAL commit time + seqno, so incremental reads stay exact and
the instant is layout-only silent (the compaction precedent).
cluster() writes one.

Honest refusals (never fabricate): format converters on un-compacted
MOR tables (a log delta has no Delta/Iceberg representation; after
compact() the conversion proceeds), virtual-key tables refuse
with_meta reads (nothing to surface) and MOR writes (the log merge
needs the meta columns) — COW virtual-key writes work since round 13
by keying on the declared record-key column — and pending (inflight)
instants are never read.
"""

from __future__ import annotations

import glob as _glob
import json
import os
import re
import shutil

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from plankton_spark.sources import stage
from plankton_spark.sources.assemble import local_frame
from plankton_spark.sources.convert import Inventory, LiveFile, refuse_layout, rel_path

META_COLS = [
    "_hoodie_commit_time",
    "_hoodie_commit_seqno",
    "_hoodie_record_key",
    "_hoodie_partition_path",
    "_hoodie_file_name",
]

# Deterministic instant clock: yyyyMMddHHmmssSSS strings, fixed width
# so lexicographic order == commit order (what the spec's string
# comparisons rely on). Fixture tables start here; foreign tables are
# continued past their own max instant.
_INSTANT0 = 20260101000000000

_COMPLETED_RE = re.compile(r"^(\d{14,17})\.(commit|replacecommit|deltacommit|clean|rollback)$")
_PENDING_RE = re.compile(r"^(\d{14,17})\.(commit|deltacommit|replacecommit)\.(requested|inflight)$")
_BASEFILE_RE = re.compile(r"^(?P<fid>[^_]+)_(?P<token>[^_]+)_(?P<instant>\d{14,17})\.parquet$")

_UNPARTITIONED = ""


_SPARK_ROW_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"


def read_slices(spark, paths: list[str]):
    """Read base files as ONE multi-path parquet scan under the Spark
    row schema recorded in the first file's footer — the footer Spark's
    own non-merging inference would read, minus the schema-inference
    job. Footers without a JSON row schema (foreign parquet-avro
    writers, Spark 1.x) still infer."""
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    raw = (pq.read_metadata(paths[0]).metadata or {}).get(_SPARK_ROW_SCHEMA)
    try:
        schema = T.StructType.fromJson(json.loads(raw))
    except (TypeError, ValueError, KeyError):
        # absent, or the pre-JSON case-class string of Spark 1.x
        return spark.read.parquet(*paths)
    return spark.read.schema(schema).parquet(*paths)


def _read_props(path: str) -> dict[str, str]:
    props: dict[str, str] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith("#") or "=" not in line:
                continue
            k, _, v = line.partition("=")
            props[k.strip()] = v.strip()
    return props


def _write_props(path: str, props: dict[str, str]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("#Updated at instant\n")
        for k in sorted(props):
            fh.write(f"{k}={props[k]}\n")


class HudiTable:
    """Read-side view of a Hudi table directory: timeline replay and
    latest-file-slice resolution. Metadata only — Spark does the data
    IO (read_hudi below)."""

    def __init__(self, table_path: str):
        self.table_path = table_path
        self.meta_dir = os.path.join(table_path, ".hoodie")
        props_path = os.path.join(self.meta_dir, "hoodie.properties")
        if not os.path.isfile(props_path):
            raise FileNotFoundError(
                f"{table_path}: no .hoodie/hoodie.properties — not a Hudi table"
            )
        self.props = _read_props(props_path)

    @property
    def table_type(self) -> str:
        return self.props.get("hoodie.table.type", "COPY_ON_WRITE")

    @property
    def record_key_field(self) -> str:
        return self.props["hoodie.table.recordkey.fields"]

    @property
    def partition_field(self) -> str | None:
        f = self.props.get("hoodie.table.partition.fields", "")
        return f or None

    @property
    def precombine_field(self) -> str | None:
        """Declared precombine column (hoodie.table.precombine.field):
        duplicate-key upsert batches collapse latest-wins on it BEFORE
        tagging (real Hudi's preCombine step). None = not declared —
        duplicate-key batches refuse."""
        f = self.props.get("hoodie.table.precombine.field", "")
        return f or None

    @property
    def virtual_keys(self) -> bool:
        """hoodie.populate.meta.fields=false: files carry NO _hoodie_*
        meta columns; record identity is the declared key field (the
        XTable / converted-table mode)."""
        return (
            self.props.get("hoodie.populate.meta.fields", "true").lower()
            == "false"
        )

    def _timeline(self) -> list[tuple[str, str]]:
        """Completed instants as sorted (instantTime, action)."""
        out = []
        for name in os.listdir(self.meta_dir):
            m = _COMPLETED_RE.match(name)
            if m:
                out.append((m.group(1), m.group(2)))
        return sorted(out)

    def instants(self) -> list[str]:
        """Completed COMMIT instants (the COW data-bearing timeline)."""
        return [t for t, a in self._timeline() if a == "commit"]

    def data_instants(self) -> list[tuple[str, str]]:
        """Completed data-bearing instants in instant order: commits
        (bulk inserts, compactions), deltacommits (log appends), and
        replacecommits (clustering — new layout files; replaced-group
        metadata rides in the same JSON)."""
        return [
            (t, a)
            for t, a in self._timeline()
            if a in ("commit", "deltacommit", "replacecommit")
        ]

    def commit_meta(self, instant: str, action: str = "commit") -> dict:
        with open(
            os.path.join(self.meta_dir, f"{instant}.{action}"),
            encoding="utf-8",
        ) as fh:
            return json.load(fh)

    def _check_readable(self, as_of: str | None) -> None:
        if self.table_type not in ("COPY_ON_WRITE", "MERGE_ON_READ"):
            raise NotImplementedError(
                f"{self.table_path}: hoodie.table.type={self.table_type}"
            )
        mor = self.table_type == "MERGE_ON_READ"
        for t, a in self._timeline():
            if as_of is not None and t > as_of:
                continue
            if a == "deltacommit" and not mor:
                raise NotImplementedError(
                    f"{self.table_path}: deltacommit instant ({t}) on a "
                    "COPY_ON_WRITE table — inconsistent timeline"
                )
        # a pending instant ≤ as_of means the snapshot is mid-write:
        # its files exist on disk but are not yet committed — the
        # completed-timeline replay below correctly EXCLUDES them, so
        # pending instants are safe to ignore (spec: readers only see
        # completed instants).

    def file_slices(
        self, as_of: str | None = None
    ) -> list[tuple[str, str, str, str]]:
        """Latest file slice per file group at ``as_of`` (default tip):
        sorted [(partition_path, file_id, instant, rel_path)]. Pure
        timeline replay — later commit instants win per file group.
        COW only: MOR callers (and the format converters, which can't
        represent un-compacted log deltas) refuse here."""
        self._check_readable(as_of)
        if self.table_type != "COPY_ON_WRITE":
            raise NotImplementedError(
                f"{self.table_path}: base-file-only slice resolution on "
                "a MERGE_ON_READ table would drop un-compacted log "
                "records — use file_slices_with_logs / read_hudi"
            )
        slices: dict[tuple[str, str], tuple[str, str]] = {}
        for t, action in self._timeline():
            if as_of is not None and t > as_of:
                break
            if action not in ("commit", "replacecommit"):
                continue
            meta = self.commit_meta(t, action)
            for part, stats in meta.get("partitionToWriteStats", {}).items():
                for st in stats:
                    rel = st["path"]
                    if ".log." in os.path.basename(rel):
                        raise NotImplementedError(
                            f"{self.table_path}: write stat points at a "
                            f"log file ({rel}) — MERGE_ON_READ artifacts"
                        )
                    slices[(part, st["fileId"])] = (t, rel)
            if action == "replacecommit":
                # spec: replaced file groups are invisible from this
                # instant on — clustering output (added above) is the
                # live layout; earlier as_of replays never get here, so
                # time travel before the clustering still sees them
                for part, fids in meta.get(
                    "partitionToReplaceFileIds", {}
                ).items():
                    for fid in fids:
                        slices.pop((part, fid), None)
        return sorted(
            (part, fid, t, rel) for (part, fid), (t, rel) in slices.items()
        )

    def file_slices_with_logs(
        self, as_of: str | None = None
    ) -> list[tuple[str, str, str, str, list[str]]]:
        """MOR slice resolution: sorted [(partition_path, file_id,
        base_instant, base_rel, [log_rels...])]. Replays commits AND
        deltacommits; a log file belongs to the slice whose base
        instant equals its embedded baseCommitTime, so logs written
        against a PRE-compaction base detach automatically when a
        compaction commit rolls the slice."""
        from plankton_spark.sources.hudi_log import parse_log_file_name

        self._check_readable(as_of)
        bases: dict[tuple[str, str], tuple[str, str]] = {}
        logs: dict[tuple[str, str, str], list[str]] = {}
        for t, action in self.data_instants():
            if as_of is not None and t > as_of:
                break
            meta = self.commit_meta(t, action)
            for part, stats in meta.get("partitionToWriteStats", {}).items():
                for st in stats:
                    rel = st["path"]
                    parsed = parse_log_file_name(os.path.basename(rel))
                    if parsed is not None:
                        fid, base_instant, _v = parsed
                        logs.setdefault(
                            (part, fid, base_instant), []
                        ).append(rel)
                    else:
                        bases[(part, st["fileId"])] = (t, rel)
            if action == "replacecommit":
                for part, fids in meta.get(
                    "partitionToReplaceFileIds", {}
                ).items():
                    for fid in fids:
                        bases.pop((part, fid), None)
                        for k in [
                            k for k in logs if k[0] == part and k[1] == fid
                        ]:
                            del logs[k]
        return sorted(
            (part, fid, t, rel, sorted(logs.get((part, fid, t), [])))
            for (part, fid), (t, rel) in bases.items()
        )


def read_hudi(
    spark,
    table_path: str,
    as_of: str | None = None,
    incremental: tuple[str, str] | None = None,
    partition_path: str | None = None,
    with_meta: bool = False,
    stats_filter: tuple | None = None,
):
    """Snapshot / time-travel / incremental read of a Hudi COW table
    as ONE multi-path parquet scan (predicate pushdown and column
    pruning reach the files; the meta columns are pruned unless
    ``with_meta``).

    ``as_of=instant`` reads the latest file slice per group at that
    instant (time travel). ``incremental=(begin, end]`` reads records
    whose ``_hoodie_commit_time`` falls in the range — only slices
    written in the range are scanned (file-level skip), then the
    per-record commit-time filter lands exactly, because COW copies
    carry their original commit time forward. ``partition_path``
    prunes at FILE-LIST level (metadata-only partition pruning).

    Virtual-key tables (converted — no per-record meta columns) get
    FILE-SLICE-GRAIN incremental attribution: a slice belongs to the
    instant that committed it, so the range returns every record of
    slices written in (begin, end] — INCLUDING copied-forward
    survivors when a rewrite (an engine virtual-key upsert/delete
    since round 13, or a foreign writer) touched the group. That is
    the documented precision limit of attribution without a
    commit-time column (real Hudi's virtual-key incremental has the
    same grain). ``with_meta`` stays refused (nothing to surface).

    An incremental range or partition prune that selects NOTHING on a
    non-empty table returns an EMPTY DataFrame with the table schema
    (an empty changeset is a legitimate poll result); only a truly
    empty table raises.

    MERGE_ON_READ tables route through the log-merge path: base-file
    scan UNION the executor-parsed log records, latest version per
    record key wins, a winning DELETE_BLOCK event hides the key
    (see _read_mor)."""
    t = HudiTable(table_path)
    if incremental is not None and as_of is not None:
        raise ValueError("pass as_of or incremental, not both")
    if t.virtual_keys and with_meta:
        raise NotImplementedError(
            f"{table_path}: virtual-key table (populate.meta.fields="
            "false) carries no per-record meta columns to surface"
        )
    if t.table_type == "MERGE_ON_READ":
        if stats_filter is not None:
            raise NotImplementedError(
                f"{table_path}: stats_filter on MERGE_ON_READ — log "
                "records carry no column stats until compaction folds "
                "them into bases; compact first"
            )
        return _read_mor(
            spark, t, table_path, as_of, incremental, partition_path,
            with_meta,
        )
    if incremental is not None:
        begin, end = incremental
        slices = [s for s in t.file_slices(end) if s[2] > begin]
    else:
        slices = t.file_slices(as_of)
    if partition_path is not None:
        slices = [s for s in slices if s[0] == partition_path]
    if stats_filter is not None:
        slices = prune_slices_by_stats(
            spark, table_path, slices, stats_filter
        )
    paths = [os.path.join(table_path, rel) for _, _, _, rel in slices]
    if not paths:
        if (
            incremental is not None
            or partition_path is not None
            or stats_filter is not None
        ):
            return _empty_like(spark, t, table_path, with_meta)
        raise ValueError(f"{table_path}: no file slices selected")
    df = read_slices(spark, paths)
    if incremental is not None and not t.virtual_keys:
        df = df.where(
            (F.col("_hoodie_commit_time") > begin)
            & (F.col("_hoodie_commit_time") <= end)
        )
    if not with_meta and not t.virtual_keys:
        df = df.drop(*META_COLS)
    return df


def _empty_like(spark, t, table_path, with_meta):
    """Zero-row DataFrame with the live table schema (the empty
    incremental-changeset / empty-partition-prune result). Schema
    comes from ONE live base file — metadata-scale IO."""
    if t.table_type == "MERGE_ON_READ":
        tip = [
            (p, fid, ti, rel)
            for p, fid, ti, rel, _lrs in t.file_slices_with_logs(None)
        ]
    else:
        tip = t.file_slices(None)
    if not tip:
        raise ValueError(f"{table_path}: no file slices selected")
    df = read_slices(
        spark, [os.path.join(table_path, tip[0][3])]
    ).where(F.lit(False))
    if not with_meta and not t.virtual_keys:
        df = df.drop(*META_COLS)
    return df


def _read_mor(
    spark, t, table_path, as_of, incremental, partition_path, with_meta,
    slice_filter=None,
):
    """MERGE_ON_READ snapshot: base-file multi-path scan UNIONed with
    the log records, then ONE record-key window keeps the latest
    version (log instants are strictly later than the base rows they
    override; ties break to the log side). A DELETE_BLOCK entry is a
    log row with ``__del=1`` and no data columns: when it wins the
    window, the key drops out of the snapshot — deletes are events in
    the log, exactly the spec's MOR delete path.

    Scale shape: log files parse on EXECUTORS — one task per log file
    via mapInPandas over the descriptor list (the driver never touches
    record bytes; each block is independently decodable, which is why
    the format has per-block headers). The merge shuffles once on
    record key; production Hudi instead merges per file group with
    sorted base files — at this engine's grain the keyed window is the
    same volume with simpler semantics, and compaction (HudiWriter.
    compact) is the knob that keeps the log side small."""
    import pyspark.sql.types as T

    end = None
    if incremental is not None:
        begin, end = incremental
    slices = t.file_slices_with_logs(end if incremental else as_of)
    if partition_path is not None:
        slices = [s for s in slices if s[0] == partition_path]
    if slice_filter is not None:
        # caller-scoped read (compaction): only the named (partition,
        # fileId) groups are scanned — keys live in exactly one file
        # group, so the latest-wins merge over this subset is
        # identical to merging the whole table and filtering after
        slices = [s for s in slices if (s[0], s[1]) in slice_filter]
    if not slices:
        if incremental is not None or partition_path is not None:
            return _empty_like(spark, t, table_path, with_meta)
        raise ValueError(f"{table_path}: no file slices selected")
    base_paths = [os.path.join(table_path, rel) for _, _, _, rel, _ in slices]
    base = read_slices(spark, base_paths)
    log_paths = [
        os.path.join(table_path, lr)
        for _, _, _, _, lrs in slices
        for lr in lrs
    ]
    if t.virtual_keys:
        return _read_mor_virtual(
            spark, t, table_path, slices, base, log_paths,
            as_of, incremental, with_meta,
        )
    merged = base
    if log_paths:
        schema = base.schema
        cols = [f.name for f in schema.fields]
        log_schema = T.StructType(
            list(schema.fields) + [T.StructField("__del", T.IntegerType())]
        )
        cutoff = end if incremental else as_of

        def parse(batches):
            import pandas as pd

            from plankton_spark.sources.hudi_log import (
                AVRO_DATA_BLOCK,
                read_log_blocks,
            )

            for pdf in batches:
                rows: list[dict] = []
                for p in pdf["path"]:
                    for instant, btype, payload in read_log_blocks(p):
                        # block-level time travel (a foreign writer may
                        # append multiple instants' blocks to one file)
                        if cutoff is not None and instant > cutoff:
                            continue
                        if btype == AVRO_DATA_BLOCK:
                            for rec in payload:
                                rows.append({**rec, "__del": 0})
                        else:  # DELETE_BLOCK: key-only tombstone event
                            for key, part in payload:
                                rows.append(
                                    {
                                        "_hoodie_commit_time": instant,
                                        "_hoodie_record_key": key,
                                        "_hoodie_partition_path": part,
                                        "__del": 1,
                                    }
                                )
                if rows:
                    yield pd.DataFrame(rows, columns=cols + ["__del"])

        logs_df = (
            local_frame(spark, [(p,) for p in sorted(log_paths)], "path string")
            .repartition(min(len(log_paths), 32))
            .mapInPandas(parse, log_schema)
        )
        w = Window.partitionBy("_hoodie_record_key").orderBy(
            F.col("_hoodie_commit_time").desc(), F.col("__src").desc()
        )
        merged = (
            base.withColumn("__src", F.lit(0)).withColumn(
                "__del", F.lit(0)
            )
            .unionByName(logs_df.withColumn("__src", F.lit(1)))
            .withColumn("__rn", F.row_number().over(w))
            .where((F.col("__rn") == 1) & (F.col("__del") == 0))
            .drop("__rn", "__src", "__del")
        )
    if incremental is not None:
        merged = merged.where(
            (F.col("_hoodie_commit_time") > begin)
            & (F.col("_hoodie_commit_time") <= end)
        )
    if not with_meta:
        merged = merged.drop(*META_COLS)
    return merged


def _read_mor_virtual(
    spark, t, table_path, slices, base, log_paths, as_of, incremental,
    with_meta,
):
    """MERGE_ON_READ snapshot for a VIRTUAL-KEY table (populate.meta.
    fields=false): record identity is the declared key column, and
    the version authority the meta commit-time column would carry
    comes from (a) the SLICE's base instant for base rows — one
    broadcast (basename → instant) map joined on _metadata.file_path,
    metadata-scale — and (b) the LOG BLOCK HEADER's instant for log
    rows (each block records the deltacommit that appended it, so
    per-row commit times were always redundant at this grain: one
    instant per block). Log data records carry data columns only;
    DELETE_BLOCK events carry (key, partition). The same single keyed
    window as the meta path picks the latest version, ties to the log
    side. with_meta refuses — there are no meta columns to surface.
    incremental attributes at MIXED grain: LOG rows carry an EXACT
    per-version commit time (the block header's instant — one commit
    per block, so block grain IS commit grain) and BASE rows carry
    their slice's base instant (the COW-virtual precision limit:
    a rewritten/compacted slice re-emits its copied-forward rows).
    The range filter runs AFTER the latest-wins merge — a record
    whose newest version landed in-range emits once in its merged
    state, a record log-deleted in-range just disappears (the same
    semantics as the meta-column path). With zero live logs this
    degrades to the pure FILE-SLICE-GRAIN path (whole slices with
    base instant in (begin, end])."""
    import pyspark.sql.types as T

    if with_meta:
        raise NotImplementedError(
            f"{table_path}: virtual-key table carries no per-record "
            "meta columns to surface"
        )
    if incremental is not None and not log_paths:
        begin, _end = incremental
        paths = [
            os.path.join(table_path, rel)
            for _p, _fid, bi, rel, _l in slices
            if bi > begin
        ]
        if not paths:
            return base.where(F.lit(False))
        return read_slices(spark, paths)
    key_expr = F.col(t.record_key_field).cast("string")
    merged = base
    if log_paths:
        inst_map = local_frame(
            spark,
            [(os.path.basename(rel), bi) for _p, _fid, bi, rel, _l in slices],
            "__base string, __ct string",
        )
        data_cols = [f.name for f in base.schema.fields]
        log_schema = T.StructType(
            list(base.schema.fields)
            + [
                T.StructField("__logkey", T.StringType()),
                T.StructField("__ct", T.StringType()),
                T.StructField("__del", T.IntegerType()),
            ]
        )
        # in incremental mode the slice list is already bounded by
        # ``end``, but a foreign writer may have appended LATER
        # instants' blocks to a selected log file — cut at ``end``
        cutoff = incremental[1] if incremental is not None else as_of

        def parse(batches):
            import pandas as pd

            from plankton_spark.sources.hudi_log import (
                AVRO_DATA_BLOCK,
                read_log_blocks,
            )

            for pdf in batches:
                rows: list[dict] = []
                for p in pdf["path"]:
                    for instant, btype, payload in read_log_blocks(p):
                        if cutoff is not None and instant > cutoff:
                            continue
                        if btype == AVRO_DATA_BLOCK:
                            for rec in payload:
                                rows.append(
                                    {
                                        **rec,
                                        "__logkey": None,
                                        "__ct": instant,
                                        "__del": 0,
                                    }
                                )
                        else:  # DELETE_BLOCK: key-only tombstone event
                            for key, _part in payload:
                                rows.append(
                                    {
                                        "__logkey": key,
                                        "__ct": instant,
                                        "__del": 1,
                                    }
                                )
                if rows:
                    yield pd.DataFrame(
                        rows, columns=data_cols + ["__logkey", "__ct", "__del"]
                    )

        logs_df = (
            local_frame(
                spark, [(p,) for p in sorted(log_paths)], "path string"
            )
            .repartition(min(len(log_paths), 32))
            .mapInPandas(parse, log_schema)
            .withColumn("__key", F.coalesce(F.col("__logkey"), key_expr))
            .drop("__logkey")
            .withColumn("__src", F.lit(1))
        )
        base_k = (
            base.withColumn(
                "__base",
                F.substring_index(F.col("_metadata.file_path"), "/", -1),
            )
            .join(F.broadcast(inst_map), "__base")
            .drop("__base")
            .withColumn("__key", key_expr)
            .withColumn("__del", F.lit(0))
            .withColumn("__src", F.lit(0))
        )
        w = Window.partitionBy("__key").orderBy(
            F.col("__ct").desc(), F.col("__src").desc()
        )
        merged = base_k.unionByName(logs_df).withColumn(
            "__rn", F.row_number().over(w)
        ).where((F.col("__rn") == 1) & (F.col("__del") == 0))
        if incremental is not None:
            # mixed-grain attribution AFTER the merge: the surviving
            # version's __ct (exact block instant for log rows, slice
            # instant for base rows) decides range membership
            begin, end = incremental
            merged = merged.where(
                (F.col("__ct") > begin) & (F.col("__ct") <= end)
            )
        merged = merged.drop("__rn", "__src", "__del", "__ct", "__key")
    return merged


def _make_group_log_writer(
    table_path, names, instant, avro_schema, data_cols, virtual
):
    """applyInPandas closure appending ONE avro data block per file
    group's log — shared by the MOR upsert and the metadata-table
    fast path. ``names`` maps fileId → (partition, log file name)."""

    def write_group_log(pdf):
        import pandas as pd

        from plankton_spark.sources.hudi_log import append_data_block

        fid = pdf["__fid"].iloc[0]
        part, name = names[fid]
        rel = os.path.join(part, name) if part else name
        dst = os.path.join(table_path, rel)
        os.makedirs(os.path.dirname(dst) or table_path, exist_ok=True)
        pdf = pdf.sort_values("__key")
        # column-at-a-time extraction (guide §4.2): one
        # tolist()/isna() pass per column instead of a Python loop
        # over iterrows — Series.tolist() performs the same
        # numpy-scalar → native conversion .item() did, and the isna
        # mask the same NaN/NaT → None mapping
        n_rows = len(pdf)
        col_vals = {}
        for c in data_cols:
            vals = pdf[c].tolist()
            mask = pdf[c].isna().tolist()
            col_vals[c] = [None if m else v for v, m in zip(vals, mask)]
        if virtual:
            records = [
                {c: col_vals[c][i] for c in data_cols}
                for i in range(n_rows)
            ]
        else:
            keys = pdf["__key"].tolist()
            records = [
                {
                    "_hoodie_commit_time": instant,
                    "_hoodie_commit_seqno": f"{instant}_{i + 1}",
                    "_hoodie_record_key": keys[i],
                    "_hoodie_partition_path": part,
                    "_hoodie_file_name": name,
                    **{c: col_vals[c][i] for c in data_cols},
                }
                for i in range(n_rows)
            ]
        append_data_block(dst, instant, avro_schema, records)
        return pd.DataFrame(
            [
                {
                    "part": part,
                    "fid": fid,
                    "rel": rel,
                    "n": len(records),
                    "sz": os.path.getsize(dst),
                }
            ]
        )

    return write_group_log


class HudiWriter:
    """Hudi writer: create / insert / upsert / delete_keys /
    compact, each one completed timeline instant. COPY_ON_WRITE
    upserts rewrite touched file groups; MERGE_ON_READ upserts append
    updates as LOG FILES (sources/hudi_log.py) under a deltacommit and
    defer the merge to read time — compact() folds logs back into
    base files under a commit. Every write is a single distributed
    Spark job — tagging is one key-proportional join (global simple
    index), rewrites repartition by file group so each group lands as
    exactly one base file, and MOR log files are written by the
    executor owning each group (applyInPandas), never the driver."""

    WRITE_TOKEN = "0-1-0"

    def __init__(
        self,
        spark,
        table_path: str,
        record_key: str | None = None,
        partition_field: str | None = None,
        group_buckets: int = 1,
        table_type: str = "COPY_ON_WRITE",
        metadata_table: bool = False,
        precombine: str | None = None,
        record_index: bool = False,
        populate_meta_fields: bool = True,
    ):
        # group_buckets bounds FILE-GROUP size, not correctness: each
        # insert fans new records into this many groups per partition
        # (key-hash routed), the COW answer to "one group per
        # partition" becoming a single-task rewrite wall at scale —
        # real Hudi's small-file/max-file-size packing, simplified to
        # a deterministic hash split.
        self.group_buckets = max(1, int(group_buckets))
        self.spark = spark
        self.table_path = table_path
        self.meta_dir = os.path.join(table_path, ".hoodie")
        # the METADATA TABLE is itself a Hudi table living under
        # <table>/.hoodie/metadata — it must never maintain a
        # metadata table of its own (real Hudi's recursion guard)
        norm = os.path.normpath(table_path)
        self._is_meta = os.path.basename(norm) == "metadata" and (
            os.path.basename(os.path.dirname(norm)) == ".hoodie"
        )
        self._metadata_enabled = (
            bool(metadata_table) or bool(record_index)
        ) and not self._is_meta
        # RECORD-LEVEL INDEX (the metadata table's fourth partition,
        # record_index): one (record key → partition, fileId) mapping
        # per LIVE KEY, maintained distributed on every write — point
        # lookups tag an upsert/delete batch with ZERO base-file
        # reads and ZERO false positives (vs the bloom index's
        # FP-widened candidate reads). Declared at CREATE (a later
        # enable would need a backfill pass to be complete; props win
        # on reopen).
        self._rli_enabled = bool(record_index) and not self._is_meta
        if table_type not in ("COPY_ON_WRITE", "MERGE_ON_READ"):
            raise ValueError(f"unknown table_type {table_type!r}")
        props_path = os.path.join(self.meta_dir, "hoodie.properties")
        if os.path.isfile(props_path):
            t = HudiTable(table_path)
            self._metadata_enabled = (
                not self._is_meta
                and t.props.get("hoodie.metadata.enable", "false").lower()
                == "true"
            )
            self._rli_enabled = (
                self._metadata_enabled
                and t.props.get(
                    "hoodie.metadata.record.index.enable", "false"
                ).lower()
                == "true"
            )
            self.table_type = t.table_type
            if self.table_type not in ("COPY_ON_WRITE", "MERGE_ON_READ"):
                raise NotImplementedError(
                    f"{table_path}: hoodie.table.type={self.table_type}"
                )
            # VIRTUAL-KEY tables (populate.meta.fields=false — the
            # converted-table mode) write since round 13: tagging and
            # survivor anti-joins key on the DECLARED record-key
            # column directly (real Hudi's virtual-key write path),
            # file attribution comes from _metadata.file_path joined
            # to a broadcast slice map — no meta-field backfill ever.
            # MERGE_ON_READ too: log data blocks carry data columns
            # only, the block header's instant supplies the version
            # ordering the meta commit-time column would have
            # (see _read_mor's virtual branch).
            self.virtual = t.virtual_keys
            self.record_key = t.record_key_field
            self.partition_field = t.partition_field
            self.precombine = t.precombine_field
        else:
            if record_key is None:
                raise ValueError("record_key is required to create a table")
            # engine-created tables populate meta fields unless the
            # caller declares virtual keys (populate_meta_fields=False
            # — real Hudi's hoodie.populate.meta.fields write config)
            self.virtual = not populate_meta_fields
            self.table_type = table_type
            self.record_key = record_key
            self.partition_field = partition_field
            self.precombine = precombine
        # set on the metadata-table's nested writer only: its batches
        # key on per-file / per-column paths, unique by construction,
        # so the duplicate-key probe job is provably redundant there
        self._trusted_unique_batch = False

    @property
    def _is_mor(self) -> bool:
        return self.table_type == "MERGE_ON_READ"

    @property
    def _default_action(self) -> str:
        # MOR ingest writes are deltacommits per the spec; compaction
        # (and every COW write) is a commit
        return "deltacommit" if self._is_mor else "commit"

    # ---- timeline ----

    def _next_instant(self) -> str:
        existing = [
            m.group(1)
            for name in (os.listdir(self.meta_dir) if os.path.isdir(self.meta_dir) else [])
            if (m := _COMPLETED_RE.match(name) or _PENDING_RE.match(name))
        ]
        if not existing:
            return f"{_INSTANT0:017d}"
        return f"{int(max(existing)) + 1000:017d}"

    def _transition(self, instant: str, phase: str, action: str | None = None) -> None:
        a = action or self._default_action
        open(os.path.join(self.meta_dir, f"{instant}.{a}.{phase}"), "w").close()

    def _complete(
        self,
        instant: str,
        meta: dict,
        action: str | None = None,
        rli_deletes=None,
    ) -> None:
        a = action or self._default_action
        with open(os.path.join(self.meta_dir, f"{instant}.{a}"), "w", encoding="utf-8") as fh:
            json.dump(meta, fh, indent=2, sort_keys=True)
        # metadata-table maintenance rides every completed instant
        # (the single choke point all write ops flow through): the
        # instant's written files upsert into the files partition
        self._metadata_update(
            [
                (
                    part,
                    os.path.basename(st["path"]),
                    int(st.get("fileSizeInBytes") or 0),
                )
                for part, lst in meta.get(
                    "partitionToWriteStats", {}
                ).items()
                for st in lst
            ],
            [],
            rli_deletes=rli_deletes,
        )

    def _metadata_update(self, adds, deletes, rli_deletes=None) -> None:
        """Upsert file-listing records into the internal METADATA
        TABLE's ``files`` partition (hoodie.metadata.enable) —
        ``adds`` are (partition, file name, size) of files an instant
        wrote, ``deletes`` (partition, file name) of files retention
        removed. The metadata table is ITSELF a Hudi MERGE_ON_READ
        table at ``.hoodie/metadata`` (its own timeline, bases + log
        blocks — the spec's design), partitioned by the metadata
        partition name with one record per tracked file
        (record key ``<partition>#<name>``, latest-wins merge,
        ``deleted`` markers instead of physical removals — real
        Hudi's isDeleted payload semantics at per-file grain; real
        Hudi's HFile base format and map-merging payload are
        documented divergences, same honesty note as the log codec).
        Listings then come from ONE bounded metadata-table read
        instead of an O(files) directory walk — the 100 TB point of
        the feature."""
        if not self._metadata_enabled or self._is_meta:
            return
        rows = [
            (
                "files", f"files#{p}#{n}", p, n, int(s), False,
                None, None, None, None, None,
            )
            for p, n, s in adds
        ] + [
            (
                "files", f"files#{p}#{n}", p, n, 0, True,
                None, None, None, None, None,
            )
            for p, n in deletes
        ]
        # A removed file's column_stats and bloom_filters records
        # tombstone WITH it — otherwise those partitions grow without
        # bound and every upsert's bloom probe collects ever more
        # stale blooms (the bounded-broadcast claim). The bloom key is
        # deterministic (one per file); column_stats keys are
        # per-column, so one bounded metadata read recovers the live
        # keys to mark. Harmless if the partitions never held the
        # file (latest-wins merge just sees a deleted-only record).
        if deletes:
            mpath0 = os.path.join(self.meta_dir, "metadata")
            del_set = {(p, n) for p, n in deletes}
            rows += [
                (
                    "bloom_filters", f"bloom_filters#{p}#{n}", p, n,
                    0, True, None, None, None, None, None,
                )
                for p, n in deletes
            ]
            if os.path.isfile(
                os.path.join(mpath0, ".hoodie", "hoodie.properties")
            ):
                live_cs = (
                    read_hudi(
                        self.spark, mpath0, partition_path="column_stats"
                    )
                    .where(~F.col("deleted"))
                    .select("part", "fname", "col")
                    .collect()
                )
                rows += [
                    (
                        "column_stats",
                        f"column_stats#{r['part']}#{r['fname']}#{r['col']}",
                        r["part"], r["fname"], 0, True,
                        r["col"], None, None, None, None,
                    )
                    for r in live_cs
                    if (r["part"], r["fname"]) in del_set
                ]
        # COLUMN_STATS partition: per-(file, column) min/max/nullCount
        # from the parquet footer (metadata-scale IO at write time,
        # the same budget the converters already spend) — the input to
        # stats-based file skipping (read_hudi stats_filter). Values
        # JSON-encode so one table schema serves both partitions;
        # log files carry none (their stats materialize at
        # compaction, when the rows reach a base file).
        from plankton_spark.filestats import file_stats as _fstats

        for p, n, _s in adds:
            if ".log." in n:
                continue
            full = os.path.join(
                self.table_path, os.path.join(p, n) if p else n
            )
            if not os.path.isfile(full):
                continue
            st = _fstats(full)
            for col in sorted(st.get("minValues", {})):
                if col.startswith("_hoodie_"):
                    continue
                try:
                    vmin = json.dumps(st["minValues"][col])
                    vmax = json.dumps(st["maxValues"][col])
                except TypeError:
                    continue  # non-JSON stat type: no stats row —
                    # the skipping contract treats unknown as
                    # unprunable, so correctness is unaffected
                rows.append(
                    (
                        "column_stats",
                        f"column_stats#{p}#{n}#{col}",
                        p,
                        n,
                        0,
                        False,
                        col,
                        vmin,
                        vmax,
                        int(st.get("nullCount", {}).get(col, 0) or 0),
                        None,
                    )
                )
        # BLOOM_FILTERS partition: one record-key bloom per base file
        # (built from the exact key column — no false negatives, the
        # property the upsert pruning relies on); sized per file at
        # BITS_PER_KEY. One single-column read per new file —
        # write-time metadata IO, the budget real Hudi spends in its
        # bloom index too.
        import pyarrow.parquet as _pq

        from plankton_spark.sources.hudi_bloom import bloom_build

        for p, n, _s in adds:
            if ".log." in n:
                continue
            full = os.path.join(
                self.table_path, os.path.join(p, n) if p else n
            )
            if not os.path.isfile(full):
                continue
            # virtual-key files carry no meta columns — the bloom is
            # built from the DECLARED key column instead; str() of an
            # int key matches Spark's string cast, so probe keys and
            # bloom keys agree (non-integer declared keys are already
            # strings at this engine's write grain)
            key_col = (
                self.record_key if self.virtual else "_hoodie_record_key"
            )
            try:
                keys = [
                    v if isinstance(v, str) else str(v)
                    for v in _pq.read_table(full, columns=[key_col])
                    .column(0)
                    .to_pylist()
                ]
            except Exception:
                continue  # key column absent: no bloom row — the
                # probe treats bloom-less files as always-candidate
            rows.append(
                (
                    "bloom_filters",
                    f"bloom_filters#{p}#{n}",
                    p,
                    n,
                    0,
                    False,
                    None,
                    None,
                    None,
                    None,
                    bloom_build(keys),
                )
            )
        # RECORD_INDEX partition (fourth and last): one mapping row
        # per record key of every ADDED base file — built as a
        # DISTRIBUTED frame (the key column scan runs on executors;
        # real Hudi's RLI is likewise a key-proportional Hudi-table
        # write, never a driver collect). fileId parses from the
        # written _hoodie_file_name; updates re-map idempotently
        # (latest-wins), clustering re-maps to the new groups, and
        # delete ops pass their matched keys as ``rli_deletes``
        # tombstones. VIRTUAL-KEY tables participate too (round 13):
        # the key scans from the declared record-key column and the
        # (part, fid) attribution comes from the commit's own add
        # list — no meta columns needed anywhere in the chain.
        mschema = (
            "mpart string, mkey string, part string, fname string, "
            "fsize long, deleted boolean, col string, vmin string, "
            "vmax string, nulls long, bloom string"
        )
        rli_df = None
        if self._rli_enabled:
            base_adds = [
                os.path.join(
                    self.table_path, os.path.join(p, n) if p else n
                )
                for p, n, _s in adds
                if ".log." not in n
            ]
            base_adds = [p for p in base_adds if os.path.isfile(p)]
            if base_adds:
                if self.virtual:
                    # virtual-key files carry no meta columns: key =
                    # the declared record-key column, (part, fid)
                    # from a broadcast basename map built off the
                    # commit's own add list (metadata-scale) — the
                    # same attribution the virtual write paths use
                    amap = local_frame(
                        self.spark,
                        [
                            (n, p, n.split("_")[0])
                            for p, n, _s in adds
                            if ".log." not in n
                        ],
                        "__base string, part string, fname string",
                    )
                    keyed = (
                        read_slices(self.spark, base_adds)
                        .select(
                            self._key_expr().alias("__k"),
                            F.substring_index(
                                F.col("_metadata.file_path"), "/", -1
                            ).alias("__base"),
                        )
                        .join(F.broadcast(amap), "__base")
                    )
                else:
                    keyed = read_slices(self.spark, base_adds).select(
                        F.col("_hoodie_record_key").alias("__k"),
                        F.col("_hoodie_partition_path").alias("part"),
                        F.element_at(
                            F.split("_hoodie_file_name", "_"), 1
                        ).alias("fname"),
                    )
                rli_df = keyed.select(
                    F.lit("record_index").alias("mpart"),
                    F.concat(
                        F.lit("record_index#"), F.col("__k")
                    ).alias("mkey"),
                    F.col("part"),
                    F.col("fname"),
                    F.lit(0).cast("long").alias("fsize"),
                    F.lit(False).alias("deleted"),
                    F.col("__k").alias("col"),
                    F.lit(None).cast("string").alias("vmin"),
                    F.lit(None).cast("string").alias("vmax"),
                    F.lit(None).cast("long").alias("nulls"),
                    F.lit(None).cast("string").alias("bloom"),
                )
            if rli_deletes is not None:
                tomb = rli_deletes.select(
                    F.lit("record_index").alias("mpart"),
                    F.concat(
                        F.lit("record_index#"), F.col("__key")
                    ).alias("mkey"),
                    F.lit("").alias("part"),
                    F.lit("").alias("fname"),
                    F.lit(0).cast("long").alias("fsize"),
                    F.lit(True).alias("deleted"),
                    F.col("__key").alias("col"),
                    F.lit(None).cast("string").alias("vmin"),
                    F.lit(None).cast("string").alias("vmax"),
                    F.lit(None).cast("long").alias("nulls"),
                    F.lit(None).cast("string").alias("bloom"),
                )
                rli_df = tomb if rli_df is None else rli_df.unionByName(tomb)
        if not rows and rli_df is None:
            return
        mpath = os.path.join(self.meta_dir, "metadata")
        df = local_frame(self.spark, rows, mschema)
        if rli_df is not None:
            df = df.unionByName(rli_df)
        mw = HudiWriter(
            self.spark,
            mpath,
            record_key="mkey",
            partition_field="mpart",
            table_type="MERGE_ON_READ",
        )
        # engine-built metadata batches key on per-file / per-column
        # paths — unique by construction (the dup-key probe never
        # fired across the full gate), so skip that per-commit job
        mw._trusted_unique_batch = True
        if os.path.isfile(
            os.path.join(mpath, ".hoodie", "hoodie.properties")
        ):
            # fast-path upsert: the batch's partition set is known
            # right here (the rows above are driver-built; rli_df is
            # all record_index), so the writer can log-append to the
            # static per-partition groups without any index read,
            # tagging join, or probe job — see _merge_mor_meta
            batch_parts = {r[0] for r in rows}
            if rli_df is not None:
                batch_parts.add("record_index")
            mw._merge_mor_meta(df, batch_parts)
            # bounded log chains: fold the listing logs back into
            # bases once they pile up (real Hudi compacts its
            # metadata table on a deltacommit budget)
            mt = HudiTable(mpath)
            if (
                sum(len(lrs) for *_x, lrs in mt.file_slices_with_logs())
                > 16
            ):
                mw.compact()
        else:
            mw.create(df)

    # ---- write ops ----

    def create(self, df) -> str:
        if os.path.isdir(self.meta_dir):
            raise FileExistsError(f"{self.table_path}: already a Hudi table")
        os.makedirs(self.meta_dir)
        props = {
            "hoodie.table.name": os.path.basename(os.path.normpath(self.table_path)),
            "hoodie.table.type": self.table_type,
            "hoodie.table.version": "6",
            "hoodie.timeline.layout.version": "1",
            "hoodie.table.recordkey.fields": self.record_key,
            "hoodie.table.partition.fields": self.partition_field or "",
            "hoodie.table.keygenerator.class": "org.apache.hudi.keygen.SimpleKeyGenerator",
            "hoodie.datasource.write.hive_style_partitioning": "false",
        }
        if self._metadata_enabled:
            props["hoodie.metadata.enable"] = "true"
        if self._rli_enabled:
            props["hoodie.metadata.record.index.enable"] = "true"
        if self.virtual:
            props["hoodie.populate.meta.fields"] = "false"
        if self.precombine:
            if self.precombine not in df.columns:
                raise ValueError(
                    f"{self.table_path}: precombine field "
                    f"{self.precombine!r} not in the incoming schema"
                )
            # the spec's table-level property, plus the write-config
            # alias foreign tooling reads
            props["hoodie.table.precombine.field"] = self.precombine
            props["hoodie.datasource.write.precombine.field"] = (
                self.precombine
            )
        _write_props(os.path.join(self.meta_dir, "hoodie.properties"), props)
        return self.insert(df, op="bulk_insert")

    def _partition_expr(self):
        if self.partition_field is None:
            return F.lit(_UNPARTITIONED)
        return F.col(self.partition_field).cast("string")

    def _key_expr(self):
        return F.col(self.record_key).cast("string")

    def _new_fid(self, instant: str):
        """Fresh file-group id for a new record: per-partition, fanned
        across group_buckets by key hash (deterministic routing)."""
        bucket = F.pmod(
            F.xxhash64(self._key_expr()), F.lit(self.group_buckets)
        ).cast("string")
        return F.concat(
            F.lit(f"fg-{instant}-"),
            F.abs(F.xxhash64("__part")).cast("string"),
            F.lit("-"),
            bucket,
        )

    def insert(self, df, op: str = "insert") -> str:
        """All rows are NEW records in fresh file groups (one per
        partition). No index probe — the bulk-ingest path."""
        instant = self._next_instant()
        self._transition(instant, "requested")
        self._transition(instant, "inflight")
        staged = df.withColumn("__part", self._partition_expr()).withColumn(
            "__fid", self._new_fid(instant)
        )
        staged = self._attach_meta(staged, instant)
        stats = self._write_groups(staged, instant, prev={})
        self._complete(instant, {"operationType": op.upper(), "partitionToWriteStats": stats})
        return instant

    def upsert(self, df) -> str:
        """Tag incoming records against the current snapshot's
        key→file-group index (one join). COW: rewrite touched groups
        merging old survivors with the updates. MOR: append the
        updates as one LOG FILE per touched group (no base rewrite —
        the ingest-latency trade the format exists for). Unknown keys
        route to fresh base-file groups either way. Untouched groups
        are not read or written."""
        if self._is_mor:
            return self._merge_mor(df)
        return self._merge(df, delete=False)

    def delete_keys(self, keys_df) -> str:
        """COW delete: rewrite the file groups containing the given
        record keys WITHOUT those records (a group may legally go to
        a zero-row base file — the group stays addressable). MOR
        delete: append one DELETE_BLOCK per touched file group's log
        (removal as a log event, no base rewrite — hudi_log.py) under
        a deltacommit; the read-side latest-wins merge hides the key
        and compact() folds it permanently. Keys not present in the
        table are a no-op either way."""
        if self._is_mor:
            return self._delete_mor(keys_df)
        return self._merge(keys_df, delete=True)

    def _check_unique_keys(self, keyed) -> None:
        """Refuse an upsert batch carrying DUPLICATE record keys when
        NO precombine field is declared: real Hudi collapses them
        with the precombine field BEFORE the write; without one,
        writing them would duplicate rows (COW) or make the log merge
        nondeterministic (MOR) — refuse loudly instead. One bounded
        aggregate job per batch (skipped for the metadata table's
        nested writer, whose engine-built batches are unique by
        construction — optimization guide §1.2, don't run a job whose
        answer is already known)."""
        if self._trusted_unique_batch:
            return
        dup = (
            keyed.groupBy("__key")
            .count()
            .where(F.col("count") > 1)
            .take(1)
        )
        if dup:
            raise ValueError(
                f"{self.table_path}: incoming batch carries duplicate "
                f"record keys (e.g. {dup[0]['__key']!r}) and the table "
                "declares no precombine field — dedupe the batch, or "
                "create the table with precombine= "
                "(hoodie.table.precombine.field) so Hudi's preCombine "
                "step collapses them latest-wins"
            )

    def _probe_tagged_unique(self, tagged) -> None:
        """Deferred batch-uniqueness/tie probe, run on the PERSISTED
        tagged frame (optimization round 13): one aggregate over
        (__key, __fid) detects exactly batch-side duplicates — a
        batch row matching one file group contributes one row per
        (key, fid), so count > 1 within a (key, fid) cell (or within
        the NULL-fid cell for new keys) means two BATCH rows carried
        the key, never join multiplication. Folding the probe into
        the tagged materialization both warms the persist and drops
        the separate pre-join scan of the incoming batch that
        _check_unique_keys / the precombine tie check used to pay.
        Raises the same errors as those checks; must run BEFORE any
        timeline transition or file write."""
        if self._trusted_unique_batch:
            return
        dup = (
            tagged.groupBy("__key", "__fid")
            .count()
            .where(F.col("count") > 1)
            .take(1)
        )
        if not dup:
            return
        if self.precombine:
            raise ValueError(
                f"{self.table_path}: duplicate-key rows tie on the "
                f"precombine field {self.precombine!r} (e.g. key "
                f"{dup[0]['__key']!r}) — no deterministic winner; "
                "break the tie in the batch"
            )
        raise ValueError(
            f"{self.table_path}: incoming batch carries duplicate "
            f"record keys (e.g. {dup[0]['__key']!r}) and the table "
            "declares no precombine field — dedupe the batch, or "
            "create the table with precombine= "
            "(hoodie.table.precombine.field) so Hudi's preCombine "
            "step collapses them latest-wins"
        )

    def _collapse_precombine(self, keyed, delete: bool = False,
                             defer_check: bool = False):
        """Hudi's preCombine step: collapse duplicate-key rows in an
        upsert batch LATEST-WINS on the declared precombine field
        (hoodie.table.precombine.field) BEFORE tagging — one keyed
        window at write grain, the same shuffle the tagging join pays
        anyway. Precombine TIES refuse: real Hudi's
        OverwriteWithLatestAvroPayload picks an arbitrary winner
        there, and this engine never writes nondeterministic results.
        DELETE batches collapse to distinct keys unconditionally
        (deleting a key twice in one batch is one delete). Without a
        precombine field, a duplicate-key upsert batch still refuses
        loudly (_check_unique_keys). ``defer_check=True`` skips the
        probe jobs here — the caller MUST run _probe_tagged_unique on
        the tagged frame before any side effect, which answers the
        same question inside the job that materializes the tag join
        instead of paying a separate scan of the batch."""
        if delete:
            return keyed.dropDuplicates(["__key"])
        if not self.precombine:
            if not defer_check:
                self._check_unique_keys(keyed)
            return keyed
        pc = self.precombine
        if pc not in keyed.columns:
            raise ValueError(
                f"{self.table_path}: precombine field {pc!r} missing "
                "from the incoming batch"
            )
        w = Window.partitionBy("__key").orderBy(
            F.col(pc).desc_nulls_last()
        )
        collapsed = (
            keyed.withColumn("__pc_rank", F.rank().over(w))
            .where(F.col("__pc_rank") == 1)
            .drop("__pc_rank")
        )
        # rank() hands every tied top row rank 1, so any key still
        # duplicated after the cut IS a precombine tie
        if not defer_check:
            tie = (
                collapsed.groupBy("__key")
                .count()
                .where(F.col("count") > 1)
                .take(1)
            )
            if tie:
                raise ValueError(
                    f"{self.table_path}: duplicate-key rows tie on the "
                    f"precombine field {pc!r} (e.g. key "
                    f"{tie[0]['__key']!r}) — no deterministic winner; "
                    "break the tie in the batch"
                )
        return collapsed

    def _rli_lookup(self):
        """RECORD-LEVEL-INDEX point lookup: the (__key, __part,
        __fid) mapping frame from the metadata table's record_index
        partition — or None when RLI is not enabled/materialized.
        Tagging joins against THIS frame instead of reading any base
        file: zero data IO, zero false positives (the bloom index
        still reads FP-candidate files to confirm). The mapping is
        key-proportional — but it is a bounded MOR metadata-table
        READ feeding a distributed join, never a driver collect
        (real Hudi's RLI shape). A key deleted and later re-upserted
        routes to its original file group via the global-index rule
        this engine already documents (updates stay in their group);
        mappings left stale by insert_overwrite resolve the same way
        — content stays exact, the group gets a fresh slice."""
        if not self._rli_enabled:
            return None
        mpath = os.path.join(self.meta_dir, "metadata")
        if not os.path.isfile(
            os.path.join(mpath, ".hoodie", "hoodie.properties")
        ):
            return None
        idx = read_hudi(self.spark, mpath, partition_path="record_index")
        return idx.where(~F.col("deleted")).select(
            F.col("col").alias("__key"),
            F.col("part").alias("__part"),
            F.col("fname").alias("__fid"),
        )

    def _bloom_candidate_set(self, incoming, file_entries):
        """BLOOM-INDEX pruning for the upsert/delete tagging join:
        probe the incoming keys against the metadata table's per-file
        record-key blooms and return the (part, fid) set that MIGHT
        hold any of them — or None when blooms are unavailable (the
        unpruned full-index path). ``file_entries`` is
        [(part, fid, rel)]. A file without a bloom row stays a
        candidate unconditionally (no false negatives, ever); false
        positives only widen the set. Probing runs on EXECUTORS
        (mapInPandas over the incoming keys, blooms in the closure —
        one SHA-256 per key, cheap bit tests per file); the collect
        is the candidate (part, fid) list, bounded by live-file
        count."""
        if not self._metadata_enabled:
            return None
        mpath = os.path.join(self.meta_dir, "metadata")
        if not os.path.isfile(
            os.path.join(mpath, ".hoodie", "hoodie.properties")
        ):
            return None
        from plankton_spark.sources.hudi_bloom import (
            bloom_decode,
            bloom_might_contain,
        )

        blooms = {
            (r["part"], r["fname"]): r["bloom"]
            for r in read_hudi(
                self.spark, mpath, partition_path="bloom_filters"
            )
            .where(~F.col("deleted"))  # retention-tombstoned blooms out
            .select("part", "fname", "bloom")
            .collect()
        }
        always, probed = set(), []
        for part, fid, rel in file_entries:
            b = blooms.get((part, os.path.basename(rel)))
            if b is None:
                always.add((part, fid))
            else:
                probed.append((part, fid, bloom_decode(b)))
        if not probed:
            return None  # nothing to prune with

        def probe(batches):
            import pandas as pd

            hits: set[tuple[str, str]] = set()
            for pdf in batches:
                for key in pdf["__key"]:
                    for part, fid, dec in probed:
                        if (part, fid) in hits:
                            continue
                        if bloom_might_contain(dec, key):
                            hits.add((part, fid))
                if len(hits) == len(probed):
                    break  # every file already a candidate
            yield pd.DataFrame(
                sorted(hits), columns=["part", "fid"]
            ) if hits else pd.DataFrame({"part": [], "fid": []})

        cand = {
            (r["part"], r["fid"])
            for r in incoming.select("__key")
            .mapInPandas(probe, "part string, fid string")
            .distinct()
            .collect()
        }
        return cand | always

    def _slice_fid_map(self, slices):
        """Broadcastable (file basename → partition, fileId) frame for
        VIRTUAL-KEY attribution: converted files carry no
        _hoodie_file_name, so file identity comes from
        _metadata.file_path joined to this metadata-scale map."""
        return local_frame(
            self.spark,
            [
                (os.path.basename(rel), p, fid)
                for p, fid, _ti, rel in slices
            ],
            "__base string, __part string, __fid string",
        )

    def _merge(self, df, delete: bool) -> str:
        instant = self._next_instant()
        t = HudiTable(self.table_path)
        slices = t.file_slices()
        prev = {(p, fid): ti for p, fid, ti, _ in slices}
        incoming = df.withColumn("__key", self._key_expr())
        incoming = self._collapse_precombine(
            incoming, delete=delete, defer_check=not delete
        )
        # global simple index: key → (partition, fileId) from the
        # snapshot's meta columns only (two-column projection — the
        # scan prunes everything else); with the metadata table's
        # BLOOM index, only files whose bloom MIGHT hold an incoming
        # key are read at all; with the RECORD-LEVEL INDEX, tagging
        # joins the metadata table's key→group mapping directly and
        # reads NO base file. VIRTUAL-KEY tables index on the
        # declared key column + the slice map instead (same
        # key-proportional join, no meta columns needed).
        rli = self._rli_lookup()
        cand = None if rli is not None else self._bloom_candidate_set(
            incoming, [(p, fid, rel) for p, fid, _ti, rel in slices]
        )
        if cand is None:
            cand_slices = slices if rli is None else []
        else:
            cand_slices = [
                s for s in slices if (s[0], s[1]) in cand
            ]
        cand_paths = [
            os.path.join(self.table_path, rel)
            for _p, _fid, _ti, rel in cand_slices
        ]
        if rli is not None:
            index = rli
        elif not cand_paths:
            index = local_frame(
                self.spark, [], "__key string, __part string, __fid string"
            )
        elif self.virtual:
            index = (
                read_slices(self.spark, cand_paths)
                .select(
                    self._key_expr().alias("__key"),
                    F.substring_index(
                        F.col("_metadata.file_path"), "/", -1
                    ).alias("__base"),
                )
                .join(F.broadcast(self._slice_fid_map(slices)), "__base")
                .select("__key", "__part", "__fid")
            )
        else:
            index = read_slices(self.spark, cand_paths).select(
                F.col("_hoodie_record_key").alias("__key"),
                F.col("_hoodie_partition_path").alias("__part"),
                F.element_at(F.split("_hoodie_file_name", "_"), 1).alias("__fid"),
            )
        tagged = incoming.join(index, "__key", "left")
        tagged.persist()
        try:
            # the deferred uniqueness/tie probe doubles as the cache
            # materialization job; the routing collect below then
            # reads the persisted frame only
            if not delete:
                self._probe_tagged_unique(tagged)
            # one row per TOUCHED FILE GROUP, plus one all-null row
            # iff the batch carries NEW keys — the same single job
            # answers both questions, so an update-only batch skips
            # the fresh-base branch without a second probe pass
            routing = (
                tagged.select("__part", "__fid").distinct().collect()
            )
            touched = {
                (r["__part"], r["__fid"])
                for r in routing
                if r["__fid"] is not None
            }
            has_news = any(r["__fid"] is None for r in routing)
            rli_del = None
            if delete or not has_news:
                news = None
            else:
                news = tagged.where(F.col("__fid").isNull()).drop(
                    "__key", "__part", "__fid"
                )
                news = news.withColumn("__part", self._partition_expr()).withColumn(
                    "__fid", self._new_fid(instant)
                )
            self._transition(instant, "requested")
            self._transition(instant, "inflight")
            parts = []
            if touched:
                touched_paths = [
                    os.path.join(self.table_path, rel)
                    for p, fid, _, rel in slices
                    if (p, fid) in touched
                ]
                old = read_slices(self.spark, touched_paths)
                upd_keys = tagged.select("__key").where(
                    F.col("__fid").isNotNull()
                ).distinct()
                if delete and self._rli_enabled:
                    # matched delete keys tombstone their RLI rows
                    rli_del = upd_keys
                # no broadcast hint: the update-key set is caller-sized
                # (a bulk upsert can carry millions of keys) — AQE
                # broadcasts when it is actually small
                if self.virtual:
                    survivors = (
                        old.withColumn(
                            "__base",
                            F.substring_index(
                                F.col("_metadata.file_path"), "/", -1
                            ),
                        )
                        .join(
                            upd_keys,
                            self._key_expr() == upd_keys["__key"],
                            "left_anti",
                        )
                        .join(
                            F.broadcast(self._slice_fid_map(slices)),
                            "__base",
                        )
                        .drop("__base")
                    )
                else:
                    survivors = old.join(
                        upd_keys,
                        old["_hoodie_record_key"] == upd_keys["__key"],
                        "left_anti",
                    ).withColumn(
                        "__part", F.col("_hoodie_partition_path")
                    ).withColumn(
                        "__fid", F.element_at(F.split("_hoodie_file_name", "_"), 1)
                    )
                parts.append(survivors)
                if not delete:
                    updates = tagged.where(F.col("__fid").isNotNull()).drop("__key")
                    parts.append(self._attach_meta(updates, instant, keep_commit_time=False))
            if news is not None:
                parts.append(self._attach_meta(news, instant, keep_commit_time=False))
            if not parts:
                # nothing touched and nothing new: empty commit
                self._complete(
                    instant,
                    {"operationType": "UPSERT", "partitionToWriteStats": {}},
                )
                return instant
            # survivors already carry meta (original commit_time AND
            # seqno kept — the COW copy-forward contract; real Hudi
            # preserves both for copies, only updated/inserted rows
            # mint new ones in _write_groups); normalize all branches
            # to the same column set before the union. Virtual-key
            # branches carry only data columns + routing.
            normalized = []
            if self.virtual:
                normalized = [
                    p.select(
                        "__part",
                        "__fid",
                        *[
                            c
                            for c in p.columns
                            if not c.startswith(("_hoodie_", "__"))
                        ],
                    )
                    for p in parts
                ]
                parts = []
            for p in parts:
                if "_hoodie_commit_time" not in p.columns:
                    p = self._attach_meta(p, instant, keep_commit_time=False)
                seq = (
                    F.col("_hoodie_commit_seqno")
                    if "_hoodie_commit_seqno" in p.columns
                    else F.lit(None).cast("string")
                )
                normalized.append(
                    p.select(
                        "_hoodie_commit_time",
                        seq.alias("_hoodie_commit_seqno"),
                        "_hoodie_record_key",
                        "__part",
                        "__fid",
                        *[c for c in p.columns if not c.startswith(("_hoodie_", "__"))],
                    )
                )
            merged = normalized[0]
            for p in normalized[1:]:
                merged = merged.unionByName(p)
            stats = self._write_groups(merged, instant, prev=prev)
            # a group whose EVERY record was deleted produced no rows
            # above — write an explicit empty base file so the slice
            # still advances (otherwise the old slice would stay
            # latest and resurrect the deleted rows)
            written = {
                (p, s["fileId"]) for p, lst in stats.items() for s in lst
            }
            template = {
                (p2, f2): rel for p2, f2, _, rel in slices
            }
            for part, fid in sorted(touched - written):
                self._write_empty_base(
                    part, fid, instant, template[(part, fid)], prev, stats
                )
            self._complete(
                instant,
                {
                    "operationType": "DELETE" if delete else "UPSERT",
                    "partitionToWriteStats": stats,
                },
                rli_deletes=rli_del,
            )
            return instant
        finally:
            tagged.unpersist()

    def _write_empty_base(
        self, part, fid, instant, template_rel, prev, stats
    ) -> None:
        """A group whose EVERY record was deleted produces no rows in
        the rewrite — write an explicit empty base file so the slice
        still advances (otherwise the old slice would stay latest and
        resurrect the deleted rows)."""
        import pyarrow.parquet as pq

        sch = pq.read_schema(os.path.join(self.table_path, template_rel))
        name = f"{fid}_{self.WRITE_TOKEN}_{instant}.parquet"
        rel = os.path.join(part, name) if part else name
        dst = os.path.join(self.table_path, rel)
        pq.write_table(sch.empty_table(), dst)
        stats.setdefault(part, []).append(
            {
                "fileId": fid,
                "path": rel,
                "prevCommit": prev.get((part, fid), "null"),
                "numWrites": 0,
                "fileSizeInBytes": os.path.getsize(dst),
            }
        )

    # ---- MOR ops ----

    def _merge_mor(self, df) -> str:
        """MOR upsert: updates append as ONE log file per touched
        file group (written by the EXECUTOR owning the group via
        applyInPandas — the driver sees only the per-group stats
        rows); new keys go to fresh base files. One deltacommit.
        The index reads BASE files only: every record key lives in
        some base file (inserts always land in bases, logs carry only
        updates), so tagging never parses a log."""
        import pyspark.sql.types as T

        from plankton_spark.sources.avro_ocf import schema_to_avro
        from plankton_spark.sources.hudi_log import log_file_name

        instant = self._next_instant()
        table_path = self.table_path
        t = HudiTable(table_path)
        slices = t.file_slices_with_logs()
        base_paths = [
            os.path.join(table_path, rel) for _, _, _, rel, _ in slices
        ]
        # per-group log naming state: base instant + next log version
        names = {
            fid: (part, log_file_name(fid, bi, len(lrs) + 1))
            for part, fid, bi, _rel, lrs in slices
        }
        base_of = {fid: bi for _p, fid, bi, _rel, _lrs in slices}
        incoming = df.withColumn("__key", self._key_expr())
        incoming = self._collapse_precombine(incoming, defer_check=True)
        rli = self._rli_lookup()
        cand = None if rli is not None else self._bloom_candidate_set(
            incoming,
            [(p, fid, rel) for p, fid, _bi, rel, _lrs in slices],
        )
        if cand is not None:
            base_paths = [
                os.path.join(table_path, rel)
                for p, fid, _bi, rel, _lrs in slices
                if (p, fid) in cand
            ]
        if rli is not None:
            index = rli
        elif not base_paths:
            index = local_frame(
                self.spark, [], "__key string, __part string, __fid string"
            )
        elif self.virtual:
            # virtual-key tagging: the declared key column + the
            # broadcast (basename → part, fileId) slice map stand in
            # for the meta columns (same shape as the COW branch)
            index = (
                read_slices(self.spark, base_paths)
                .select(
                    self._key_expr().alias("__key"),
                    F.substring_index(
                        F.col("_metadata.file_path"), "/", -1
                    ).alias("__base"),
                )
                .join(
                    F.broadcast(
                        self._slice_fid_map(
                            [(p, fid, bi, rel) for p, fid, bi, rel, _l in slices]
                        )
                    ),
                    "__base",
                )
                .select("__key", "__part", "__fid")
            )
        else:
            index = read_slices(self.spark, base_paths).select(
                F.col("_hoodie_record_key").alias("__key"),
                F.col("_hoodie_partition_path").alias("__part"),
                F.element_at(F.split("_hoodie_file_name", "_"), 1).alias("__fid"),
            )
        tagged = incoming.join(index, "__key", "left")
        tagged.persist()
        try:
            # deferred uniqueness/tie probe: materializes the persist
            # in the same job, and must precede the timeline
            # transitions and every log write below
            self._probe_tagged_unique(tagged)
            self._transition(instant, "requested")
            self._transition(instant, "inflight")
            data_fields = [
                f for f in df.schema.fields if not f.name.startswith("_hoodie_")
            ]
            # virtual-key log records carry DATA COLUMNS ONLY — the
            # block header's instant is the version authority the
            # meta commit-time column would have been (the reader
            # orders log rows by it); key identity re-derives from
            # the declared key column at read time
            virtual = self.virtual
            row_schema = T.StructType(
                ([] if virtual else [
                    T.StructField(c, T.StringType()) for c in META_COLS
                ])
                + data_fields
            )
            avro_schema = schema_to_avro(row_schema)
            data_cols = [f.name for f in data_fields]
            stats_schema = "part string, fid string, rel string, n long, sz long"
            write_group_log = _make_group_log_writer(
                table_path, names, instant, avro_schema, data_cols, virtual
            )

            updates = tagged.where(F.col("__fid").isNotNull())
            stats: dict[str, list] = {}
            # one row per TOUCHED FILE GROUP (metadata-scale collect)
            for r in (
                updates.groupBy("__fid")
                .applyInPandas(write_group_log, stats_schema)
                .collect()
            ):
                stats.setdefault(r["part"], []).append(
                    {
                        "fileId": r["fid"],
                        "path": r["rel"],
                        "prevCommit": base_of[r["fid"]],
                        "numWrites": r["n"],
                        "fileSizeInBytes": r["sz"],
                    }
                )
            # cache-hit probe: the applyInPandas job above populated
            # the persisted tagged frame, so this take(1) reads cache
            # only; an update-only batch (the common steady-state MOR
            # upsert) skips the whole fresh-base write pipeline
            # (shuffle + seqno window + dynamic-partition write +
            # footer stats) instead of running it over zero rows
            if tagged.where(F.col("__fid").isNull()).take(1):
                news = tagged.where(F.col("__fid").isNull()).drop(
                    "__key", "__part", "__fid"
                )
                news = news.withColumn(
                    "__part", self._partition_expr()
                ).withColumn("__fid", self._new_fid(instant))
                news = self._attach_meta(news, instant)
                for part, lst in self._write_groups(
                    news, instant, prev={}
                ).items():
                    stats.setdefault(part, []).extend(lst)
            self._complete(
                instant,
                {"operationType": "UPSERT", "partitionToWriteStats": stats},
            )
            return instant
        finally:
            tagged.unpersist()

    def _merge_mor_meta(self, df, batch_parts) -> str:
        """METADATA-TABLE fast-path upsert (optimization round 13).

        The metadata table is only ever read through the global
        latest-wins key merge (_read_mor / metadata_listing /
        _rli_lookup), never tagged against, so routing each record to
        the file group holding its previous version buys nothing —
        only a DETERMINISTIC group per metadata partition is needed
        to keep listings bounded. That is real Hudi's metadata-table
        design: a fixed set of key-routed file groups per partition,
        every commit a pure LOG APPEND to them, compaction folding on
        a deltacommit budget. Replacing the general _merge_mor here
        removes, per main-table commit: the base-file index scan, the
        tagging join, the uniqueness probe, the news take(1) probe,
        and (in steady state) the fresh-base write pipeline — one
        applyInPandas log-append job remains. ``batch_parts`` is the
        batch's metadata-partition set, driver-known because the
        caller builds the rows, so the news/updates split costs no
        job; only a partition's FIRST appearance writes a base file
        (one static ``fg-meta-<partition>`` group)."""
        import pyspark.sql.types as T

        from plankton_spark.sources.avro_ocf import schema_to_avro
        from plankton_spark.sources.hudi_log import log_file_name

        instant = self._next_instant()
        table_path = self.table_path
        t = HudiTable(table_path)
        slices = t.file_slices_with_logs()
        # one live group per metadata partition; if a legacy layout
        # ever held several, route appends to the latest-based one —
        # reads merge globally by key, so content is unaffected
        part_group: dict[str, tuple] = {}
        for part, fid, bi, _rel, lrs in slices:
            cur = part_group.get(part)
            if cur is None or bi > cur[1]:
                part_group[part] = (fid, bi, lrs)
        known = sorted(set(batch_parts) & set(part_group))
        new_parts = sorted(set(batch_parts) - set(part_group))
        incoming = df.withColumn("__key", self._key_expr())
        self._transition(instant, "requested")
        self._transition(instant, "inflight")
        stats: dict[str, list] = {}
        if known:
            names = {
                part_group[p][0]: (
                    p,
                    log_file_name(
                        part_group[p][0],
                        part_group[p][1],
                        len(part_group[p][2]) + 1,
                    ),
                )
                for p in known
            }
            data_fields = [
                f for f in df.schema.fields
                if not f.name.startswith("_hoodie_")
            ]
            avro_schema = schema_to_avro(
                T.StructType(
                    [T.StructField(c, T.StringType()) for c in META_COLS]
                    + data_fields
                )
            )
            fid_expr = F.create_map(
                *[
                    F.lit(x)
                    for p in known
                    for x in (p, part_group[p][0])
                ]
            )[F.col(self.partition_field)]
            updates = incoming.where(
                F.col(self.partition_field).isin(known)
            ).withColumn("__fid", fid_expr)
            write_group_log = _make_group_log_writer(
                table_path, names, instant, avro_schema,
                [f.name for f in data_fields], False,
            )
            stats_schema = (
                "part string, fid string, rel string, n long, sz long"
            )
            for r in (
                updates.groupBy("__fid")
                .applyInPandas(write_group_log, stats_schema)
                .collect()
            ):
                stats.setdefault(r["part"], []).append(
                    {
                        "fileId": r["fid"],
                        "path": r["rel"],
                        "prevCommit": part_group[r["part"]][1],
                        "numWrites": r["n"],
                        "fileSizeInBytes": r["sz"],
                    }
                )
        if new_parts:
            news = incoming.where(
                F.col(self.partition_field).isin(new_parts)
            ).drop("__key")
            news = (
                news.withColumn("__part", self._partition_expr())
                .withColumn(
                    "__fid",
                    F.concat(
                        F.lit("fg-meta-"),
                        F.regexp_replace(F.col("__part"), "_", "-"),
                    ),
                )
            )
            news = self._attach_meta(news, instant)
            for part, lst in self._write_groups(
                news, instant, prev={}
            ).items():
                stats.setdefault(part, []).extend(lst)
        self._complete(
            instant,
            {"operationType": "UPSERT", "partitionToWriteStats": stats},
        )
        return instant

    def _delete_mor(self, keys_df) -> str:
        """MOR delete: tag the incoming keys against the base-file
        index (every live key has a base row — inserts always land in
        bases) and append ONE DELETE_BLOCK per touched file group's
        log under a deltacommit, written by the EXECUTOR owning each
        group (applyInPandas; the driver sees only per-group stats).
        No base rewrite — removal is a log event the latest-wins read
        merge applies and compact() folds. Unknown keys are a no-op
        (nothing to delete)."""
        from plankton_spark.sources.hudi_log import log_file_name

        instant = self._next_instant()
        table_path = self.table_path
        t = HudiTable(table_path)
        slices = t.file_slices_with_logs()
        names = {
            fid: (part, log_file_name(fid, bi, len(lrs) + 1))
            for part, fid, bi, _rel, lrs in slices
        }
        base_of = {fid: bi for _p, fid, bi, _rel, _lrs in slices}
        incoming = keys_df.withColumn("__key", self._key_expr())
        incoming = self._collapse_precombine(incoming, delete=True)
        base_paths = [
            os.path.join(table_path, rel) for _, _, _, rel, _ in slices
        ]
        rli = self._rli_lookup()
        cand = None if rli is not None else self._bloom_candidate_set(
            incoming,
            [(p, fid, rel) for p, fid, _bi, rel, _lrs in slices],
        )
        if cand is not None:
            base_paths = [
                os.path.join(table_path, rel)
                for p, fid, _bi, rel, _lrs in slices
                if (p, fid) in cand
            ]
        if rli is not None:
            index = rli
        elif not base_paths:
            index = local_frame(
                self.spark, [], "__key string, __part string, __fid string"
            )
        elif self.virtual:
            index = (
                read_slices(self.spark, base_paths)
                .select(
                    self._key_expr().alias("__key"),
                    F.substring_index(
                        F.col("_metadata.file_path"), "/", -1
                    ).alias("__base"),
                )
                .join(
                    F.broadcast(
                        self._slice_fid_map(
                            [(p, fid, bi, rel) for p, fid, bi, rel, _l in slices]
                        )
                    ),
                    "__base",
                )
                .select("__key", "__part", "__fid")
            )
        else:
            index = read_slices(self.spark, base_paths).select(
                F.col("_hoodie_record_key").alias("__key"),
                F.col("_hoodie_partition_path").alias("__part"),
                F.element_at(F.split("_hoodie_file_name", "_"), 1).alias("__fid"),
            )
        tagged = incoming.join(index, "__key", "inner").select(
            "__key", "__part", "__fid"
        )
        self._transition(instant, "requested")
        self._transition(instant, "inflight")
        stats_schema = "part string, fid string, rel string, n long, sz long"

        def write_group_delete(pdf):
            import pandas as pd

            from plankton_spark.sources.hudi_log import append_delete_block

            fid = pdf["__fid"].iloc[0]
            part, name = names[fid]
            rel = os.path.join(part, name) if part else name
            dst = os.path.join(table_path, rel)
            os.makedirs(os.path.dirname(dst) or table_path, exist_ok=True)
            deletes = sorted(
                (k, part) for k in pdf["__key"].tolist()
            )
            append_delete_block(dst, instant, deletes)
            return pd.DataFrame(
                [
                    {
                        "part": part,
                        "fid": fid,
                        "rel": rel,
                        "n": len(deletes),
                        "sz": os.path.getsize(dst),
                    }
                ]
            )

        stats: dict[str, list] = {}
        # one row per TOUCHED FILE GROUP (metadata-scale collect)
        for r in (
            tagged.groupBy("__fid")
            .applyInPandas(write_group_delete, stats_schema)
            .collect()
        ):
            stats.setdefault(r["part"], []).append(
                {
                    "fileId": r["fid"],
                    "path": r["rel"],
                    "prevCommit": base_of[r["fid"]],
                    "numWrites": 0,
                    "numDeletes": r["n"],
                    "fileSizeInBytes": r["sz"],
                }
            )
        self._complete(
            instant,
            {"operationType": "DELETE", "partitionToWriteStats": stats},
            rli_deletes=(
                tagged.select("__key").distinct()
                if self._rli_enabled
                else None
            ),
        )
        return instant

    def compact(self) -> str:
        """MOR COMPACTION: fold each log-carrying file group's merged
        rows into a fresh base file under a COMMIT instant (the MOR
        timeline's compaction action). Records keep the commit
        metadata of their LATEST version (the merge result) — the
        incremental query still sees when each record last changed.
        Groups without logs are not read or rewritten. After the
        commit the old logs' base instant no longer matches the
        slice, so they detach without being touched."""
        if not self._is_mor:
            raise ValueError(f"{self.table_path}: compact() is a MOR op")
        instant = self._next_instant()
        t = HudiTable(self.table_path)
        slices = t.file_slices_with_logs()
        todo = [s for s in slices if s[4]]
        self._transition(instant, "requested", action="commit")
        self._transition(instant, "inflight", action="commit")
        if not todo:
            self._complete(
                instant,
                {"operationType": "COMPACT", "partitionToWriteStats": {}},
                action="commit",
            )
            return instant
        # the merge scan is SCOPED to the log-carrying groups (the
        # docstring's "groups without logs are not read" promise):
        # each record key lives in exactly one file group, so merging
        # only the todo slices is identical to merging the whole
        # table and keeping todo keys — at scale this turns
        # compaction IO from O(table) into O(dirty groups)
        merged = _read_mor(
            self.spark, t, self.table_path, None, None, None,
            with_meta=not self.virtual,
            slice_filter={(p, fid) for p, fid, _bi, _rel, _l in todo},
        )
        todo_bases = [
            os.path.join(self.table_path, rel) for _, _, _, rel, _ in todo
        ]
        if self.virtual:
            # virtual-key group routing: a record compacts into the
            # file group whose base held its key (same attribution as
            # the write paths — declared key + broadcast slice map)
            index = (
                read_slices(self.spark, todo_bases)
                .select(
                    self._key_expr().alias("__key"),
                    F.substring_index(
                        F.col("_metadata.file_path"), "/", -1
                    ).alias("__base"),
                )
                .join(
                    F.broadcast(
                        self._slice_fid_map(
                            [(p, fid, bi, rel) for p, fid, bi, rel, _l in todo]
                        )
                    ),
                    "__base",
                )
                .select("__key", "__part", "__fid")
            )
            rows = merged.join(
                index, self._key_expr() == index["__key"], "inner"
            ).drop("__key")
        else:
            # group routing from the merged rows' OWN meta columns —
            # a base-row survivor names its base file, a log-row
            # winner names its log file, and both parse to the
            # fileId. With the scan already scoped to the todo
            # groups, this replaces a SECOND read of every todo base
            # plus a key-equality join (the old index path) with two
            # string expressions: one data pass instead of two, no
            # shuffle for routing.
            fid_from_name = F.when(
                F.col("_hoodie_file_name").startswith("."),
                F.regexp_extract(
                    "_hoodie_file_name", r"^\.(.*)_[^_]*\.log\..*$", 1
                ),
            ).otherwise(
                F.element_at(F.split("_hoodie_file_name", "_"), 1)
            )
            rows = merged.withColumn("__fid", fid_from_name).withColumn(
                "__part", F.col("_hoodie_partition_path")
            )
        prev = {(part, fid): bi for part, fid, bi, _rel, _lrs in todo}
        stats = self._write_groups(rows, instant, prev=prev)
        # a group whose every record was log-DELETED contributes no
        # merged rows — advance its slice with an explicit empty base
        # (same resurrection guard as the COW delete path)
        written = {
            (p, s["fileId"]) for p, lst in stats.items() for s in lst
        }
        template = {(p, fid): rel for p, fid, _bi, rel, _lrs in todo}
        for part, fid in sorted(set(prev) - written):
            self._write_empty_base(
                part, fid, instant, template[(part, fid)], prev, stats
            )
        self._complete(
            instant,
            {"operationType": "COMPACT", "partitionToWriteStats": stats},
            action="commit",
        )
        return instant

    def insert_overwrite(self, df, whole_table: bool = False) -> str:
        """INSERT OVERWRITE — the spec's other ``replacecommit``
        flavor (next to clustering): stage ``df`` as fresh file
        groups and list the groups it REPLACES — every current group
        of the partitions ``df`` touches (the default,
        insert_overwrite), or every group in the table
        (``whole_table=True``, insert_overwrite_table). No index
        probe, no rewrite of survivors — replacement is pure replace
        metadata, so untouched partitions carry forward and time
        travel before the instant still sees the replaced groups.
        Works on MOR too: replaced groups' logs detach with them
        (the slice replay pops both)."""
        instant = self._next_instant()
        t = HudiTable(self.table_path)
        if self._is_mor:
            slices = [
                (p, fid) for p, fid, _bi, _rel, _lrs in
                t.file_slices_with_logs()
            ]
        else:
            slices = [(p, fid) for p, fid, _ti, _rel in t.file_slices()]
        staged = df.withColumn("__part", self._partition_expr()).withColumn(
            "__fid", self._new_fid(instant)
        )
        staged = self._attach_meta(staged, instant)
        if whole_table:
            touched = {p for p, _fid in slices}
        else:
            # one bounded collect: distinct partition values of df
            touched = {
                r["__part"]
                for r in staged.select("__part").distinct().collect()
            }
        replaced: dict[str, list[str]] = {}
        for p, fid in slices:
            if p in touched:
                replaced.setdefault(p, []).append(fid)
        self._transition(instant, "requested", action="replacecommit")
        self._transition(instant, "inflight", action="replacecommit")
        stats = self._write_groups(staged, instant, prev={})
        self._complete(
            instant,
            {
                "operationType": (
                    "INSERT_OVERWRITE_TABLE"
                    if whole_table
                    else "INSERT_OVERWRITE"
                ),
                "partitionToWriteStats": stats,
                "partitionToReplaceFileIds": {
                    p: sorted(fids) for p, fids in replaced.items()
                },
            },
            action="replacecommit",
        )
        return instant

    def cluster(self) -> str:
        """CLUSTERING (``replacecommit``): rewrite the CURRENT file
        groups into fresh key-hash-bucketed groups (``group_buckets``
        per partition) and record the replaced groups in the spec's
        ``partitionToReplaceFileIds`` — from this instant on they are
        invisible; time travel before it still sees them (files stay
        on disk untouched). Records keep their ORIGINAL commit time
        AND seqno (the rewrite is layout-only), so the incremental
        query and the streaming feed stay silent across it — the
        compaction precedent, replace-metadata edition. Empty-group
        tombstone files compact away naturally (an empty group is
        replaced by nothing). MERGE_ON_READ clusters LOG-AWARE: the
        snapshot read already folds live log deltas (latest-wins
        merge, delete tombstones hidden) and every merged row carries
        the commit time + seqno of its LATEST version — exactly what
        compact() writes — so the replacement groups hold the folded
        state and the replaced groups' logs detach with their bases
        (the replacecommit replay pops both, the insert_overwrite
        precedent). VIRTUAL-KEY tables refuse: a layout-only rewrite
        must preserve per-record commit identity, which virtual files
        do not carry — slice-grain attribution would re-emit the
        whole table as changed, breaking the silence contract."""
        if self.virtual:
            raise NotImplementedError(
                f"{self.table_path}: cluster() on a virtual-key table "
                "— layout-only rewrites must preserve per-record "
                "commit identity, which populate.meta.fields=false "
                "files never carry; slice-grain attribution would "
                "re-emit every row as changed"
            )
        instant = self._next_instant()
        t = HudiTable(self.table_path)
        if self._is_mor:
            groups = [
                (p, fid)
                for p, fid, _bi, _rel, _lrs in t.file_slices_with_logs()
            ]
        else:
            groups = [(p, fid) for p, fid, _ti, _rel in t.file_slices()]
        if not groups:
            raise ValueError(f"{self.table_path}: nothing to cluster")
        replaced: dict[str, list[str]] = {}
        for part, fid in groups:
            replaced.setdefault(part, []).append(fid)
        rows = read_hudi(
            self.spark, self.table_path, with_meta=True
        ).withColumn(
            "__part", F.col("_hoodie_partition_path")
        )
        rows = rows.withColumn("__fid", self._new_fid(instant))
        self._transition(instant, "requested", action="replacecommit")
        self._transition(instant, "inflight", action="replacecommit")
        stats = self._write_groups(rows, instant, prev={})
        self._complete(
            instant,
            {
                "operationType": "CLUSTER",
                "partitionToWriteStats": stats,
                "partitionToReplaceFileIds": {
                    p: sorted(fids) for p, fids in replaced.items()
                },
            },
            action="replacecommit",
        )
        return instant

    # ---- shared staging ----

    def _attach_meta(self, df, instant: str, keep_commit_time: bool = False):
        """Attach the per-record meta columns the files must carry
        (file name + seqno are finalized in _write_groups once the
        physical name is known). VIRTUAL-KEY tables carry none — the
        no-op keeps the staging pipeline uniform."""
        if self.virtual:
            return df
        out = df
        if "_hoodie_commit_time" not in out.columns or not keep_commit_time:
            if "_hoodie_commit_time" in out.columns:
                out = out.drop("_hoodie_commit_time")
            out = out.withColumn("_hoodie_commit_time", F.lit(instant))
        if "_hoodie_record_key" not in out.columns:
            out = out.withColumn("_hoodie_record_key", self._key_expr())
        return out

    def _write_groups(self, df, instant: str, prev: dict) -> dict:
        """Write one base file per (partition, fileId) in ``df`` and
        return partitionToWriteStats. df carries __part/__fid plus
        _hoodie_commit_time/_hoodie_record_key; the remaining meta
        columns derive from the physical file name chosen here. The
        repartition on __fid puts each file group in exactly one task,
        so partitionBy emits exactly one file per group."""
        # one shuffle, up front: the per-group seqno window below and
        # the one-file-per-group partitionBy both need the rows
        # clustered by __fid, so establish that partitioning ONCE here
        # and let the window reuse it (before this reorder the window
        # forced its own exchange and _write_staged_groups added a
        # second, back-to-back shuffle of the full write set)
        df = df.repartition(F.col("__fid"))
        if self.virtual:
            # virtual-key files carry data columns only; routing
            # columns drive the one-file-per-group partitionBy below
            data_cols = [
                c for c in df.columns if not c.startswith(("_hoodie_", "__"))
            ]
            staged = df.select(*data_cols, "__part", "__fid")
            return self._write_staged_groups(staged, instant, prev)
        fname = F.concat(
            F.col("__fid"), F.lit(f"_{self.WRITE_TOKEN}_{instant}.parquet")
        )
        seq = F.row_number().over(
            Window.partitionBy("__fid").orderBy("_hoodie_record_key")
        )
        minted = F.concat(F.lit(instant + "_"), seq.cast("string"))
        # copied-forward survivors (and compaction/clustering rows,
        # whose commit_time is their latest pre-rewrite version) KEEP
        # their original seqno — real Hudi only mints seqnos for rows
        # the writing instant actually changed, so foreign readers
        # ordering by seqno never misattribute copies
        if "_hoodie_commit_seqno" in df.columns:
            seqno = F.when(
                (F.col("_hoodie_commit_time") != F.lit(instant))
                & F.col("_hoodie_commit_seqno").isNotNull(),
                F.col("_hoodie_commit_seqno"),
            ).otherwise(minted)
        else:
            seqno = minted
        data_cols = [
            c for c in df.columns if not c.startswith(("_hoodie_", "__"))
        ]
        staged = df.select(
            F.col("_hoodie_commit_time"),
            seqno.alias("_hoodie_commit_seqno"),
            F.col("_hoodie_record_key"),
            F.col("__part").alias("_hoodie_partition_path"),
            fname.alias("_hoodie_file_name"),
            *data_cols,
            F.col("__part"),
            F.col("__fid"),
        )
        return self._write_staged_groups(staged, instant, prev)

    def _write_staged_groups(self, staged, instant: str, prev: dict) -> dict:
        """Physical tail of _write_groups: one base file per
        (partition, fileId), write stats from the staged footers."""
        groups = set()

        def dest(_rel, values):
            part, fid = values["__part"] or _UNPARTITIONED, values["__fid"]
            assert (part, fid) not in groups, f"{fid}: expected 1 file, got more"
            groups.add((part, fid))
            return os.path.join(part, f"{fid}_{self.WRITE_TOKEN}_{instant}.parquet")

        # _write_groups already clustered the rows by __fid (one
        # shuffle shared with the seqno window), so each group lands
        # wholly in one task and partitionBy emits one file per group
        tmp = os.path.join(self.table_path, f".hoodie/.temp/{instant}")
        stats: dict[str, list] = {}
        for s in stage.write(staged, tmp, self.table_path, dest, ["__part", "__fid"]):
            part, fid = os.path.dirname(s.path), s.values["__fid"]
            stats.setdefault(part, []).append(
                {
                    "fileId": fid,
                    "path": s.path,
                    "prevCommit": prev.get((part, fid), "null"),
                    "numWrites": s.meta.num_rows,
                    "fileSizeInBytes": s.stat.st_size,
                }
            )
        shutil.rmtree(os.path.join(self.table_path, ".hoodie/.temp"), ignore_errors=True)
        return stats


def inventory(spark, table_path: str) -> Inventory:
    """The conversion inventory (`sources/convert.py`) of a Hudi table:
    its latest file slices (the XTable direction). The timeline, not a
    directory walk, picks them, so superseded slices and uncommitted
    files are invisible; replacecommit timelines convert, since
    clustering output is the latest slice set. The schema excludes the
    five ``_hoodie_*`` meta columns (the public XTable behavior): files
    keep them and every reader's projection prunes them at the scan.
    The table converts unpartitioned: Hudi keeps the partition field
    in file content, where Delta and Iceberg expect partition columns
    removed, so predicate pushdown and file stats do the pruning. A
    fully compacted MERGE_ON_READ table (no live log files) converts
    like COPY_ON_WRITE. Refuses un-compacted MERGE_ON_READ, whose log
    deltas no target can represent, and a table with no file slices."""
    t = HudiTable(table_path)
    if t.table_type == "MERGE_ON_READ":
        slices = t.file_slices_with_logs()
        if any(lrs for *_x, lrs in slices):
            raise NotImplementedError(
                f"{table_path}: un-compacted MERGE_ON_READ — live log "
                "deltas have no Delta/Iceberg representation; compact() "
                "first"
            )
    else:
        slices = t.file_slices()
    if not slices:
        raise ValueError(f"{table_path}: no file slices to convert")
    paths = [os.path.join(table_path, s[3]) for s in slices]
    schema = read_slices(spark, paths).drop(*META_COLS).schema
    return Inventory("Hudi", schema, [], [LiveFile(p, {}) for p in paths])


# ---------------------------------------------------------------------
# Streaming source — the Hudi INCREMENTAL feed as a Structured
# Streaming source (format "hudiincr"), the third leg next to
# format("deltacdf") and format("icebergcdf"). Offsets carry the
# LAST-CONSUMED INSTANT TIME (the real Hudi incremental contract —
# resume from the first instant strictly greater), NOT a timeline
# position: a foreign writer completing an instant that sorts earlier
# than already-consumed ones can shift ordinals, but instant times
# stay stable, so a checkpointed consumer neither replays nor skips.
# Per micro-batch, each instant contributes the records it WROTE:
# rows whose _hoodie_commit_time equals the instant (COW copies carry
# older instants and drop out; compaction commits and clustering
# replacecommits rewrite only copies, so they are naturally SILENT —
# the layout-only contract). DELETE_BLOCK log entries are skipped:
# the incremental feed emits written records, not removals (the
# format's documented incremental semantics without a change feed).
# Files a batch references are existence-checked at planning time —
# a clean() that outran the consumer fails loudly with a
# retention-aware error instead of a task-level FileNotFound. Each
# partition is one self-contained file read (parquet scan + commit-
# time filter, or log-block parse) — no shuffle, no driver row path.
# ---------------------------------------------------------------------

from plankton_spark.sources.pyread import (  # noqa: E402
    FilePart,
    TableSource,
    VersionedStreamReader,
    file_batches,
)


def incr_schema(table_path: str):
    """The hudiincr feed schema (base-file schema; virtual-key tables
    prepend the reader-synthesized _hoodie_commit_time). Shared by
    DataSource.schema() AND callers that pass an explicit schema to
    ``readStream.schema(...)`` — supplying it skips the Python-runner
    schema-probe round trip Spark otherwise pays per load()
    (optimization round 14, measured 0.2-1.2 s per load; the helper
    runs the identical footer read in the driver process)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import from_arrow_schema

    t = HudiTable(table_path)
    for ti, action in t.data_instants():
        meta = t.commit_meta(ti, action)
        for _part, stats in meta.get("partitionToWriteStats", {}).items():
            for st in stats:
                if ".log." not in os.path.basename(st["path"]):
                    sch = pq.read_schema(
                        os.path.join(table_path, st["path"])
                    )
                    if t.virtual_keys:
                        # virtual files carry no meta columns — the
                        # FEED still surfaces the instant (reader-
                        # synthesized from block/slice instants), real
                        # Hudi's incremental-view contract
                        sch = sch.insert(
                            0,
                            pa.field("_hoodie_commit_time", pa.string()),
                        )
                    return from_arrow_schema(sch)
    raise ValueError(f"{table_path}: no base file to derive a schema")


class HudiIncrDataSource(TableSource):
    """format("hudiincr"): option 'path' names the Hudi table. Output
    schema = the base-file schema (table columns + the five _hoodie_*
    meta columns — _hoodie_commit_time is the per-record change
    attribution consumers group by)."""

    NAME = "hudiincr"
    MISSING_PATH = "{} requires option 'path'"

    def schema(self):
        return incr_schema(self.path)

    def streamReader(self, schema) -> "HudiIncrStreamReader":
        return HudiIncrStreamReader(
            self.path, schema, self.options.get("startingInstant")
        )


class HudiIncrStreamReader(VersionedStreamReader):
    key = "last"

    def __init__(self, path: str, schema, starting_instant: str | None = None):
        # option("startingInstant", t): a NEW consumer begins strictly
        # AFTER instant t instead of replaying the whole timeline —
        # real Hudi's hoodie.datasource.read.begin.instanttime. Only
        # consulted for the initial offset; checkpointed consumers
        # resume from their checkpoint as always.
        super().__init__(path, schema, starting_instant or "")
        t = HudiTable(path)
        t._check_readable(None)  # refuse what reads refuse
        # VIRTUAL-KEY tables stream too (round-13 continuation): the
        # reader SYNTHESIZES the _hoodie_commit_time column from the
        # partition's instant — EXACT for log blocks (one commit per
        # block) and for fresh-group inserts / insert_overwrite
        # (wholly written by their instant); COMPACT instants are
        # skipped at planning (layout-only — their records already
        # streamed from the log blocks that fed them). The one
        # imprecision is the COW-rewrite class (virtual COW upsert/
        # delete survivors re-emit at the rewrite instant — the same
        # slice-grain limit the batch incremental documents).
        self._virtual = t.virtual_keys

    def _last(self, offset: dict, instants) -> str:
        """Last-consumed instant time from an offset dict. Accepts the
        legacy ordinal form ({"pos": n}, a pre-instant-time checkpoint)
        by mapping the position back onto the current timeline — but
        REFUSES when the timeline shows evidence of out-of-order
        completion (a completed-instant file whose mtime precedes an
        earlier-sorting instant's): that is exactly the hazard that
        shifts ordinals, so the mapping could replay or skip a batch.
        Residual imprecision (documented): inversions finer than the
        filesystem mtime tick are unobservable, so a same-tick foreign
        out-of-order commit can still slip through ONCE before the
        checkpoint converts to the instant-time form."""
        if "last" in offset:
            return offset["last"]
        pos = offset.get("pos", 0)
        if pos > 0:
            meta_dir = os.path.join(self.path, ".hoodie")
            mtimes = [
                os.path.getmtime(os.path.join(meta_dir, f"{ti}.{a}"))
                for ti, a in instants
                if os.path.isfile(os.path.join(meta_dir, f"{ti}.{a}"))
            ]
            if any(b < a for a, b in zip(mtimes, mtimes[1:])):
                raise ValueError(
                    f"{self.path}: legacy ordinal offset {{'pos': "
                    f"{pos}}} cannot be mapped safely — the timeline "
                    "shows out-of-order instant completion, so "
                    "ordinals may have shifted since the checkpoint; "
                    "restart from a fresh checkpoint (offsets now "
                    "carry instant times)"
                )
        return instants[pos - 1][0] if 0 < pos <= len(instants) else ""

    def latest(self) -> str:
        instants = HudiTable(self.path).data_instants()
        return instants[-1][0] if instants else ""

    def partitions(self, start: dict, end: dict):
        t = HudiTable(self.path)
        instants = t.data_instants()
        lo = self._last(start, instants)
        hi = self._last(end, instants)
        out: list[FilePart] = []
        for ti, action in instants:
            if not (lo < ti <= hi):
                continue
            meta = t.commit_meta(ti, action)
            if self._virtual and meta.get("operationType") == "COMPACT":
                # layout-only fold: its records were already emitted
                # from the log blocks that fed it — skipping keeps the
                # virtual feed exact where the commit-time filter
                # would have silenced it on a meta-column table
                continue
            for _part, stats in meta.get(
                "partitionToWriteStats", {}
            ).items():
                for st in stats:
                    rel = st["path"]
                    full = os.path.join(self.path, rel)
                    if not os.path.exists(full):
                        raise ValueError(
                            f"{self.path}: instant {ti} references "
                            f"{rel}, which no longer exists — retention "
                            "(clean) outran this consumer; restart from "
                            "a fresh checkpoint or raise "
                            "keep_last_slices"
                        )
                    # virtual files and log records carry no meta
                    # columns: the feed's instant column is the
                    # partition's instant (fresh groups exact, COW
                    # rewrites slice-grain)
                    consts = {"_hoodie_commit_time": ti} if self._virtual else {}
                    out.append(FilePart(full, None, consts, instant=ti))
        return out

    def batches(self, part: FilePart):
        """A log file's data blocks of the partition's instant (DELETE
        blocks are skipped: the incremental feed emits written
        records, not removals), or a base file's batches masked to the
        records the instant wrote."""
        import pyarrow as pa
        import pyarrow.compute as pc

        if ".log." in os.path.basename(part.path):
            from plankton_spark.sources.hudi_log import (
                AVRO_DATA_BLOCK,
                read_log_blocks,
            )

            for instant, btype, records in read_log_blocks(part.path):
                if instant == part.instant and btype == AVRO_DATA_BLOCK and records:
                    yield pa.RecordBatch.from_pylist(records), None
            return
        for batch in file_batches(part.path):
            if self._virtual:
                yield batch, None
            else:
                yield batch, pc.equal(batch.column("_hoodie_commit_time"), part.instant)


def register(spark) -> None:
    spark.dataSource.register(HudiIncrDataSource)


def metadata_listing(spark, table_path: str):
    """File listing from the internal METADATA TABLE's ``files``
    partition — one bounded MOR read (latest-wins record-key merge,
    ``deleted`` markers dropped) instead of an O(files) directory
    walk, the reason the metadata table exists at scale. Returns a
    DataFrame (part, fname, fsize) of the files currently on disk;
    raises when the table was not written with
    ``hoodie.metadata.enable`` (listings then come from the
    timeline, the spec's fallback this engine always supports)."""
    mpath = os.path.join(table_path, ".hoodie", "metadata")
    if not os.path.isfile(
        os.path.join(mpath, ".hoodie", "hoodie.properties")
    ):
        raise ValueError(
            f"{table_path}: no metadata table "
            "(hoodie.metadata.enable) — use the timeline listing"
        )
    df = read_hudi(spark, mpath, partition_path="files")
    return df.where(~F.col("deleted")).select("part", "fname", "fsize")


def prune_slices_by_stats(spark, table_path: str, slices, stats_filter):
    """STATS-BASED FILE SKIPPING from the metadata table's
    column_stats partition: keep the slices whose recorded [min, max]
    for ``stats_filter=(col, lo, hi)`` OVERLAPS the inclusive range —
    a slice with no recorded stats is kept (unknown never prunes), so
    the result is always a SUPERSET of the matching files and callers
    apply the exact residual predicate on the scan. One bounded
    metadata-table read + a driver pass over the (already
    metadata-scale) slice list — at 100 TB this is what replaces
    opening every parquet footer before the real scan."""
    col, lo, hi = stats_filter
    mpath = os.path.join(table_path, ".hoodie", "metadata")
    if not os.path.isfile(
        os.path.join(mpath, ".hoodie", "hoodie.properties")
    ):
        raise ValueError(
            f"{table_path}: stats_filter needs the metadata table "
            "(hoodie.metadata.enable) — without it, parquet footer "
            "pushdown already covers row-group skipping"
        )
    st = read_hudi(spark, mpath, partition_path="column_stats")
    ranges = {
        (r["part"], r["fname"]): (json.loads(r["vmin"]), json.loads(r["vmax"]))
        for r in st.where((F.col("col") == col) & ~F.col("deleted"))
        .select("part", "fname", "vmin", "vmax")
        .collect()
    }
    kept = []
    for part, fid, ti, rel in slices:
        rng = ranges.get((part, os.path.basename(rel)))
        try:
            prunable = rng is not None and (rng[1] < lo or rng[0] > hi)
        except TypeError:
            # caller's bounds don't compare with the stored stat type
            # (e.g. str vs int) — unknown never prunes
            prunable = False
        if not prunable:
            kept.append((part, fid, ti, rel))
    return kept


def _metadata_mark_deleted(spark, table_path: str, rels) -> None:
    """Retention-side metadata-table maintenance: mark files clean()
    or rollback() physically removed as deleted in the files
    partition (real Hudi's isDeleted payload — the record stays, the
    listing drops it)."""
    t = HudiTable(table_path)
    if (
        t.props.get("hoodie.metadata.enable", "false").lower() != "true"
        or not rels
    ):
        return
    if spark is None:
        raise ValueError(
            f"{table_path}: hoodie.metadata.enable=true — pass spark= "
            "so retention can update the files listing"
        )
    w = HudiWriter(spark, table_path)
    w._metadata_update(
        [], [(os.path.dirname(r), os.path.basename(r)) for r in rels]
    )


def clean(table_path: str, keep_last_slices: int = 1, spark=None) -> list[str]:
    """CLEAN (the Hudi retention action, vacuum/expire parity with
    the other formats): per file group, delete base files superseded
    by more than ``keep_last_slices`` newer slices, plus log files
    whose base instant no longer matches ANY retained base (detached
    by compaction). Writes a ``{instant}.clean`` timeline record
    listing the deleted paths. Time travel to a cleaned-away instant
    then fails at scan time — the same contract as Delta VACUUM.
    Metadata-only planning: the timeline names every candidate, no
    directory walk. Returns the deleted relative paths."""
    from plankton_spark.sources.hudi_log import parse_log_file_name

    t = HudiTable(table_path)
    t._check_readable(None)
    history: dict[tuple[str, str], list[tuple[str, str]]] = {}
    logs: list[tuple[str, str, str]] = []  # (rel, fid, base_instant)
    for ti, action in t.data_instants():
        meta = t.commit_meta(ti, action)
        for part, stats in meta.get("partitionToWriteStats", {}).items():
            for st in stats:
                rel = st["path"]
                parsed = parse_log_file_name(os.path.basename(rel))
                if parsed is not None:
                    logs.append((rel, parsed[0], parsed[1]))
                else:
                    history.setdefault((part, st["fileId"]), []).append(
                        (ti, rel)
                    )
    deleted: list[str] = []
    kept_bases: dict[str, set[str]] = {}  # fid -> retained base instants
    for (part, fid), versions in sorted(history.items()):
        versions.sort()
        keep = versions[-max(1, keep_last_slices):]
        kept_bases.setdefault(fid, set()).update(ti for ti, _ in keep)
        for _ti, rel in versions[: len(versions) - len(keep)]:
            p = os.path.join(table_path, rel)
            if os.path.exists(p):
                os.remove(p)
            deleted.append(rel)
    for rel, fid, base_instant in logs:
        if base_instant not in kept_bases.get(fid, set()):
            p = os.path.join(table_path, rel)
            if os.path.exists(p):
                os.remove(p)
            deleted.append(rel)
    existing = [m.group(1) for n in os.listdir(t.meta_dir) if (m := _COMPLETED_RE.match(n))]
    instant = f"{int(max(existing)) + 1000:017d}" if existing else f"{_INSTANT0:017d}"
    with open(
        os.path.join(t.meta_dir, f"{instant}.clean"), "w", encoding="utf-8"
    ) as fh:
        json.dump({"deleted": sorted(deleted)}, fh, indent=2)
    _metadata_mark_deleted(spark, table_path, deleted)
    return sorted(deleted)


def rollback(table_path: str, instant: str, spark=None) -> list[str]:
    """ROLLBACK a PENDING (crashed) instant: delete any data/log file
    that instant staged (named by its instantTime — base files embed
    it, log stats are unreachable because the commit never completed,
    so the file sweep goes by name), remove the requested/inflight
    transition files, and record a ``{instant}.rollback`` timeline
    entry. Completed instants refuse — undoing committed data is
    RESTORE territory, not rollback."""
    t = HudiTable(table_path)
    for n in os.listdir(t.meta_dir):
        m = _COMPLETED_RE.match(n)
        if m and m.group(1) == instant and m.group(2) != "rollback":
            raise ValueError(
                f"{table_path}: instant {instant} is COMPLETED "
                f"({m.group(2)}) — rollback only undoes pending writes"
            )
    removed: list[str] = []
    # committed LOG files are only identifiable through commit
    # metadata (their names carry the BASE instant, not the writing
    # one) — collect the referenced set so the sweep below can delete
    # a crashed deltacommit's orphan logs without touching live ones
    referenced_logs: set[str] = set()
    for ti, action in t.data_instants():
        meta = t.commit_meta(ti, action)
        for _part, stats in meta.get("partitionToWriteStats", {}).items():
            for st in stats:
                if ".log." in os.path.basename(st["path"]):
                    referenced_logs.add(os.path.normpath(st["path"]))
    # the orphan sweep is SCOPED to the rolled-back instant: an
    # unreferenced log is attributed by its block INSTANT_TIME headers
    # (cheap header scan, no content decode) and deleted only when
    # every block was staged by THIS instant — a log staged by a
    # different still-in-flight deltacommit survives. A headerless
    # (fully corrupt) orphan is unattributable: deleted only when no
    # OTHER pending instant could own it.
    from plankton_spark.sources.hudi_log import log_block_instants

    pending_others = {
        m.group(1)
        for n in os.listdir(t.meta_dir)
        if (m := _PENDING_RE.match(n)) and m.group(1) != instant
    }
    for dirpath, _dirs, files in os.walk(table_path):
        if os.path.relpath(dirpath, table_path).startswith(".hoodie"):
            continue
        for n in files:
            full_p = os.path.join(dirpath, n)
            rel = os.path.relpath(full_p, table_path)
            parsed_base = _BASEFILE_RE.match(n)
            if parsed_base and parsed_base.group("instant") == instant:
                os.remove(full_p)
                removed.append(rel)
            elif (
                ".log." in n
                and os.path.normpath(rel) not in referenced_logs
            ):
                insts = log_block_instants(full_p)
                if (insts and insts <= {instant}) or (
                    not insts and not pending_others
                ):
                    os.remove(full_p)
                    removed.append(rel)
    for phase in ("requested", "inflight"):
        for action in ("commit", "deltacommit", "replacecommit"):
            p = os.path.join(t.meta_dir, f"{instant}.{action}.{phase}")
            if os.path.exists(p):
                os.remove(p)
    with open(
        os.path.join(t.meta_dir, f"{instant}.rollback"), "w", encoding="utf-8"
    ) as fh:
        json.dump({"rolled_back": instant, "removed": sorted(removed)}, fh, indent=2)
    _metadata_mark_deleted(spark, table_path, removed)
    return sorted(removed)


def author(spark, table_path: str, source, record_key: str) -> str:
    """Author a ``.hoodie`` timeline over the files of the inventory
    ``source(spark, table_path)`` returns, in place (XTable's
    Hudi-target direction): one BULK_INSERT commit, O(files) metadata,
    zero data movement. Foreign files carry no ``_hoodie_*`` meta
    columns, so the table is authored in the spec's VIRTUAL-KEY mode
    (``hoodie.populate.meta.fields=false``): record identity comes
    from `record_key`. Snapshot reads, time travel to the conversion
    instant, partition_path pruning and engine writes work through the
    normal slice replay; ``with_meta`` refuses (there is no per-record
    commit time to surface) and the incremental query attributes at
    file-slice grain (see read_hudi). Refuses an existing ``.hoodie``
    before the source is read, then partitioned or deleted-from
    inventories (`convert.refuse_layout`: a base file keeps partition
    columns and cannot express deletes) and a record key outside the
    schema."""
    meta_dir = os.path.join(table_path, ".hoodie")
    if os.path.isdir(meta_dir):
        raise FileExistsError(f"{table_path}: already a Hudi table")
    inv = source(spark, table_path)
    refuse_layout(inv, table_path, "Hudi", NotImplementedError)
    if record_key not in inv.schema.fieldNames():
        raise ValueError(
            f"{table_path}: record key {record_key!r} not in the "
            f"{inv.format} schema"
        )
    os.makedirs(meta_dir)
    _write_props(
        os.path.join(meta_dir, "hoodie.properties"),
        {
            "hoodie.table.name": os.path.basename(
                os.path.normpath(table_path)
            ),
            "hoodie.table.type": "COPY_ON_WRITE",
            "hoodie.table.version": "6",
            "hoodie.timeline.layout.version": "1",
            "hoodie.table.recordkey.fields": record_key,
            "hoodie.table.partition.fields": "",
            "hoodie.populate.meta.fields": "false",
        },
    )
    instant = f"{_INSTANT0:017d}"
    stats = [
        {
            "fileId": os.path.splitext(os.path.basename(f.path))[0],
            "path": rel_path(table_path, f.path),
            "prevCommit": "null",
            "numWrites": None,
            "fileSizeInBytes": os.path.getsize(f.path),
        }
        for f in inv.files
    ]
    for phase in ("requested", "inflight"):
        open(os.path.join(meta_dir, f"{instant}.commit.{phase}"), "w").close()
    with open(
        os.path.join(meta_dir, f"{instant}.commit"), "w", encoding="utf-8"
    ) as fh:
        json.dump(
            {
                "operationType": "BULK_INSERT",
                "partitionToWriteStats": {"": stats},
            },
            fh,
            indent=2,
            sort_keys=True,
        )
    return instant
