"""Apache Iceberg table interop: read (`read_iceberg`,
`spark.read.format("iceberglog")`, snapshot time travel) and append
(`IcebergWriter`: create/append emitting the spec's full metadata
chain with O_EXCL metadata-version commits).

Pure-Python parse of the published Iceberg table spec's metadata
chain — no iceberg-spark jar required:

    metadata/vN.metadata.json   table metadata: schemas, snapshots
      └─ snapshot.manifest-list (Avro)  one row per live manifest
           └─ manifest file    (Avro)  entries: status + data_file

The nested-Avro manifests are decoded with the engine's own
spec-complete datum codec (sources/avro_ocf.py, read_ocf_generic).
Entry semantics per the spec: status 0=EXISTING, 1=ADDED, 2=DELETED;
a snapshot's live file set is every non-DELETED entry across the
manifests its manifest-list names. EXTERNAL Iceberg data files carry
all columns, so spec-less (and foreign identity-partitioned) tables
read as a single native multi-path parquet scan; THIS engine's
identity-partitioned writes omit the source columns (the spec's
column-projection rule) and every read path re-attaches them from
the typed manifest partition records — the same layout Delta uses.

Scale posture: metadata work is proportional to manifest count (KBs
of Avro per manifest, same work iceberg-spark's own planning does
driver-side); data reading stays native vectorized parquet. The
Python DataSource wrapper exists for reader-API parity; `read_iceberg`
is the 100 TB path. snapshotId option gives time travel.
"""

from __future__ import annotations

import json
import os
import time as _time
import uuid

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints under
# `from __future__ import annotations` (string hints eval in module globals)
from pyspark.sql import functions as F
from pyspark.sql import types as T

from plankton_spark.filestats import _reject_empty_string_partitions
from plankton_spark.sources import positions
from plankton_spark.sources import puffin as _puffin
from plankton_spark.sources import rewrite as rw
from plankton_spark.sources import stage
from plankton_spark.sources.pyread import (
    FilePart,
    FileReader,
    TableSource,
    VersionedStreamReader,
    by_field_id,
    file_batches,
)
from plankton_spark.sources.assemble import local_frame
from plankton_spark.sources.avro_ocf import read_ocf_generic, write_ocf_generic
from plankton_spark.sources.convert import Inventory, LiveFile, pv_str, rel_path


def _iceberg_type_to_spark(t) -> T.DataType:
    if isinstance(t, dict):
        raise ValueError(f"nested iceberg types not supported yet: {t!r}")
    prim = {
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "string": T.StringType(),
        "date": T.DateType(),
        "timestamp": T.TimestampNTZType(),
        "timestamptz": T.TimestampType(),
        "binary": T.BinaryType(),
        "uuid": T.StringType(),
    }
    if t in prim:
        return prim[t]
    if t.startswith("decimal("):
        p, s = t[len("decimal(") : -1].split(",")
        return T.DecimalType(int(p), int(s))
    raise ValueError(f"unsupported iceberg type: {t!r}")


class IcebergTable:
    """Metadata-chain reader for one Iceberg table directory."""

    def __init__(self, table_path: str):
        self.table_path = table_path
        self.meta_dir = os.path.join(table_path, "metadata")
        if not os.path.isdir(self.meta_dir):
            raise FileNotFoundError(f"not an Iceberg table (no metadata/): {table_path}")
        self.metadata = self._load_current_metadata()
        # decoded Avro rows by path, and the field-id footer probe by
        # snapshot: manifest lists and manifests are immutable once
        # written (every commit writes new, uniquely named files), so
        # a verb holding this object decodes each of them at most once
        self._decoded: dict[str, list[dict]] = {}
        self._carries_ids: dict[int, bool] = {}

    def _load_current_metadata(self) -> dict:
        # NOTE: version-hint is advisory (it can lag a just-committed
        # writer); always trust the highest vN.metadata.json present so
        # an OCC reader/rebaser sees the true latest state. Records the
        # loaded version in self.metadata_version — a writer must commit
        # to exactly metadata_version + 1 (see IcebergWriter.append).
        versions = sorted(
            int(f[1:].split(".")[0])
            for f in os.listdir(self.meta_dir)
            if f.startswith("v") and f.endswith(".metadata.json")
        )
        if not versions:
            raise FileNotFoundError(f"no vN.metadata.json in {self.meta_dir}")
        self.metadata_version = versions[-1]
        path = os.path.join(self.meta_dir, f"v{versions[-1]}.metadata.json")
        with open(path) as f:
            return json.load(f)

    def _current_ice_schema(self) -> dict:
        md = self.metadata
        schemas = md.get("schemas")
        if schemas:
            current = md.get("current-schema-id", 0)
            return next(s for s in schemas if s.get("schema-id") == current)
        return md["schema"]  # format v1 single-schema layout

    def schema(self, with_field_ids: bool = False) -> T.StructType:
        """Current schema as a Spark StructType. `with_field_ids`
        additionally carries each Iceberg field id as
        `parquet.field.id` metadata — with
        spark.sql.parquet.fieldId.read.enabled the parquet reader then
        resolves columns BY ID, which is what makes Iceberg renames
        safe (old files keep old physical names; the id is stable)."""
        ice = self._current_ice_schema()
        return T.StructType(
            [
                T.StructField(
                    f["name"],
                    _iceberg_type_to_spark(f["type"]),
                    not f.get("required", False),
                    {"parquet.field.id": f["id"]} if with_field_ids else None,
                )
                for f in ice["fields"]
            ]
        )

    def field_ids(self) -> dict[str, int]:
        """Current-schema column name → Iceberg field id."""
        return {
            f["name"]: f["id"] for f in self._current_ice_schema()["fields"]
        }

    def files_carry_field_ids(self, snapshot_id: int | None = None) -> bool:
        """True when the snapshot's data files store parquet field ids
        (probed from ONE footer — the spec requires writers to be
        consistent; a mixed table errors honestly at scan time when
        id-resolution meets an id-less file)."""
        import pyarrow.parquet as _pq

        sid = self._snapshot(snapshot_id)["snapshot-id"]
        if sid not in self._carries_ids:
            entries = self.scan_entries_full(sid)[0]
            self._carries_ids[sid] = bool(entries) and any(
                f.metadata and b"PARQUET:field_id" in f.metadata
                for f in _pq.read_schema(entries[0][0])
            )
        return self._carries_ids[sid]

    def properties(self) -> dict:
        """Current metadata['properties'] (empty map when unset)."""
        return dict(self.metadata.get("properties") or {})

    def snapshots(self) -> list[dict]:
        return self.metadata.get("snapshots", [])

    def _snapshot(self, snapshot_id: int | None) -> dict:
        snaps = self.snapshots()
        if not snaps:
            raise ValueError(f"{self.table_path}: no snapshots")
        if snapshot_id is None:
            current = self.metadata.get("current-snapshot-id")
            sel = [s for s in snaps if s["snapshot-id"] == current]
            return sel[0] if sel else snaps[-1]
        sel = [s for s in snaps if s["snapshot-id"] == snapshot_id]
        if not sel:
            raise ValueError(f"{self.table_path}: unknown snapshot {snapshot_id}")
        return sel[0]

    def _resolve(self, path: str) -> str:
        """Manifest/data paths in metadata may be absolute URIs from the
        writing engine; re-root them under this table directory."""
        if os.path.isabs(path) and os.path.exists(path):
            return path
        for marker in ("/metadata/", "/data/"):
            if marker in path:
                rel = path.split(marker, 1)[1]
                return os.path.join(self.table_path, marker.strip("/"), rel)
        return os.path.join(self.table_path, path.lstrip("/"))

    def partition_fields(self, strict: bool = False) -> list[str]:
        """IDENTITY-transform partition field names — the subset whose
        values the read paths re-attach from manifest metadata (this
        engine's identity layout omits the source columns; external
        identity files carry them, and attaching the same value is a
        no-op). Transform fields (day, bucket, ...) are derived
        columns: their SOURCE columns always live in the data files,
        so they never need attaching. strict=True additionally rejects
        transforms the writer can't stage (anything but identity/day) —
        readers never raise."""
        spec = self.partition_spec()
        if strict:
            bad = [
                f
                for f in spec
                if _norm_transform(f.get("transform", "identity"))[0]
                not in _WRITER_TRANSFORMS
            ]
            if bad:
                raise ValueError(
                    f"{self.table_path}: unsupported partition transforms "
                    f"{[f['transform'] for f in bad]}"
                )
        return [
            f["name"]
            for f in spec
            if f.get("transform", "identity") == "identity"
        ]

    def partition_spec(self) -> list[dict]:
        """The full partition-spec field list (name, transform,
        source-id, field-id) — transforms included, unlike
        partition_fields which is the identity-attach subset.

        Resolution order per the spec: the legacy top-level
        'partition-spec' when present, else 'partition-specs' by
        'default-spec-id' — v2 metadata (and some v1 writers) carry
        ONLY the latter, and treating them as spec-less would stage
        unpartitioned files into a partitioned external table
        (ADVICE r6 #2)."""
        md = self.metadata
        spec = md.get("partition-spec")
        if spec is None:
            specs = md.get("partition-specs")
            if specs:
                sid = md.get("default-spec-id", 0)
                match = next(
                    (s for s in specs if s.get("spec-id") == sid), None
                )
                if match is None:
                    raise ValueError(
                        f"{self.table_path}: default-spec-id {sid} not in "
                        f"partition-specs {[s.get('spec-id') for s in specs]}"
                    )
                spec = match.get("fields")
        return list(spec or [])

    def partition_spec_for(self, spec_id: int) -> list[dict]:
        """Partition-spec fields for a SPECIFIC spec id — after
        partition evolution a snapshot's live manifests span several
        specs and each file's partition record is shaped by its
        manifest's spec, not the default."""
        md = self.metadata
        specs = md.get("partition-specs")
        if specs:
            match = next(
                (s for s in specs if s.get("spec-id") == spec_id), None
            )
            if match is not None:
                return list(match.get("fields") or [])
        if spec_id == md.get("default-spec-id", 0):
            return self.partition_spec()
        raise ValueError(
            f"{self.table_path}: manifest references partition spec "
            f"{spec_id}, not present in table metadata"
        )

    def partition_fields_for(self, spec_id: int) -> list[str]:
        """Identity-attach partition column names for a specific spec
        (the per-spec twin of partition_fields)."""
        return [
            f["name"]
            for f in self.partition_spec_for(spec_id)
            if f.get("transform", "identity") == "identity"
        ]

    def source_column(self, spec_field: dict) -> str:
        """Source column name for a spec field (by source-id),
        resolved against the CURRENT schema — external metadata keeps
        historical schemas and does not order them, so schemas[-1]
        could name the id differently."""
        sid = spec_field.get("source-id")
        for f in self._current_ice_schema()["fields"]:
            if f["id"] == sid:
                return f["name"]
        raise ValueError(
            f"{self.table_path}: no schema field with id {sid} for "
            f"partition field {spec_field.get('name')!r}"
        )

    def scan_entries(
        self, snapshot_id: int | None = None
    ) -> tuple[list[tuple[str, dict]], list[str]]:
        """Live ((abs_path, partition values) data entries, position-
        delete file paths) at a snapshot, across data manifests
        (content=0) and delete manifests (content=1). Equality delete
        files (data_file.content=2) raise on THIS surface — every
        caller of scan_entries applies deletes by exact file identity
        only; the equality-aware path is read_iceberg via
        scan_entries_full, which resolves sequence numbers."""
        data, pos, eq, dv = self.scan_entries_full(snapshot_id)
        if dv:
            raise ValueError(
                f"{self.table_path}: iceberg v3 deletion vectors "
                "present — this access path cannot apply them and "
                "reading around them would resurrect rows; use "
                "read_iceberg() (DV-aware)"
            )
        if eq:
            raise ValueError(
                f"{self.table_path}: iceberg equality delete files "
                "(content=2) present — this access path cannot apply "
                "them and reading around them would resurrect rows; "
                "use read_iceberg() (equality-delete-aware)"
            )
        return [(p, pv) for p, pv, _seq, _sid in data], pos

    def _avro(self, path: str) -> list[dict]:
        """The rows of one manifest list or manifest, decoded once per
        instance — the only Avro read of the metadata chain."""
        rows = self._decoded.get(path)
        if rows is None:
            rows = self._decoded[path] = list(read_ocf_generic(path))
        return rows

    def manifest_list(self, snapshot_id: int | None = None) -> list[dict]:
        """A snapshot's manifest-list records."""
        return self._avro(self._resolve(self._snapshot(snapshot_id)["manifest-list"]))

    def manifests(self, snapshot_id: int | None = None) -> list[tuple[dict, list[dict]]]:
        """[(manifest-list record, its manifest's entries)] of a
        snapshot: the one manifest walk every scan, lineage map,
        commit and metadata table derives from."""
        return [
            (m, self._avro(self._resolve(m["manifest_path"])))
            for m in self.manifest_list(snapshot_id)
        ]

    def _live(self, snapshot_id: int | None):
        """(manifest record, data_file, absolute path, data sequence
        number, first_row_id) for each live (non-DELETED) entry of a
        snapshot, each file once.

        Dedup key: one Puffin file legitimately holds many DV blobs
        (one manifest entry per blob, same file_path, distinct
        content_offset), so those key by (path, offset); plain files
        by path. Sequence numbers follow the spec's inheritance rule:
        an entry's null/absent ``sequence_number`` inherits its
        manifest's from the manifest-list record (v1 metadata has
        neither — everything resolves to 0, which is consistent
        because v1 cannot contain delete files). A data file's null
        ``first_row_id`` inherits the manifest-list record's
        ``first_row_id`` plus the record counts of the inheriting
        data entries before it in that manifest (the common foreign
        layout: ids per manifest, nulls per file); None when neither
        level carries one."""
        seen: set = set()
        for m, entries in self.manifests(snapshot_id):
            m_seq, m_frid = m.get("sequence_number"), m.get("first_row_id")
            acc = 0  # record counts of the preceding inheriting entries
            for entry in entries:
                if entry["status"] == 2:  # DELETED
                    continue
                df = entry["data_file"]
                content = df.get("content", 0)
                frid = df.get("first_row_id") if content == 0 else None
                if content == 0 and frid is None and m_frid is not None:
                    frid = int(m_frid) + acc
                    acc += int(df["record_count"])
                path = self._resolve(df["file_path"])
                key = (path, df.get("content_offset") if content == 1 else None)
                if key in seen:
                    continue
                seen.add(key)
                e_seq = entry.get("sequence_number")
                if e_seq is None:
                    e_seq = m_seq if m_seq is not None else 0
                yield m, df, path, int(e_seq), frid

    def scan_entries_full(self, snapshot_id: int | None = None) -> tuple[
        list[tuple[str, dict, int, int]],
        list[str],
        list[tuple[str, tuple[int, ...], int]],
        list[tuple[str, str, int, int, int]],
    ]:
        """Live scan entries at a snapshot with v2 sequence numbers:
        (data [(abs_path, partition, data_seq, spec_id)],
        position-delete paths, equality deletes
        [(abs_path, equality_ids, delete_seq)], deletion vectors
        [(abs_puffin_path, referenced_data_file, content_offset,
        content_size_in_bytes, cardinality)]).

        Deletion vectors are the v3 position-delete representation:
        a content=1 entry whose file_format is PUFFIN and which
        carries referenced_data_file + content_offset +
        content_size_in_bytes pointing at one deletion-vector-v1 blob
        (sources/puffin.py). The v2 parquet (file_path, pos) form and
        the v3 DV form can coexist in one snapshot during migration;
        read_iceberg applies both.

        ``spec_id`` is the manifest's partition_spec_id — after
        partition evolution, live data files span multiple specs and
        each entry's partition record is shaped by ITS manifest's
        spec, not the table default (read_iceberg groups by it).
        Sequence numbers resolve as `_live` documents. Equality
        delete files must declare ``equality_ids``; a content=2 entry
        without them is unreadable and refuses loudly."""
        out: list[tuple[str, dict, int, int]] = []
        pos_deletes: list[str] = []
        eq_deletes: list[tuple[str, tuple[int, ...], int]] = []
        dv_deletes: list[tuple[str, str, int, int, int]] = []
        for m, df, path, e_seq, _frid in self._live(snapshot_id):
            content = df.get("content", 0)
            if content == 0:
                out.append(
                    (
                        path,
                        df.get("partition") or {},
                        e_seq,
                        int(m.get("partition_spec_id") or 0),
                    )
                )
            elif content == 1:  # position deletes (v2 file or v3 DV)
                # DV classification keys on PUFFIN format or a blob
                # offset — NOT bare referenced_data_file, which the
                # v2 spec also allows on plain parquet position-
                # delete files (file-scoped deletes from the Java
                # writer); those must keep the v2 path (round-9
                # review #3)
                fmt = str(df.get("file_format") or "").upper()
                ref = df.get("referenced_data_file")
                off = df.get("content_offset")
                if fmt == "PUFFIN" or off is not None:
                    sz = df.get("content_size_in_bytes")
                    if ref is None or off is None or sz is None:
                        raise ValueError(
                            f"{self.table_path}: deletion-vector "
                            f"entry {df['file_path']!r} must carry "
                            "referenced_data_file + content_offset "
                            "+ content_size_in_bytes (v3 spec)"
                        )
                    rc = df.get("record_count")
                    dv_deletes.append(
                        (
                            path,
                            str(ref),
                            int(off),
                            int(sz),
                            # -1 = unknown (spec-violating foreign
                            # entry): must never read as "tiny"
                            int(rc) if rc is not None else -1,
                        )
                    )
                else:
                    pos_deletes.append(path)
            elif content == 2:  # equality deletes
                ids = df.get("equality_ids")
                if not ids:
                    raise ValueError(
                        f"{self.table_path}: equality delete file "
                        f"{df['file_path']!r} declares no "
                        "equality_ids — unreadable per spec"
                    )
                eq_deletes.append((path, tuple(int(i) for i in ids), e_seq))
            else:
                raise ValueError(
                    f"{self.table_path}: unknown data_file content "
                    f"kind {content!r}"
                )
        return (
            sorted(out),
            sorted(pos_deletes),
            sorted(eq_deletes),
            sorted(dv_deletes),
        )

    def first_row_ids(self, snapshot_id: int | None = None) -> dict[str, int]:
        """v3 ROW LINEAGE: live data files' assigned ``first_row_id``
        at a snapshot, keyed by absolute path, with the spec's
        inheritance rule (`_live`). Raises only when NEITHER level
        carries an id — lineage is either derivable for the WHOLE
        snapshot or not readable at all (a rewrite by a
        non-lineage-preserving op, or a pre-v3 table)."""
        out: dict[str, int] = {}
        for _m, df, path, _seq, frid in self._live(snapshot_id):
            if df.get("content", 0) != 0:
                continue
            if frid is None:
                raise ValueError(
                    f"{self.table_path}: data file "
                    f"{df['file_path']!r} carries no first_row_id "
                    "(and its manifest-list entry carries none to "
                    "inherit from) — row lineage is not tracked "
                    "for this snapshot (pre-v3 table, or files "
                    "rewritten by a non-lineage-preserving "
                    "operation)"
                )
            out[path] = int(frid)
        return out

    def field_name_by_id(self, fid: int) -> str:
        """Current-schema column name for an Iceberg field id (used to
        resolve equality_ids; renames keep ids stable, so this maps a
        foreign writer's delete key to today's column name)."""
        for f in self._current_ice_schema()["fields"]:
            if f["id"] == fid:
                return f["name"]
        raise ValueError(
            f"{self.table_path}: no current-schema field with id {fid} "
            "(equality delete references a dropped column?)"
        )

    def data_entries(
        self, snapshot_id: int | None = None
    ) -> list[tuple[str, dict]]:
        """Live (abs_path, partition values) at a snapshot — the PLAIN
        whole-files view. When the snapshot carries position-delete
        files, whole-file access would resurrect deleted rows, so this
        raises and points at the delete-aware read_iceberg (the same
        conservative posture as delta_log.DeltaLog.snapshot)."""
        entries, deletes = self.scan_entries(snapshot_id)
        if deletes:
            raise ValueError(
                f"{self.table_path}: {len(deletes)} position-delete "
                "file(s) present; this whole-file access path would "
                "resurrect deleted rows — use read_iceberg() (delete-"
                "aware) for reads, and a v2-capable writer for rewrites"
            )
        return entries

    def data_files(self, snapshot_id: int | None = None) -> list[str]:
        """Live data files at a snapshot (paths only)."""
        return [p for p, _ in self.data_entries(snapshot_id)]


# v3 ROW LINEAGE reserved metadata columns: when a writer REWRITES
# rows that already have identities (compaction), it must materialize
# their values into the new data files under these spec names /
# reserved parquet field ids — inheritance (first_row_id + position)
# would otherwise assign new identities. Readers take the materialized
# value when non-null, the inherited default otherwise.
_ROW_ID_COL = "_row_id"
_ROW_ID_FIELD_ID = 2147483540
_LAST_SEQ_COL = "_last_updated_sequence_number"
_LAST_SEQ_FIELD_ID = 2147483539


def _lineage_fields(use_ids: bool) -> list[T.StructField]:
    """The two lineage columns under their reserved names, carrying
    their reserved parquet field ids when the table's files resolve
    by id."""
    return [
        T.StructField(
            name, T.LongType(), True, {"parquet.field.id": fid} if use_ids else None
        )
        for name, fid in ((_ROW_ID_COL, _ROW_ID_FIELD_ID), (_LAST_SEQ_COL, _LAST_SEQ_FIELD_ID))
    ]


def _initial_defaults(t: "IcebergTable") -> dict[str, object]:
    """{column: initial-default} for current-schema fields carrying
    the v3 ``initial-default`` key — empty on every pre-v3 table, so
    the common read path pays nothing."""
    return {
        f["name"]: f["initial-default"]
        for f in t._current_ice_schema()["fields"]
        if "initial-default" in f
    }


def _defaults_filled_read(spark, t, schema, part_cols, entries, dflt):
    """Per-file-exact initial-default fill: group the live files by
    WHICH defaulted columns their footers lack (id-resolved when the
    file carries parquet field ids, by name otherwise — rename-safe
    where possible), scan each group once, overwrite the whole
    missing column with the default literal, union. Footer probes are
    O(live files) driver metadata — the same budget every stats read
    here already spends; group count is bounded by the number of
    ALTERs, not files."""
    import pyarrow.parquet as _pq

    fids = t.field_ids()
    groups: dict[frozenset, list] = {}
    for p, pv in entries:
        sch = _pq.read_schema(p)
        present_ids = {
            int(f.metadata[b"PARQUET:field_id"])
            for f in sch
            if f.metadata and b"PARQUET:field_id" in f.metadata
        }
        names = set(sch.names)
        missing = frozenset(
            n
            for n in dflt
            if not (
                (fids.get(n) in present_ids) if present_ids else (n in names)
            )
        )
        groups.setdefault(missing, []).append((p, pv))
    out_cols = [f.name for f in schema.fields]
    by_name = {f.name: f for f in schema.fields}
    frames = []
    for missing, group in sorted(groups.items(), key=lambda kv: sorted(kv[0])):
        if part_cols:
            g = _assemble_iceberg(spark, schema, part_cols, group)
        else:
            g = spark.read.schema(schema).parquet(*[p for p, _ in group])
        for n in sorted(missing):
            g = g.withColumn(n, F.lit(dflt[n]).cast(by_name[n].dataType))
        frames.append(g.select(out_cols))
    out = frames[0]
    for g in frames[1:]:
        out = out.unionByName(g)
    return out


def read_iceberg(
    spark,
    table_path: str,
    snapshot_id: int | None = None,
    ref: str | None = None,
    timestamp_ms: int | None = None,
    with_lineage: bool = False,
):
    """Native-parquet read of an Iceberg table at a snapshot (default:
    current). Spec-less tables are one multi-path vectorized scan;
    identity-partitioned tables assemble per partition tuple with the
    partition values re-attached from the manifest metadata (the
    spec's column-projection rule — this engine's partitioned files
    omit the source columns, like Delta's layout). `ref` reads the
    snapshot a named tag/branch (metadata['refs'], IcebergWriter
    .set_ref) points at — mutually exclusive with `snapshot_id`.

    Format-v2 POSITION deletes are honored: delete manifests' parquet
    files ((file_path, pos) rows) scan natively and drop the marked
    rows from the data scan via a `_metadata.row_index` anti-join —
    fully distributed, broadcast when the delete set is small.
    Equality deletes raise (scan_entries).

    ``with_lineage=True`` projects the v3 ROW-LINEAGE metadata columns
    ``_row_id`` (the file's assigned first_row_id + the row's physical
    position — stable across DV deletes, which never rewrite data
    files) and ``_last_updated_sequence_number`` (the data file's data
    sequence number, inherited per the spec's rule). Requires every
    live data file to carry first_row_id (IcebergTable.first_row_ids
    refuses otherwise). The per-file lineage map is manifest metadata
    (one row per live file) joined broadcast onto the scan — no extra
    data pass at any scale."""
    t = IcebergTable(table_path)
    if sum(x is not None for x in (snapshot_id, ref, timestamp_ms)) > 1:
        raise ValueError("pass at most one of snapshot_id / ref / timestamp_ms")
    if ref is not None:
        refs = t.metadata.get("refs") or {}
        if ref not in refs:
            raise ValueError(
                f"{table_path}: no ref {ref!r} (known: {sorted(refs)})"
            )
        snapshot_id = refs[ref]["snapshot-id"]
    if timestamp_ms is not None:
        # AS OF TIMESTAMP: the last snapshot committed at or before t
        # (snapshots carry real epoch timestamp-ms; list order is
        # commit order, breaking same-millisecond ties)
        eligible = [
            s
            for s in (t.metadata.get("snapshots") or [])
            if s.get("timestamp-ms", 0) <= timestamp_ms
        ]
        if not eligible:
            raise ValueError(
                f"{table_path}: no snapshot at or before "
                f"timestamp_ms={timestamp_ms} (earliest retained: "
                f"{min((s.get('timestamp-ms', 0) for s in t.metadata.get('snapshots') or []), default=None)})"
            )
        snapshot_id = eligible[-1]["snapshot-id"]
    return _read_snapshot(spark, t, snapshot_id, with_lineage)


def _read_snapshot(spark, t: IcebergTable, snapshot_id: int | None, with_lineage=False):
    """`read_iceberg` of snapshot `snapshot_id` over the opened table
    `t`, so a writer that holds one reads through its walk."""
    use_ids = t.files_carry_field_ids(snapshot_id)
    schema = t.schema(with_field_ids=use_ids)
    if use_ids:
        # resolution by Iceberg field id (rename-safe): the conf is
        # read at EXECUTION time and only affects scans whose read
        # schema explicitly carries parquet.field.id metadata, so
        # leaving it on session-wide is side-effect-free
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    full, pos_dels, eq_dels, dv_dels = t.scan_entries_full(snapshot_id)
    if not full:
        empty_schema = t.schema()
        if with_lineage:
            empty_schema = T.StructType(
                list(empty_schema.fields)
                + [
                    T.StructField("_row_id", T.LongType()),
                    T.StructField(
                        "_last_updated_sequence_number", T.LongType()
                    ),
                ]
            )
        return local_frame(spark, [], empty_schema)
    spec_ids = sorted({sid for _p, _pv, _seq, sid in full})
    lineage = None
    lineage_fields = None
    if with_lineage:
        clash = sorted(
            {_ROW_ID_COL, _LAST_SEQ_COL} & {f.name for f in schema.fields}
        )
        if clash:
            raise ValueError(
                f"{t.table_path}: data columns {clash} collide with "
                "the v3 reserved lineage metadata columns"
            )
        # files REWRITTEN by an id-preserving op (optimize) carry the
        # original identities MATERIALIZED under the reserved names /
        # field ids; older files lack the columns and read NULL, so
        # the projection coalesces per the spec. Field-id metadata
        # rides only when the table's files resolve by id.
        lineage_fields = _lineage_fields(use_ids)
        frids = t.first_row_ids(snapshot_id)
        # the scan's join key is the file BASENAME (same identity rule
        # as position deletes) — collisions would mis-attribute lineage
        if len({os.path.basename(p) for p in frids}) != len(frids):
            raise ValueError(
                f"{t.table_path}: duplicate data-file basenames across "
                "directories — row-lineage attribution would be ambiguous"
            )
        lineage = {
            os.path.basename(p): (frids[p], int(seq))
            for p, _pv, seq, _sid in full
        }
    dflt = _initial_defaults(t)
    if dflt:
        # v3 DEFAULT VALUES: initial-default is a READ-TIME fill for
        # files written before the column existed — per-file exact
        # (footer presence decides; files carrying the column keep
        # their values, genuine NULLs included). Combination with
        # row-level deletes / lineage / multi-spec is refused, not
        # approximated (the fill needs the plain scan split).
        if pos_dels or eq_dels or dv_dels or lineage is not None:
            raise ValueError(
                f"{t.table_path}: initial-default columns combined "
                "with row-level deletes or lineage reads are not "
                "supported — OPTIMIZE first (rewritten files carry "
                "the column, retiring the default)"
            )
        if len(spec_ids) > 1:
            raise ValueError(
                f"{t.table_path}: initial-default columns over a "
                "multi-spec snapshot are not supported — compact to "
                "a single spec first"
            )
        return _defaults_filled_read(
            spark,
            t,
            schema,
            t.partition_fields_for(spec_ids[0]),
            [(p, pv) for p, pv, _seq, _sid in full],
            dflt,
        )
    if len(spec_ids) > 1:
        # PARTITION EVOLUTION: live files span several specs; each
        # group's partition record is shaped by its own spec, so
        # assemble per spec and union to the table schema. Metadata-
        # only evolution means old files keep their layout forever —
        # at 100 TB that's the point (no rewrite), and per-group
        # assembly keeps every group's scan partition-prunable on its
        # own identity columns.
        if pos_dels or eq_dels or dv_dels or lineage is not None:
            # round 12: deletes are SPEC-AGNOSTIC — position/DV
            # deletes key on file basename, equality deletes on
            # value + data sequence — so the per-spec union scan
            # (positions attached) feeds the exact same subtraction
            # the single-spec path uses. Round 13 composes LINEAGE
            # too (the last multi-spec refusal): lineage is likewise
            # spec-agnostic — a per-file (first_row_id, data_seq) map
            # joined on basename over the positioned scan, with
            # materialized columns in the per-spec read schema
            # winning (compacted files) — so the same pre-assembled
            # scan feeds the single-spec lineage tail unchanged.
            data_seq = {os.path.basename(p): s for p, _pv, s, _sid in full}
            if eq_dels and len(data_seq) != len(full):
                raise ValueError(
                    f"{t.table_path}: duplicate data-file basenames "
                    "across directories — equality-delete sequencing "
                    "would be ambiguous"
                )
            ms_schema = schema
            if lineage is not None and lineage_fields:
                ms_schema = T.StructType(
                    list(schema.fields) + list(lineage_fields)
                )
            scan = _assemble_multispec(
                spark, t, ms_schema, full, with_pos=True
            )
            return _posdelete_filtered_read(
                spark,
                t,
                schema,
                [],
                [(p, pv) for p, pv, _sq, _sid in full],
                pos_dels,
                eq_deletes=eq_dels,
                data_seq=data_seq,
                dv_deletes=dv_dels,
                lineage=lineage,
                lineage_fields=lineage_fields,
                scan=scan,
            )
        out_cols = [f.name for f in schema.fields]
        frames = []
        for sid in spec_ids:
            group = [
                (p, pv) for p, pv, _seq, s in full if s == sid
            ]
            pcols = t.partition_fields_for(sid)
            if not pcols:
                g = spark.read.schema(schema).parquet(
                    *[p for p, _ in group]
                )
            else:
                g = _assemble_iceberg(spark, schema, pcols, group)
            frames.append(g.select(out_cols))
        out = frames[0]
        for g in frames[1:]:
            out = out.unionByName(g)
        return out
    # single spec: resolve partition columns from the ENTRIES' spec,
    # not the default — after evolution with no new data yet, the
    # default spec doesn't describe the live files
    part_cols = t.partition_fields_for(spec_ids[0])
    entries = [(p, pv) for p, pv, _seq, _sid in full]
    if not pos_dels and not eq_dels and not dv_dels and lineage is None:
        if not part_cols:
            return spark.read.schema(schema).parquet(*[p for p, _ in entries])
        return _assemble_iceberg(spark, schema, part_cols, entries)
    # keyed by basename because the scan's __pd_file column is the
    # basename (position deletes match on it); writers name data files
    # uniquely (uuid-suffixed), but a collision across partition dirs
    # would silently mis-sequence equality deletes — refuse instead
    data_seq = {os.path.basename(p): s for p, _pv, s, _sid in full}
    if eq_dels and len(data_seq) != len(full):
        raise ValueError(
            f"{t.table_path}: duplicate data-file basenames across "
            "directories — equality-delete sequencing would be "
            "ambiguous"
        )
    return _posdelete_filtered_read(
        spark, t, schema, part_cols, entries, pos_dels,
        eq_deletes=eq_dels, data_seq=data_seq, dv_deletes=dv_dels,
        lineage=lineage, lineage_fields=lineage_fields,
    )


def _position_deletes(spark, pos_dels, dv_dels):
    """The positions a snapshot's v2 position-delete files `pos_dels`
    and v3 deletion vectors `dv_dels` (scan_entries_full shapes) mark,
    as `positions.live` deletes. Both forms, legal to coexist
    mid-migration, subtract through the same anti-join. Delete files
    may reference absolute foreign URIs while the local resolve
    re-roots, so both sides key on the file basename. The parquet
    form is a native scan whose cardinality is its footers' row
    count; the DVs decode on executors, cardinality-checked against
    their manifest entries."""
    out = []
    if pos_dels:
        import pyarrow.parquet as _pq

        frame = (
            spark.read.schema("file_path string, pos long")
            .parquet(*pos_dels)
            .select(
                positions.basename(F.col("file_path")).alias("__pd_file"),
                F.col("pos").alias("__pd_ridx"),
            )
        )
        out.append((frame, [_pq.read_metadata(p).num_rows for p in pos_dels]))
    if dv_dels:
        out.append(
            positions.vectors(
                spark,
                [
                    (
                        os.path.basename(ref.rstrip("/")),
                        f"{p!r} (offset {int(off)})",
                        [p, int(off), int(sz)],
                        int(card),
                    )
                    for p, ref, off, sz, card in dv_dels
                ],
                _puffin.dv_indexes,
            )
        )
    return out


def _posdelete_filtered_read(
    spark, t: "IcebergTable", schema, part_cols, entries, delete_files,
    eq_deletes=(), data_seq=None, dv_deletes=(), lineage=None,
    lineage_fields=None, scan=None,
):
    """Data scan minus the rows position-delete files, deletion
    vectors (`_position_deletes`) and equality deletes mark, with the
    v3 lineage columns projected when `lineage` = {basename:
    (first_row_id, data_seq)} is given (materialized values in
    `lineage_fields` win). Callers may pass a pre-assembled positioned
    `scan` (the multi-spec per-spec union): the subtraction only needs
    its position columns. It is shuffle-or-broadcast work; only the
    DV decode runs Python, one input row per vector."""
    if scan is None:
        scan = _assemble_iceberg(
            spark,
            T.StructType(list(schema.fields) + list(lineage_fields or []))
            if lineage is not None
            else schema,
            part_cols,
            entries,
            with_pos=True,
        )
    positions.basenames(
        (p for p, _pv in entries),
        lambda b: ValueError(
            f"{t.table_path}: cannot key position-delete joins by "
            f"file basename: duplicate or URI-unsafe name {b!r}"
        ),
    )
    scan = positions.live(scan, _position_deletes(spark, delete_files, dv_deletes))
    if eq_deletes:
        scan = _apply_equality_deletes(
            spark, t, schema, scan, eq_deletes, data_seq or {}
        )
    out_cols = schema.fieldNames()
    if lineage is None:
        return scan.select(out_cols)
    names = ("_row_id", "_last_updated_sequence_number")
    mat = (_ROW_ID_COL, _LAST_SEQ_COL) if lineage_fields else (None, None)
    return positions.with_row_ids(spark, scan, lineage, names, mat).select(
        *out_cols, *names
    )


def _apply_equality_deletes(spark, t, schema, scan, eq_deletes, data_seq):
    """Subtract format-v2 EQUALITY deletes from a data scan that
    carries a ``__pd_file`` basename column.

    Spec semantics (Iceberg spec "Scan Planning"): a data row is
    deleted when an equality delete file whose data sequence number is
    STRICTLY GREATER than the data file's holds a row matching it on
    the delete file's equality_ids columns, with nulls matching nulls.
    "exists a matching delete with seq > data_seq" ≡ "MAX delete seq
    per key > data_seq", so each equality_ids group reduces to one
    keyed MAX-seq aggregate followed by one null-safe anti-join — the
    delete side is O(delete rows), broadcast when small, and the data
    path stays entirely JVM-side.

    equality_ids resolve to CURRENT column names by field id (renames
    keep ids stable, so a Flink writer's delete key still lands on the
    right column after a rename)."""
    from collections import defaultdict
    from functools import reduce as _reduce

    import pyspark.sql.types as T_

    groups: dict[tuple[int, ...], list[tuple[str, int]]] = defaultdict(list)
    for path, ids, seq in eq_deletes:
        groups[ids].append((path, seq))
    by_name = {f.name: f for f in schema.fields}
    seq_df = local_frame(
        spark,
        [(b, int(s)) for b, s in sorted(data_seq.items())],
        "__pd_file string, __data_seq long",
    )
    scan = scan.join(F.broadcast(seq_df), "__pd_file", "left")
    for ids, files in sorted(groups.items()):
        cols = [t.field_name_by_id(i) for i in ids]
        dels = None
        for path, seq in sorted(files):
            # resolve this delete file by field id only when ITS
            # footer carries parquet field ids — a delete file staged
            # without ids (e.g. our own delete_where_eq) read under an
            # id-carrying schema fails honestly, so probe per file and
            # strip the id metadata when absent (name resolution)
            import pyarrow.parquet as _pq

            fsch = _pq.read_schema(path)
            has_ids = any(
                f.metadata and b"PARQUET:field_id" in f.metadata
                for f in fsch
            )
            read_schema = T_.StructType(
                [
                    by_name[c]
                    if has_ids
                    else T_.StructField(
                        c, by_name[c].dataType, by_name[c].nullable
                    )
                    for c in cols
                ]
            )
            d = (
                spark.read.schema(read_schema)
                .parquet(path)
                .withColumn("__eq_seq", F.lit(int(seq)))
            )
            dels = d if dels is None else dels.unionByName(d)
        keyed = dels.groupBy(*cols).agg(F.max("__eq_seq").alias("__eq_seq"))
        total_bytes = sum(os.path.getsize(p) for p, _ in files)
        if total_bytes < 32 << 20:
            keyed = F.broadcast(keyed)
        cond = _reduce(
            lambda a, b: a & b,
            [scan[c].eqNullSafe(keyed[c]) for c in cols],
        ) & (keyed["__eq_seq"] > scan["__data_seq"])
        scan = scan.join(keyed, cond, "left_anti")
    return scan


def _assemble_multispec(
    spark, table, schema, full, with_file=False, with_pos=False
):
    """Live-file assembly that honors PARTITION EVOLUTION: group the
    ``scan_entries_full`` rows by partition-spec id and assemble each
    group against ITS spec's identity columns (read_iceberg's
    multi-spec rule), unioning to the table schema. Attaching the
    DEFAULT spec's columns across the board would strip old-spec
    files' CONTENT columns and overwrite them with NULL partition
    literals — a silent corruption mode (verified live, round 12)
    this per-spec split exists to prevent. Single-spec snapshots take
    exactly one group, so the common case pays nothing extra; this
    also fixes the evolve-with-no-new-data case, where the default
    spec doesn't describe the live files at all."""
    groups: dict[int, list] = {}
    for p, pv, _sq, sid in full:
        groups.setdefault(sid, []).append((p, pv))
    sel = (
        [f.name for f in schema.fields]
        + (["_f"] if with_file else [])
        + (["__pd_file", "__pd_ridx"] if with_pos else [])
    )
    frames = [
        _assemble_iceberg(
            spark,
            schema,
            table.partition_fields_for(sid),
            grp,
            with_file=with_file,
            with_pos=with_pos,
        ).select(*sel)
        for sid, grp in sorted(groups.items())
    ]
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


def _assemble_iceberg(
    spark,
    schema,
    part_cols,
    entries,
    with_file: bool = False,
    table_root: str | None = None,
    with_pos: bool = False,
):
    """Partitioned-read assembly — shared sources/assemble.py
    implementation (hive single-scan fast path). Iceberg manifest
    partition records carry TYPED values, so the fallback attaches
    plain literals."""
    import os as _os

    from pyspark.sql import functions as F

    from plankton_spark.sources.assemble import assemble_view

    if table_root is None and entries:
        # files live under <root>/data[/<col>=<val>...]; normalize to
        # absolute first and stop when dirname stops shrinking, so a
        # relative path or a layout with no data/ segment terminates
        # instead of spinning on '' (ADVICE r6 #3)
        table_root = _os.path.abspath(entries[0][0])
        while _os.path.basename(table_root) != "data":
            parent = _os.path.dirname(table_root)
            if parent == table_root:
                break
            table_root = parent
        table_root = _os.path.dirname(table_root)
    return assemble_view(
        spark,
        table_root or "",
        schema,
        part_cols,
        entries,
        lambda v, dtype: F.lit(v).cast(dtype),
        with_file,
        with_pos,
    )


class IcebergDataSource(TableSource):
    """`spark.read.format("iceberglog")` — options: path, snapshotId.
    Identity-partition source columns come from the manifest partition
    record (the spec's column projection — this writer's partitioned
    files omit them); other columns resolve by Iceberg FIELD ID (what
    keeps renamed columns reading their old files)."""

    NAME = "iceberglog"

    def schema(self):
        return IcebergTable(self.path).schema()

    def reader(self, schema) -> FileReader:
        t = IcebergTable(self.path)
        entries = t.data_entries(self.int_option("snapshotId"))
        return FileReader(
            [FilePart(p, pv) for p, pv in entries],
            t.schema(),
            by_field_id(t.field_ids()),
        )

    def streamReader(self, schema) -> "IcebergStreamReader":
        return IcebergStreamReader(self.path, self.ignore_changes())


def register(spark) -> None:
    spark.dataSource.register(IcebergDataSource)
    spark.dataSource.register(IcebergCdfDataSource)


# ---------------------------------------------------------------------
# Append support — new snapshots via the published metadata chain:
# stage parquet → author a manifest (Avro) → a manifest list naming
# prior live manifests + the new one → a new vN.metadata.json +
# version-hint. Commit atomicity = O_EXCL on the next metadata
# version file (the same swap real catalogs arbitrate).
# ---------------------------------------------------------------------


_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "added_snapshot_id", "type": ["null", "long"]},
    ],
}

# v2 manifest lists additionally mark each manifest's content kind
# (0 = data, 1 = deletes) — written once the table carries delete
# manifests (delete_where_pos); carried-forward records default to 0
_MANIFEST_FILE_SCHEMA_V2 = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "added_snapshot_id", "type": ["null", "long"]},
    ],
}

# format-v3 deletion-vector manifest entries: content=1 rows whose
# data_file carries referenced_data_file (spec id 143) +
# content_offset (144) + content_size_in_bytes (145) pointing at one
# deletion-vector-v1 blob inside a Puffin file
_DV_ENTRY_SCHEMA_V3 = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "r2dv",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {
                        "name": "partition",
                        "type": {
                            "type": "record",
                            "name": "r102dv",
                            "fields": [],
                        },
                    },
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {"name": "referenced_data_file", "type": ["null", "string"]},
                    {"name": "content_offset", "type": ["null", "long"]},
                    {"name": "content_size_in_bytes", "type": ["null", "long"]},
                ],
            },
        },
    ],
}

# once a table carries EQUALITY deletes, manifests additionally track
# their data sequence number (delete_seq > data_seq gates which files
# an equality delete applies to); entries inherit the manifest's
# number (scan_entries_full)
_MANIFEST_FILE_SCHEMA_V2SEQ = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": ["null", "long"]},
        {"name": "added_snapshot_id", "type": ["null", "long"]},
    ],
}


def _write_manifest_list(path: str, manifests: list[dict]) -> None:
    """Write a manifest list, preserving each record's content kind
    (0 = data, 1 = deletes) and sequence number when ANY carried
    record has one — a carried delete manifest must not be re-listed
    as data, and dropping a carried sequence number would silently
    widen an equality delete's reach on the next append. Plain tables
    keep the v1 record shape."""
    from plankton_spark.sources.avro_ocf import write_ocf_generic

    has_seq = any(m.get("sequence_number") is not None for m in manifests)
    if has_seq:
        manifests = [
            {
                **m,
                "content": m.get("content", 0),
                "sequence_number": m.get("sequence_number"),
            }
            for m in manifests
        ]
        write_ocf_generic(path, _MANIFEST_FILE_SCHEMA_V2SEQ, manifests)
    elif any("content" in m and m.get("content") for m in manifests):
        manifests = [{**m, "content": m.get("content", 0)} for m in manifests]
        write_ocf_generic(path, _MANIFEST_FILE_SCHEMA_V2, manifests)
    else:
        write_ocf_generic(path, _MANIFEST_FILE_SCHEMA, manifests)

# Spark partition-column types representable as Avro primitives in the
# manifest partition record. Date/timestamp/binary partition keys are
# rejected at write time (their spec encodings — days-since-epoch ints,
# micros longs — aren't implemented; an honest error beats a silently
# wrong manifest).
_PART_AVRO = {
    T.IntegerType: "int",
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.StringType: "string",
    T.BooleanType: "boolean",
}

# Transforms the WRITER can stage (readers never raise on foreign
# specs — transform fields are derived columns whose source columns
# live in the data files).
_WRITER_TRANSFORMS = {
    "identity",
    "day",
    "hour",
    "month",
    "year",
    "bucket",
    "truncate",
}


def _norm_transform(tr: str) -> tuple[str, int | None]:
    """Iceberg metadata transform string → (kind, param):
    'bucket[16]' → ('bucket', 16); 'days' → ('day', None); unknown
    strings pass through as (tr, None) so callers can report them."""
    import re as _re

    m = _re.fullmatch(r"(bucket|truncate)\[(\d+)\]", tr)
    if m:
        return m.group(1), int(m.group(2))
    return (
        {
            "days": "day",
            "hours": "hour",
            "dates": "day",
            "months": "month",
            "years": "year",
        }.get(tr, tr),
        None,
    )


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """32-bit Murmur3 (x86 variant), unsigned result — the hash the
    Iceberg spec mandates for the bucket transform (Appendix B).
    Pure Python; used driver-side for single predicate literals and
    as the scalar kernel of the staging UDF."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    rounded = n - (n % 4)
    for i in range(0, rounded, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[rounded:]
    if tail:
        k = 0
        for i, b in enumerate(tail):
            k |= b << (8 * i)
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def _bucket_of_long(v: int, n: int) -> int:
    """bucket[n] of an int/long/date(days)/timestamp(micros) value:
    the spec hashes ALL integer types as the 8-byte little-endian
    long (so bucket(34) == bucket(34L) across engines)."""
    h = murmur3_32(int(v).to_bytes(8, "little", signed=True))
    return (h & 0x7FFFFFFF) % n


def _bucket_of_str(v: str, n: int) -> int:
    h = murmur3_32(v.encode("utf-8"))
    return (h & 0x7FFFFFFF) % n


def iceberg_bucket(value, dtype: T.DataType, n: int) -> int:
    """Spec bucket id of a single predicate literal — what metadata-
    only bucket pruning compares against manifest partition records.
    `value`: python int/str, datetime.date, or datetime.datetime
    (UTC) matching `dtype`."""
    import datetime as _dt

    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return _bucket_of_long(value, n)
    if isinstance(dtype, T.StringType):
        return _bucket_of_str(value, n)
    if isinstance(dtype, T.DateType):
        days = (value - _dt.date(1970, 1, 1)).days
        return _bucket_of_long(days, n)
    if isinstance(dtype, T.TimestampType):
        if value.tzinfo is None:
            value = value.replace(tzinfo=_dt.timezone.utc)
        # exact integer micros: float .timestamp()*1e6 is off by 1µs
        # for ~1% of microsecond timestamps, which flips the murmur3
        # bucket and silently prunes away the matching file
        epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
        micros = (value - epoch) // _dt.timedelta(microseconds=1)
        return _bucket_of_long(micros, n)
    raise ValueError(f"bucket transform unsupported for {dtype.simpleString()}")


def _bucket_long_udf(n: int):
    """Arrow-batched bucket kernel for staging: input is the already-
    encoded long domain (int/long as-is, date→days, timestamp→micros),
    murmur3 fully vectorized in numpy (two 32-bit blocks of the
    little-endian 8-byte encoding, all ops wrapping uint32)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _vec(vals: "np.ndarray") -> "np.ndarray":
        c1 = np.uint32(0xCC9E2D51)
        c2 = np.uint32(0x1B873593)
        with np.errstate(over="ignore"):
            v = vals.astype(np.int64).view(np.uint64)
            h = np.zeros(len(v), dtype=np.uint32)
            for blk in (v & np.uint64(0xFFFFFFFF), v >> np.uint64(32)):
                k = blk.astype(np.uint32)
                k *= c1
                k = (k << np.uint32(15)) | (k >> np.uint32(17))
                k *= c2
                h ^= k
                h = (h << np.uint32(13)) | (h >> np.uint32(19))
                h = h * np.uint32(5) + np.uint32(0xE6546B64)
            h ^= np.uint32(8)  # len(8 bytes)
            h ^= h >> np.uint32(16)
            h *= np.uint32(0x85EBCA6B)
            h ^= h >> np.uint32(13)
            h *= np.uint32(0xC2B2AE35)
            h ^= h >> np.uint32(16)
        return ((h & np.uint32(0x7FFFFFFF)) % np.uint32(n)).astype(np.int32)

    @pandas_udf("int")
    def b(s: pd.Series) -> pd.Series:
        # caller guarantees non-null input (nulls handled Spark-side),
        # so the series arrives as true int64 — a nullable column
        # would arrive as float64 and corrupt longs beyond 2^53
        return pd.Series(_vec(s.to_numpy(dtype=np.int64)), index=s.index)

    return b


def _bucket_str_udf(n: int):
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def b(s: pd.Series) -> pd.Series:
        return s.map(lambda v: None if v is None else _bucket_of_str(v, n)).astype(
            "Int32"
        )

    return b


def _derived_partition_col(kind: str, param: int | None, source: str, src_t):
    """The Spark column expression of a transform's derived partition
    value, matching the spec's definitions exactly:

    - day/hour of a timestamptz are UTC ordinals — derived from epoch
      seconds (session-tz-independent); date / NTZ sources are
      wall-clock values, so datediff/hour are already tz-free;
    - bucket[N] = (murmur3_32(spec byte encoding) & Int.MAX) % N, all
      integer types encoded as the 8-byte little-endian long;
    - truncate[W]: strings → first W chars; ints → v - pmod(v, W)
      (floored modulo, so negatives round toward -inf).

    Everything except bucket is a built-in JVM expression; bucket's
    murmur3 runs as an Arrow-batched numpy kernel (no row-at-a-time
    Python) — and only on the WRITE staging path."""
    if kind == "day":
        if isinstance(src_t, T.TimestampType):
            return F.floor(F.unix_timestamp(F.col(source)) / F.lit(86400)).cast(
                "int"
            )
        return F.datediff(
            F.col(source).cast("date"), F.lit("1970-01-01").cast("date")
        )
    if kind == "hour":
        if isinstance(src_t, T.TimestampType):
            return F.floor(F.unix_timestamp(F.col(source)) / F.lit(3600)).cast(
                "int"
            )
        return (
            F.datediff(
                F.col(source).cast("date"), F.lit("1970-01-01").cast("date")
            )
            * 24
            + F.hour(F.col(source))
        ).cast("int")
    if kind in ("month", "year"):
        # months/years from epoch (1970-01 = 0 / 1970 = 0); a
        # timestamptz routes through its exact UTC date first
        if isinstance(src_t, T.TimestampType):
            d = F.date_add(
                F.lit("1970-01-01").cast("date"),
                F.floor(F.unix_timestamp(F.col(source)) / F.lit(86400)).cast(
                    "int"
                ),
            )
        else:
            d = F.col(source).cast("date")
        if kind == "month":
            return ((F.year(d) - 1970) * 12 + F.month(d) - 1).cast("int")
        return (F.year(d) - 1970).cast("int")
    if kind == "bucket":
        if isinstance(src_t, T.StringType):
            return _bucket_str_udf(param)(F.col(source))
        if isinstance(src_t, T.DateType):
            enc = F.datediff(
                F.col(source), F.lit("1970-01-01").cast("date")
            ).cast("long")
        elif isinstance(src_t, T.TimestampType):
            enc = F.unix_micros(F.col(source))
        else:
            enc = F.col(source).cast("long")
        # null source → null partition value, decided Spark-side so the
        # kernel always sees a dense int64 series (see _bucket_long_udf)
        return F.when(
            enc.isNotNull(), _bucket_long_udf(param)(F.coalesce(enc, F.lit(0)))
        )
    if kind == "truncate":
        if isinstance(src_t, T.StringType):
            return F.substring(F.col(source), 1, param)
        return (F.col(source) - F.pmod(F.col(source), F.lit(param))).cast(src_t)
    raise ValueError(f"no derived column for transform {kind!r}")


def _parse_partition_by(partition_by: list[str]) -> list[dict]:
    """Normalize create()'s partition_by syntax: "col" → identity,
    "day(col)"/"days(col)" → day, "hour(col)"/"hours(col)" → hour,
    "bucket(N, col)" → bucket[N], "truncate(W, col)" → truncate[W]
    (field names <col>_day / <col>_hour / <col>_bucket / <col>_trunc
    per Iceberg convention). Any OTHER function-call syntax
    (month(ts), DAY(ts), ...) is an unsupported transform and says so
    — falling through to identity would produce the misleading
    "column not in df" error instead."""
    import re as _re

    out = []
    for raw in partition_by:
        raw = raw.strip()
        m = _re.fullmatch(r"days?\((\w+)\)", raw)
        if m:
            out.append(
                {"name": f"{m.group(1)}_day", "transform": "day", "source": m.group(1)}
            )
            continue
        m = _re.fullmatch(r"hours?\((\w+)\)", raw)
        if m:
            out.append(
                {
                    "name": f"{m.group(1)}_hour",
                    "transform": "hour",
                    "source": m.group(1),
                }
            )
            continue
        m = _re.fullmatch(r"(months?|years?)\((\w+)\)", raw)
        if m:
            kind = "month" if m.group(1).startswith("month") else "year"
            out.append(
                {
                    "name": f"{m.group(2)}_{kind}",
                    "transform": kind,
                    "source": m.group(2),
                }
            )
            continue
        m = _re.fullmatch(r"bucket\(\s*(\d+)\s*,\s*(\w+)\s*\)", raw)
        if m:
            out.append(
                {
                    "name": f"{m.group(2)}_bucket",
                    "transform": f"bucket[{m.group(1)}]",
                    "source": m.group(2),
                }
            )
            continue
        m = _re.fullmatch(r"truncate\(\s*(\d+)\s*,\s*(\w+)\s*\)", raw)
        if m:
            out.append(
                {
                    "name": f"{m.group(2)}_trunc",
                    "transform": f"truncate[{m.group(1)}]",
                    "source": m.group(2),
                }
            )
            continue
        if "(" in raw or ")" in raw:
            raise ValueError(
                f"unsupported partition transform {raw!r} "
                "(supported: bare column for identity, day(col), hour(col), "
                "month(col), year(col), bucket(N, col), truncate(W, col))"
            )
        out.append({"name": raw, "transform": "identity", "source": raw})
    return out


def _spec_avro_fields(
    schema: T.StructType, spec: list[dict], table_path: str
) -> list[tuple[str, str]]:
    """Avro primitive per partition record field: identity fields use
    the source column's type (restricted to _PART_AVRO — date/
    timestamp identity keys would need the spec's int encodings);
    day/hour/bucket fields are always int (days/hours since epoch,
    bucket ordinal); truncate keeps the source's primitive."""
    out = []
    for f in spec:
        kind, _ = _norm_transform(f["transform"])
        st = schema[f["source"]].dataType
        if kind == "day":
            if not isinstance(st, (T.DateType, T.TimestampType, T.TimestampNTZType)):
                raise ValueError(
                    f"{table_path}: day() needs a date/timestamp source, "
                    f"got {st.simpleString()} for {f['source']!r}"
                )
            out.append((f["name"], "int"))
            continue
        if kind == "hour":
            if not isinstance(st, (T.TimestampType, T.TimestampNTZType)):
                raise ValueError(
                    f"{table_path}: hour() needs a timestamp source "
                    f"(the spec defines it for timestamps only), got "
                    f"{st.simpleString()} for {f['source']!r}"
                )
            out.append((f["name"], "int"))
            continue
        if kind in ("month", "year"):
            if not isinstance(
                st, (T.DateType, T.TimestampType, T.TimestampNTZType)
            ):
                raise ValueError(
                    f"{table_path}: {kind}() needs a date/timestamp "
                    f"source, got {st.simpleString()} for {f['source']!r}"
                )
            out.append((f["name"], "int"))
            continue
        if kind == "bucket":
            if not isinstance(
                st,
                (
                    T.ByteType,
                    T.ShortType,
                    T.IntegerType,
                    T.LongType,
                    T.StringType,
                    T.DateType,
                    T.TimestampType,
                ),
            ):
                raise ValueError(
                    f"{table_path}: bucket() supports int/long/string/"
                    f"date/timestamp sources, got {st.simpleString()} "
                    f"for {f['source']!r}"
                )
            out.append((f["name"], "int"))
            continue
        if kind == "truncate":
            if isinstance(st, T.StringType):
                out.append((f["name"], "string"))
            elif isinstance(st, (T.IntegerType, T.LongType)):
                out.append((f["name"], _PART_AVRO[type(st)]))
            else:
                raise ValueError(
                    f"{table_path}: truncate() supports int/long/string "
                    f"sources, got {st.simpleString()} for {f['source']!r}"
                )
            continue
        t = type(st)
        if t not in _PART_AVRO:
            raise ValueError(
                f"{table_path}: unsupported partition column type "
                f"{st.simpleString()} for "
                f"{f['source']!r} (supported: int/long/float/double/"
                "string/boolean; use day(col) for date/timestamp)"
            )
        out.append((f["name"], _PART_AVRO[t]))
    return out


def _typed_pv(raw: str, dtype: T.DataType):
    """A hive-directory partition string as the typed value the Avro
    partition record stores."""
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(raw)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return float(raw)
    if isinstance(dtype, T.BooleanType):
        return raw.lower() == "true"
    return raw


def _entry_schema(part_fields: list[tuple[str, str]]) -> dict:
    """Manifest-entry Avro schema with a typed partition record —
    `part_fields` is [(name, avro_primitive)]; [] gives the spec-less
    shape (the empty r102 record)."""
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        {"name": "content", "type": "int"},
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {
                            "name": "partition",
                            "type": {
                                "type": "record",
                                "name": "r102",
                                "fields": [
                                    {"name": n, "type": ["null", t]}
                                    for n, t in part_fields
                                ],
                            },
                        },
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                        # v3 row lineage (spec field id 142): the id of
                        # the file's FIRST row; _row_id = this + row
                        # position. Nullable so carried pre-lineage
                        # entries round-trip (readers refuse lineage
                        # projection on null, never guess).
                        {
                            "name": "first_row_id",
                            "type": ["null", "long"],
                            "default": None,
                        },
                    ],
                },
            },
        ],
    }


# the spec-less entry schema IS the generator's empty-partition case —
# one authoritative definition (review: the hand-written literal and
# the generator could silently diverge)
_MANIFEST_ENTRY_SCHEMA = _entry_schema([])

# equality-delete manifests additionally declare the key's field ids
# (data_file.equality_ids, spec-required for content=2)
_EQ_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {
                        "name": "partition",
                        "type": {
                            "type": "record",
                            "name": "r102",
                            "fields": [],
                        },
                    },
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {
                        "name": "equality_ids",
                        "type": ["null", {"type": "array", "items": "int"}],
                    },
                ],
            },
        },
    ],
}


def _spark_type_to_iceberg(dt: T.DataType) -> str:
    m = {
        "boolean": "boolean",
        "int": "int",
        "bigint": "long",
        "float": "float",
        "double": "double",
        "string": "string",
        "date": "date",
        "timestamp_ntz": "timestamp",
        "timestamp": "timestamptz",
        "binary": "binary",
    }
    s = dt.simpleString()
    if s in m:
        return m[s]
    if s.startswith("decimal("):
        return s
    raise ValueError(f"unsupported Spark type for iceberg: {s}")


class IcebergCommitConflict(Exception):
    """Another writer claimed this metadata version first."""


class IcebergConcurrentDelete(Exception):
    """A conflicting writer rewrote/removed files this DELETE/OVERWRITE
    depends on (same rule as planktable's ConcurrentModification and
    Delta's ConcurrentDeltaModification: committing a stale rewrite
    would silently undo the concurrent writer)."""


class IcebergWriter:
    """Iceberg writer (format v1 metadata): create / append /
    delete / overwrite / MERGE / OPTIMIZE / vacuum, spec-less or
    identity-partitioned (typed manifest partition records, hive
    layout with source columns omitted per column projection). Each
    commit adds ONE manifest and a manifest list referencing every
    still-live manifest — the same snapshot shape
    `author_iceberg_orders` builds by hand."""

    def __init__(self, spark, table_path: str):
        self.spark = spark
        self.table_path = table_path
        self.meta_dir = os.path.join(table_path, "metadata")

    def _stage(
        self,
        table: IcebergTable | None,
        df,
        snapshot_id: int,
        spec: list[dict] | None = None,
        field_ids: dict[str, int] | None = None,
    ) -> list[dict]:
        """Stage df under data/ through the staging kernel (0-row
        files dropped); return data_file dicts. `table` is the verb's
        opened table (None at create).

        Data files carry the Iceberg FIELD IDS as parquet field ids
        (`parquet.field.id` column metadata — Spark's parquet writer
        stores them), so readers can resolve columns by id and column
        RENAMES stay safe. `field_ids` overrides the name→id map
        (create/evolution, where the table metadata doesn't exist or
        is being replaced); `None` derives it from `table`;
        `{}` disables ids (overwrite with schema replacement — stale
        ids would be worse than none).

        `spec` is the normalized partition spec ([{name, transform,
        source}]): identity fields lay out hive-style with the source
        column DROPPED from file content (the spec's column-projection
        rule covers reads); `day` fields partition by a DERIVED
        days-since-epoch int — the source column stays IN the files,
        which is what makes day() the idiomatic timestamp partitioning
        (metadata date-range pruning without losing the raw values)."""
        spec = spec or []
        if field_ids is None:
            try:
                field_ids = table.field_ids()
            except (ValueError, KeyError, StopIteration):
                field_ids = {}
        field_ids = self._ids_gate(table, field_ids)
        if field_ids:
            df = df.select(
                [
                    F.col(f.name).alias(
                        f.name,
                        metadata={"parquet.field.id": field_ids[f.name]},
                    )
                    if f.name in field_ids
                    else F.col(f.name)
                    for f in df.schema.fields
                ]
            )
        dtypes = {f.name: f.dataType for f in df.schema.fields}
        staged_df, trunc_str_cols = df, []
        for f in spec:
            kind, param = _norm_transform(f["transform"])
            if kind == "identity":
                continue  # name == source column: a hive dir as is
            col = _derived_partition_col(kind, param, f["source"], dtypes[f["source"]])
            staged_df = staged_df.withColumn(f["name"], col)
            if kind == "truncate" and isinstance(dtypes[f["source"]], T.StringType):
                trunc_str_cols.append(f["name"])
        ident_cols = [f["name"] for f in spec if f["transform"] == "identity"]
        if ident_cols:
            _reject_empty_string_partitions(df, ident_cols, self.table_path)
        if trunc_str_cols:
            # a truncated empty string is '' → would round-trip as
            # NULL through __HIVE_DEFAULT_PARTITION__, same hazard
            # as identity string keys
            _reject_empty_string_partitions(
                staged_df, trunc_str_cols, self.table_path
            )
        field_by_name = {f["name"]: f for f in spec}

        def typed(k, v):
            kind, _ = _norm_transform(field_by_name[k]["transform"])
            if v is None:
                return None
            if kind == "identity":
                return _typed_pv(v, dtypes[k])
            if kind == "truncate":  # keeps the source's primitive
                return _typed_pv(v, dtypes[field_by_name[k]["source"]])
            return int(v)  # day/hour/bucket: the dir value IS the int ordinal

        tmp = os.path.join(self.table_path, f"_stage-{uuid.uuid4().hex}")
        dest = stage.renamed(f"snap{snapshot_id}-", "data")
        return [
            {
                "content": 0,
                "file_path": s.path,
                "file_format": "PARQUET",
                "partition": {k: typed(k, v) for k, v in s.values.items()},
                # spec: record_count is REQUIRED and real — footer
                # metadata only (no data pages read)
                "record_count": s.meta.num_rows,
                "file_size_in_bytes": s.stat.st_size,
            }
            for s in stage.write(
                staged_df, tmp, self.table_path, dest, list(field_by_name)
            )
        ]

    def _ids_gate(
        self, table: IcebergTable | None, field_ids: dict[str, int] | None
    ) -> dict[str, int]:
        """Suppress parquet field-id stamping when `table`'s EXISTING
        live files carry none (a converted-in-place table): the spec
        requires writers to be consistent, and a mixed table breaks
        id-resolution on whichever file the one-footer probe misses.
        Fresh/empty tables keep the ids (the engine's native layout).
        The probe reads scan_entries_full, not scan_entries, so it
        keeps working on equality-deleted tables (append stays legal
        there), where scan_entries raises by contract."""
        if not field_ids or table is None:
            return field_ids or {}
        try:
            if table.scan_entries_full(None)[0] and not table.files_carry_field_ids(None):
                return {}
        except (FileNotFoundError, ValueError, KeyError, StopIteration):
            pass
        return field_ids

    def _writer_spec(
        self, table: "IcebergTable", spec_fields: list[dict] | None = None
    ) -> list[dict]:
        """The table's partition spec normalized for staging:
        [{name, transform, source}] over the writer-stageable
        transform set (identity/day/hour/bucket[N]/truncate[W]) —
        anything else can't be staged correctly and raises.
        ``spec_fields`` overrides the default spec (per-spec-id
        resolution for carried-manifest rewrites)."""
        out = []
        fields = (
            table.partition_spec() if spec_fields is None else spec_fields
        )
        for f in fields:
            tr = f.get("transform", "identity")
            kind, param = _norm_transform(tr)
            if kind not in _WRITER_TRANSFORMS:
                raise ValueError(
                    f"{self.table_path}: unsupported partition transform "
                    f"{f.get('transform')!r} for {f.get('name')!r}"
                )
            canon = kind if param is None else f"{kind}[{param}]"
            out.append(
                {
                    "name": f["name"],
                    "transform": canon,
                    "source": table.source_column(f),
                }
            )
        return out


    def _write_manifest(
        self,
        fname: str,
        data_files: list[dict],
        snap: int,
        entry_schema: dict | None = None,
        spec_id: int = 0,
    ) -> dict:
        from plankton_spark.sources.avro_ocf import write_ocf_generic

        path = os.path.join(self.meta_dir, fname)
        entries = [
            {"status": 1, "snapshot_id": snap, "data_file": df} for df in data_files
        ]
        write_ocf_generic(path, entry_schema or _MANIFEST_ENTRY_SCHEMA, entries)
        return {
            "manifest_path": f"metadata/{fname}",
            "manifest_length": os.path.getsize(path),
            # the spec the staged files were laid out under — readers
            # resolve each entry's partition record against THIS spec,
            # which is what makes partition evolution readable
            "partition_spec_id": spec_id,
            "added_snapshot_id": snap,
        }

    def _commit_metadata(self, version: int, metadata: dict) -> None:
        """Atomic publication: fully write (and fsync) a writer-unique
        temp file, then os.link it into place — EEXIST preserves the
        OCC claim, and a reader picking the highest vN.metadata.json
        can never hit a partial JSON (the O_EXCL-create-then-write
        pattern had that window)."""
        import uuid as _uuid

        os.makedirs(self.meta_dir, exist_ok=True)
        path = os.path.join(self.meta_dir, f"v{version}.metadata.json")
        tmp = path + f".tmp-{_uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(metadata, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise IcebergCommitConflict(
                f"{self.table_path}: metadata v{version} already committed"
            ) from None
        finally:
            os.remove(tmp)
        with open(os.path.join(self.meta_dir, "version-hint.text"), "w") as f:
            f.write(str(version))

    def _next_metadata_version(self) -> int:
        if not os.path.isdir(self.meta_dir):
            return 1
        versions = [
            int(f[1:].split(".")[0])
            for f in os.listdir(self.meta_dir)
            if f.startswith("v") and f.endswith(".metadata.json")
        ]
        return (max(versions) + 1) if versions else 1

    def _unique(self, stem: str) -> str:
        """Staged metadata filenames must be writer-unique: two racing
        appends computing the same snapshot id must NEVER collide on a
        manifest/manifest-list path — the loser's retry would silently
        overwrite files the winner's committed metadata already
        references (a lost update the concurrency test caught). Only
        vN.metadata.json is the contended (O_EXCL) resource."""
        import uuid as _uuid

        return f"{stem}-{_uuid.uuid4().hex[:12]}.avro"

    def create(self, df, partition_by: list[str] | None = None) -> int:
        """Create the table; `partition_by` writes an identity
        partition spec — data lands in hive-style dirs under data/
        with the source columns omitted from file content (spec
        column-projection) and typed values in each manifest entry's
        partition record, so readers prune whole partitions from
        metadata alone."""
        if os.path.isdir(self.meta_dir) and any(
            f.endswith(".metadata.json") for f in os.listdir(self.meta_dir)
        ):
            raise FileExistsError(f"{self.table_path}: table already exists")
        spec = _parse_partition_by(partition_by or [])
        missing = [f["source"] for f in spec if f["source"] not in df.columns]
        if missing:
            raise ValueError(f"partition_by columns not in df: {missing}")
        clash = [
            f["name"]
            for f in spec
            if f["transform"] != "identity" and f["name"] in df.columns
        ]
        if clash:
            raise ValueError(
                f"derived partition field names {clash} collide with "
                "existing columns — the withColumn would silently replace "
                "their data; rename the column or the transform source"
            )
        es = (
            _entry_schema(_spec_avro_fields(df.schema, spec, self.table_path))
            if spec
            else None
        )
        os.makedirs(self.meta_dir, exist_ok=True)
        snap_id = 1
        files = self._stage(
            None,
            df,
            snap_id,
            spec,
            field_ids={f.name: i + 1 for i, f in enumerate(df.schema.fields)},
        )
        next_rid = self._assign_first_row_ids(files, 0)
        m = self._write_manifest(
            self._unique(f"m{snap_id}"), files, snap_id, entry_schema=es
        )
        from plankton_spark.sources.avro_ocf import write_ocf_generic

        ml_name = self._unique(f"snap-{snap_id}")
        ml = os.path.join(self.meta_dir, ml_name)
        write_ocf_generic(ml, _MANIFEST_FILE_SCHEMA, [m])
        ice_schema = {
            "type": "struct",
            "schema-id": 0,
            "fields": [
                {
                    "id": i + 1,
                    "name": f.name,
                    "required": False,
                    "type": _spark_type_to_iceberg(f.dataType),
                }
                for i, f in enumerate(df.schema.fields)
            ],
        }
        col_ids = {f["name"]: f["id"] for f in ice_schema["fields"]}
        spec_fields = [
            {
                "name": f["name"],
                "transform": f["transform"],
                "source-id": col_ids[f["source"]],
                "field-id": 1000 + i,
            }
            for i, f in enumerate(spec)
        ]
        metadata = {
            "format-version": 1,
            "table-uuid": f"plankton-iceberg-{os.path.basename(self.table_path)}",
            "location": self.table_path,
            "last-updated-ms": 0,
            "last-column-id": len(df.schema.fields),
            "schema": ice_schema,
            "schemas": [ice_schema],
            "current-schema-id": 0,
            "partition-spec": spec_fields,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "default-spec-id": 0,
            "current-snapshot-id": snap_id,
            # v3 row lineage: the table's high-water row id — every
            # commit that adds rows claims [first-row-id, next-row-id)
            "next-row-id": next_rid,
            "snapshots": [
                {
                    "snapshot-id": snap_id,
                    "timestamp-ms": int(_time.time() * 1000),
                    "manifest-list": f"metadata/{ml_name}",
                    "first-row-id": 0,
                    "summary": {"operation": "append"},
                }
            ],
        }
        self._commit_metadata(1, metadata)
        return snap_id

    @staticmethod
    def _assign_first_row_ids(files: list[dict], base: int) -> int:
        """Assign each staged data file its first_row_id per the v3
        row-lineage rule: the snapshot's first-row-id plus the running
        record count of files listed before it. Returns the next free
        row id (the metadata's new next-row-id)."""
        rid = base
        for f in files:
            f["first_row_id"] = rid
            rid += int(f["record_count"])
        return rid

    def _table_entry_schema(self, table: "IcebergTable", spec_id: int | None = None):
        """(normalized spec, entry Avro schema) for the table — the
        DEFAULT spec, or a specific historical one by ``spec_id``
        (rewrites of carried manifests must re-serialize each entry's
        partition record in ITS spec's shape, not the default's)."""
        spec = self._writer_spec(
            table,
            None if spec_id is None else table.partition_spec_for(spec_id),
        )
        if not spec:
            return [], None
        return spec, _entry_schema(
            _spec_avro_fields(table.schema(), spec, self.table_path)
        )

    def _evolved_metadata(self, md: dict, table: "IcebergTable", df, merge_schema: bool) -> dict:
        """Validate df's schema against the table's and, for ADD-column
        evolution (merge_schema=True), return md updated with a new
        schema (new schema-id, field ids continuing last-column-id) per
        the Iceberg spec's append-only evolution rules. Dropping or
        retyping existing columns is rejected — the same contract as
        DeltaLogWriter._schema_evolution_action and planktable."""
        current = table.schema()
        cur = {f.name: f.dataType for f in current.fields}
        inc = {f.name: f.dataType for f in df.schema.fields}
        missing = set(cur) - set(inc)
        added = set(inc) - set(cur)
        retyped = {n for n in set(cur) & set(inc) if cur[n] != inc[n]}
        if missing:
            raise ValueError(
                f"{self.table_path}: append missing columns {sorted(missing)}"
            )
        if retyped:
            raise ValueError(
                f"{self.table_path}: cannot retype columns {sorted(retyped)}"
            )
        if added and not merge_schema:
            raise ValueError(
                f"{self.table_path}: new columns {sorted(added)} need "
                "merge_schema=True"
            )
        if not added:
            return md
        last_id = md.get("last-column-id", len(cur))
        old_schemas = md.get("schemas") or [md["schema"]]
        new_schema_id = max(s.get("schema-id", 0) for s in old_schemas) + 1
        new_fields = list(
            next(
                s
                for s in old_schemas
                if s.get("schema-id", 0) == md.get("current-schema-id", 0)
            )["fields"]
        )
        for f in df.schema.fields:
            if f.name in added:
                last_id += 1
                new_fields.append(
                    {
                        "id": last_id,
                        "name": f.name,
                        "required": False,
                        "type": _spark_type_to_iceberg(f.dataType),
                    }
                )
        ice = {"type": "struct", "schema-id": new_schema_id, "fields": new_fields}
        md = dict(md)
        md["schema"] = ice
        md["schemas"] = old_schemas + [ice]
        md["current-schema-id"] = new_schema_id
        md["last-column-id"] = last_id
        return md

    def drop_column(self, name: str) -> int:
        """DROP COLUMN — metadata-only: a new current schema omits the
        field; data files keep its bytes, unreferenced by the
        current-schema projection (historic snapshots resolved with
        the current schema stop seeing it too, matching read_iceberg's
        documented time-travel contract). The field id retires with
        the column: a later add of the SAME NAME gets a fresh id, and
        because live files must carry parquet field ids (the same
        guard rename_column applies), the old bytes resolve to the
        RETIRED id and stay invisible instead of resurrecting by name.

        Refused for partition-spec sources (identity layout and
        manifest partition records bind them), the last column, and
        id-less files."""
        import pyarrow.parquet as _pq

        for _ in range(20):
            table = IcebergTable(self.table_path)
            ice = table._current_ice_schema()
            names = [f["name"] for f in ice["fields"]]
            if name not in names:
                raise ValueError(f"{self.table_path}: no column {name!r}")
            if len(names) == 1:
                raise ValueError(
                    f"{self.table_path}: cannot drop the only column"
                )
            spec_sources = {
                table.source_column(f) for f in table.partition_spec()
            }
            if name in spec_sources:
                raise ValueError(
                    f"{self.table_path}: {name!r} feeds the partition "
                    "spec; evolve the spec away from it first"
                )
            # scan_entries_full, not scan_entries: this is a metadata-
            # only operation — it must keep working on DV'd tables
            # (only the DATA files' field-id presence matters here;
            # round-9 review #2)
            d_full, _pos, eq_live, _dv = table.scan_entries_full(None)
            # …but NOT on a column a live EQUALITY delete keys on:
            # dropping it orphans the delete's equality_ids and every
            # later read fails resolving the id — the brick-the-table
            # class (round-9 review-2 follow-up #1)
            drop_fid = table.field_ids().get(name)
            hit_eq = [
                p for p, ids, _seq in eq_live if drop_fid in ids
            ]
            if hit_eq:
                raise ValueError(
                    f"{self.table_path}: column {name!r} (field id "
                    f"{drop_fid}) is an equality-delete key of "
                    f"{len(hit_eq)} live delete file(s) — OPTIMIZE to "
                    "purge the deletes first"
                )
            for p, _pv, _seq, _sid in d_full:
                sch = _pq.read_schema(p)
                if not any(
                    f.metadata and b"PARQUET:field_id" in f.metadata
                    for f in sch
                ):
                    raise ValueError(
                        f"{self.table_path}: data file {p} carries no "
                        "parquet field ids — a later same-name add "
                        "would resurrect the dropped bytes; rewrite "
                        "the table first (OPTIMIZE)"
                    )
            new_fields = [f for f in ice["fields"] if f["name"] != name]
            old_schemas = table.metadata.get("schemas") or [
                table.metadata["schema"]
            ]
            new_sid = max(s.get("schema-id", 0) for s in old_schemas) + 1
            new_ice = {
                "type": "struct",
                "schema-id": new_sid,
                "fields": new_fields,
            }
            md = dict(table.metadata)
            md["schema"] = new_ice
            md["schemas"] = old_schemas + [new_ice]
            md["current-schema-id"] = new_sid
            try:
                self._commit_metadata(table.metadata_version + 1, md)
                return new_sid
            except IcebergCommitConflict:
                continue
        raise IcebergCommitConflict(f"{self.table_path}: gave up after retries")

    def add_column(
        self,
        name: str,
        ice_type: str,
        initial_default=None,
        write_default=None,
    ) -> int:
        """ADD COLUMN, optionally with the v3 DEFAULT VALUES
        (``initial-default`` fills the column for files written
        BEFORE it existed — a READ-TIME fill, which is exactly what
        Delta's protocol cannot represent and why its ADD-with-default
        refuses; ``write-default`` materializes on writes that omit
        the column). A non-null initial-default requires format
        version 3 per the spec, so the metadata bumps when needed.
        Primitive defaults only (the single-value JSON serialization
        for long/double/string/boolean); the new field gets a fresh
        id continuing last-column-id and is optional (required new
        columns would break existing files by definition)."""
        if initial_default is not None and not isinstance(
            initial_default, (int, float, str, bool)
        ):
            raise ValueError(
                f"{self.table_path}: unsupported initial-default "
                f"{initial_default!r} (primitive JSON values only)"
            )
        if write_default is not None and not isinstance(
            write_default, (int, float, str, bool)
        ):
            raise ValueError(
                f"{self.table_path}: unsupported write-default "
                f"{write_default!r} (primitive JSON values only)"
            )
        for _ in range(20):
            table = IcebergTable(self.table_path)
            ice = table._current_ice_schema()
            if name in [f["name"] for f in ice["fields"]]:
                raise ValueError(
                    f"{self.table_path}: column {name!r} already exists"
                )
            md = dict(table.metadata)
            last_id = md.get(
                "last-column-id", max(f["id"] for f in ice["fields"])
            )
            fid = last_id + 1
            field: dict = {
                "id": fid,
                "name": name,
                "required": False,
                "type": ice_type,
            }
            if initial_default is not None:
                field["initial-default"] = initial_default
                if int(md.get("format-version", 1)) < 3:
                    md["format-version"] = 3
            if write_default is not None:
                field["write-default"] = write_default
            old_schemas = md.get("schemas") or [md["schema"]]
            new_sid = max(s.get("schema-id", 0) for s in old_schemas) + 1
            new_ice = {
                "type": "struct",
                "schema-id": new_sid,
                "fields": list(ice["fields"]) + [field],
            }
            md["schema"] = new_ice
            md["schemas"] = old_schemas + [new_ice]
            md["current-schema-id"] = new_sid
            md["last-column-id"] = fid
            try:
                self._commit_metadata(table.metadata_version + 1, md)
                return new_sid
            except IcebergCommitConflict:
                continue
        raise IcebergCommitConflict(f"{self.table_path}: gave up after retries")

    def widen_column(self, name: str, new_type: str) -> int:
        """Type promotion (Iceberg spec "Schema Evolution"):
        metadata-only commit changing a field's type to a WIDER one —
        int→long, float→double, or decimal(P,S)→decimal(P',S) with
        P' > P (same scale; the spec forbids scale changes). Data
        files keep their narrow physical types; reads scan under the
        current schema and Spark's parquet reconciliation widens
        losslessly. Anything outside the spec's promotion set
        refuses — a narrowing would corrupt, a scale change would
        shift values."""
        _ALLOWED = {("int", "long"), ("float", "double")}
        for _ in range(20):
            table = IcebergTable(self.table_path)
            ice = table._current_ice_schema()
            fld = next(
                (f for f in ice["fields"] if f["name"] == name), None
            )
            if fld is None:
                raise ValueError(f"{self.table_path}: no column {name!r}")
            frm, to = str(fld["type"]), str(new_type)
            ok = (frm, to) in _ALLOWED
            if frm.startswith("decimal(") and to.startswith("decimal("):
                import re as _re

                fm = _re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", frm)
                tm = _re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", to)
                ok = bool(
                    fm
                    and tm
                    and int(tm.group(2)) == int(fm.group(2))
                    and int(tm.group(1)) > int(fm.group(1))
                )
            if not ok:
                raise ValueError(
                    f"{self.table_path}: {frm!r} → {to!r} is not an "
                    "allowed Iceberg type promotion (int→long, "
                    "float→double, decimal precision increase only)"
                )
            new_fields = [
                dict(f, type=to) if f["name"] == name else f
                for f in ice["fields"]
            ]
            old_schemas = table.metadata.get("schemas") or [
                table.metadata["schema"]
            ]
            new_sid = max(s.get("schema-id", 0) for s in old_schemas) + 1
            new_ice = {
                "type": "struct",
                "schema-id": new_sid,
                "fields": new_fields,
            }
            md = dict(table.metadata)
            md["schema"] = new_ice
            md["schemas"] = old_schemas + [new_ice]
            md["current-schema-id"] = new_sid
            try:
                self._commit_metadata(table.metadata_version + 1, md)
                return new_sid
            except IcebergCommitConflict:
                continue
        raise IcebergCommitConflict(f"{self.table_path}: gave up after retries")

    def rename_column(self, old: str, new: str) -> int:
        """Rename a column — the schema evolution Iceberg's stable
        field ids exist for: a metadata-only commit publishes a new
        current schema with the SAME id under the new name; readers
        resolve old files by field id (read_iceberg via
        spark.sql.parquet.fieldId.read, the DSv2/stream wrappers via
        the PARQUET:field_id resolution of pyread.by_field_id).

        Refused when any live data file lacks parquet field ids (a
        pre-field-id file would silently null-fill under the new
        name) or when the column feeds the partition spec (identity
        dir layout and manifest partition records carry the name)."""
        import pyarrow.parquet as _pq

        for _ in range(20):
            table = IcebergTable(self.table_path)
            ice = table._current_ice_schema()
            names = [f["name"] for f in ice["fields"]]
            if old not in names:
                raise ValueError(f"{self.table_path}: no column {old!r}")
            if new in names:
                raise ValueError(f"{self.table_path}: column {new!r} exists")
            spec_sources = {
                table.source_column(f) for f in table.partition_spec()
            }
            if old in spec_sources:
                raise ValueError(
                    f"{self.table_path}: {old!r} feeds the partition "
                    "spec; renaming it would break the identity layout"
                )
            # scan_entries_full, not scan_entries: this is a metadata-
            # only operation — it must keep working on DV'd tables
            # (only the DATA files' field-id presence matters here;
            # round-9 review #2)
            d_full, _pos, _eq, _dv = table.scan_entries_full(None)
            for p, _pv, _seq, _sid in d_full:
                sch = _pq.read_schema(p)
                if not any(
                    f.metadata and b"PARQUET:field_id" in f.metadata
                    for f in sch
                ):
                    raise ValueError(
                        f"{self.table_path}: data file {p} carries no "
                        "parquet field ids — renaming would null it "
                        "out; rewrite the table first (OPTIMIZE)"
                    )
            new_fields = [
                dict(f, name=new) if f["name"] == old else f
                for f in ice["fields"]
            ]
            old_schemas = table.metadata.get("schemas") or [
                table.metadata["schema"]
            ]
            new_sid = max(s.get("schema-id", 0) for s in old_schemas) + 1
            new_ice = {
                "type": "struct",
                "schema-id": new_sid,
                "fields": new_fields,
            }
            md = dict(table.metadata)
            md["schema"] = new_ice
            md["schemas"] = old_schemas + [new_ice]
            md["current-schema-id"] = new_sid
            try:
                self._commit_metadata(table.metadata_version + 1, md)
                return new_sid
            except IcebergCommitConflict:
                continue
        raise IcebergCommitConflict(f"{self.table_path}: gave up after retries")

    def append(
        self,
        df,
        merge_schema: bool = False,
        branch: str | None = None,
    ) -> int:
        """Append rows. With `branch`, the new snapshot extends the
        BRANCH head (auto-created from the current snapshot on first
        write) and only the branch ref moves — main/current is
        untouched, the spec's write-audit-publish pattern: stage
        writes on an audit branch, validate, then fast-forward by
        pointing current at the branch head (rollback_to). Writing to
        a TAG refuses (tags are immutable pins)."""
        # v3 write-default: a write that OMITS a defaulted column
        # materializes the default at staging time (supplied values,
        # explicit NULL included, win) — the write-side half of
        # add_column's default pair
        table = IcebergTable(self.table_path)
        sch0 = table.schema()
        for f0 in table._current_ice_schema()["fields"]:
            if "write-default" in f0 and f0["name"] not in df.columns:
                df = df.withColumn(
                    f0["name"],
                    F.lit(f0["write-default"]).cast(
                        sch0[f0["name"]].dataType
                    ),
                )

        for _ in range(20):
            md = self._evolved_metadata(
                dict(table.metadata), table, df, merge_schema
            )
            spec, es = self._table_entry_schema(table)
            base_sid = None
            if branch is not None:
                refs = dict(md.get("refs") or {})
                existing = refs.get(branch)
                if existing is not None:
                    if existing.get("type") != "branch":
                        raise ValueError(
                            f"{self.table_path}: ref {branch!r} is a "
                            f"{existing.get('type')}; tags are immutable "
                            "— cannot append to one"
                        )
                    base_sid = existing["snapshot-id"]
                else:
                    base_sid = md.get("current-snapshot-id")
            prev = table._snapshot(base_sid)
            snap_id = max(s["snapshot-id"] for s in md["snapshots"]) + 1
            # ids from the (possibly evolved) metadata this commit will
            # publish, so new columns stage with their new ids
            cur = next(
                s
                for s in (md.get("schemas") or [md["schema"]])
                if s.get("schema-id", 0) == md.get("current-schema-id", 0)
            )
            files = self._stage(
                table,
                df,
                snap_id,
                spec,
                field_ids={f["name"]: f["id"] for f in cur["fields"]},
            )
            # v3 row lineage: continue the table's row-id chain. A
            # pre-lineage table (no next-row-id) stays pre-lineage —
            # retrofitting ids here would collide with a concurrent
            # reader's view of history.
            snap_frid = md.get("next-row-id")
            if snap_frid is not None:
                md["next-row-id"] = self._assign_first_row_ids(
                    files, int(snap_frid)
                )
            m_new = self._write_manifest(
                self._unique(f"m{snap_id}"),
                files,
                snap_id,
                entry_schema=es,
                spec_id=int(md.get("default-spec-id") or 0),
            )
            # sequence tracking (active once delete_where_eq ran):
            # new data manifests get the NEXT data sequence number so
            # existing equality deletes (strictly-smaller seq) cannot
            # touch re-inserted rows; carried records keep theirs
            # verbatim (_write_manifest_list preserves them)
            if "last-sequence-number" in md:
                new_seq = (md.get("last-sequence-number") or 0) + 1
                m_new["sequence_number"] = new_seq
                md["last-sequence-number"] = new_seq
            manifests = table.manifest_list(prev["snapshot-id"]) + [m_new]
            ml_name = self._unique(f"snap-{snap_id}")
            _write_manifest_list(
                os.path.join(self.meta_dir, ml_name), manifests
            )
            new_snap = {
                "snapshot-id": snap_id,
                "timestamp-ms": int(_time.time() * 1000),
                "manifest-list": f"metadata/{ml_name}",
                # spec: summary.operation is REQUIRED (v2)
                "summary": {
                    "operation": "append",
                    "added-data-files": str(len(files)),
                    "deleted-data-files": "0",
                },
            }
            if snap_frid is not None:
                new_snap["first-row-id"] = int(snap_frid)
            md["snapshots"] = md["snapshots"] + [new_snap]
            if branch is not None:
                refs = dict(md.get("refs") or {})
                refs[branch] = {"snapshot-id": snap_id, "type": "branch"}
                md["refs"] = refs
            else:
                md["current-snapshot-id"] = snap_id
            try:
                # commit to EXACTLY read-version + 1: claiming whatever
                # version is free at commit time would let a writer that
                # raced past a concurrent commit publish metadata built
                # from the stale snapshot (lost update — the TOCTOU the
                # concurrency test caught). O_EXCL on v(read+1) makes
                # the conflict visible; the loop rebases.
                self._commit_metadata(table.metadata_version + 1, md)
                return snap_id
            except IcebergCommitConflict:
                table = IcebergTable(self.table_path)  # rebase on it
        raise IcebergCommitConflict(f"{self.table_path}: gave up after retries")

    def evolve_spec(self, partition_by: list[str] | None) -> int:
        """PARTITION EVOLUTION — metadata-only commit making
        ``partition_by`` (create()'s syntax; empty/None = unpartition)
        the default spec for FUTURE writes. No data file is touched:
        existing files keep their layout, their manifests keep their
        spec id, and read_iceberg assembles each spec group with its
        own identity columns. That no-rewrite property is the whole
        point at 100 TB — re-partitioning a petabyte table becomes a
        metadata edit plus naturally-migrating new data. Returns the
        new spec id.

        Spec rules honored: spec ids never reuse (max + 1), partition
        field ids continue past every id any historical spec used
        (the 1000+ namespace), and the legacy top-level
        'partition-spec' key is dropped so stale readers can't resolve
        the OLD spec as current."""
        spec = _parse_partition_by(partition_by or [])
        for _ in range(20):
            table = IcebergTable(self.table_path)
            md = dict(table.metadata)
            cur = next(
                s
                for s in (md.get("schemas") or [md["schema"]])
                if s.get("schema-id", 0) == md.get("current-schema-id", 0)
            )
            col_ids = {f["name"]: f["id"] for f in cur["fields"]}
            missing = sorted(
                {f["source"] for f in spec} - set(col_ids)
            )
            if missing:
                raise ValueError(
                    f"{self.table_path}: partition_by sources {missing} "
                    "not in the table schema"
                )
            specs = list(md.get("partition-specs") or [])
            if not specs:
                specs = [
                    {
                        "spec-id": md.get("default-spec-id", 0),
                        "fields": list(md.get("partition-spec") or []),
                    }
                ]
            new_sid = max(s.get("spec-id", 0) for s in specs) + 1
            used_fids = [
                pf.get("field-id", 999)
                for s in specs
                for pf in (s.get("fields") or [])
            ]
            next_fid = max(used_fids, default=999) + 1
            fields = [
                {
                    "name": f["name"],
                    "transform": f["transform"],
                    "source-id": col_ids[f["source"]],
                    "field-id": next_fid + i,
                }
                for i, f in enumerate(spec)
            ]
            specs.append({"spec-id": new_sid, "fields": fields})
            md["partition-specs"] = specs
            md["default-spec-id"] = new_sid
            md.pop("partition-spec", None)
            try:
                self._commit_metadata(table.metadata_version + 1, md)
                return new_sid
            except IcebergCommitConflict:
                continue
        raise IcebergCommitConflict(f"{self.table_path}: gave up after retries")

    # -- row-level delete / overwrite (parity with DeltaLogWriter and
    #    planktable: rewrite only hit files, validate removed files are
    #    still live at commit, rebase-on-conflict) --------------------

    def _write_entries(
        self,
        fname: str,
        entries: list[dict],
        entry_schema: dict | None = None,
        spec_id: int = 0,
    ) -> dict:
        from plankton_spark.sources.avro_ocf import write_ocf_generic

        path = os.path.join(self.meta_dir, fname)
        write_ocf_generic(path, entry_schema or _MANIFEST_ENTRY_SCHEMA, entries)
        return {
            "manifest_path": f"metadata/{fname}",
            "manifest_length": os.path.getsize(path),
            "partition_spec_id": spec_id,
            "added_snapshot_id": entries[0]["snapshot_id"] if entries else None,
        }

    def _replacement_schema_md(self, md: dict, df) -> dict:
        """md updated so df's schema becomes current (overwrite
        semantics): same-name fields keep their existing field ids,
        new names get fresh ids continuing last-column-id (spec rule:
        field ids are never reused for a different column). RETYPING
        an existing column is rejected: the spec allows only narrow
        type promotions on an id, and read_iceberg resolves historic
        snapshots with the CURRENT schema (data files carry all
        columns), so a retype would break time travel on old parquet.
        No-op when the schemas already match by name+type. Works from
        `md` directly — no second metadata read inside the caller's
        OCC retry loop."""
        old_schemas = md.get("schemas") or [md["schema"]]
        cur = next(
            s
            for s in old_schemas
            if s.get("schema-id", 0) == md.get("current-schema-id", 0)
        )
        cur_types = {
            f["name"]: f["type"] for f in cur["fields"]
        }
        new_types = {
            f.name: _spark_type_to_iceberg(f.dataType) for f in df.schema.fields
        }
        if [(f["name"], f["type"]) for f in cur["fields"]] == [
            (f.name, new_types[f.name]) for f in df.schema.fields
        ]:
            return md
        retyped = sorted(
            n
            for n in set(cur_types) & set(new_types)
            if cur_types[n] != new_types[n]
        )
        if retyped:
            raise ValueError(
                f"{self.table_path}: overwrite cannot retype columns "
                f"{retyped} (historic snapshots read with the current "
                "schema; retyping would break time travel)"
            )
        by_name = {f["name"]: f["id"] for f in cur["fields"]}
        last_id = md.get("last-column-id", len(by_name))
        fields = []
        for f in df.schema.fields:
            if f.name in by_name:
                fid = by_name[f.name]
            else:
                last_id += 1
                fid = last_id
            fields.append(
                {
                    "id": fid,
                    "name": f.name,
                    "required": False,
                    "type": new_types[f.name],
                }
            )
        new_schema_id = max(s.get("schema-id", 0) for s in old_schemas) + 1
        ice = {"type": "struct", "schema-id": new_schema_id, "fields": fields}
        md = dict(md)
        md["schema"] = ice
        md["schemas"] = old_schemas + [ice]
        md["current-schema-id"] = new_schema_id
        md["last-column-id"] = last_id
        return md

    def _commit_snapshot(self, table: IcebergTable, staged: list[dict],
                         removed_rel: set[str] | None,
                         keep_unhit: bool, new_schema_df=None,
                         operation: str | None = None,
                         assign_row_ids: bool = False) -> int:
        """Shared OCC commit for delete/overwrite: marks `removed_rel`
        data files DELETED (status 2 — readers skip them, incremental
        consumers see the tombstone), carries unhit manifests forward
        verbatim when keep_unhit, adds one ADDED manifest for `staged`
        files, and commits to exactly read-version + 1. The first
        attempt builds on `table`, the snapshot the verb read; each
        rebase re-opens the table and validates that every removed
        file is STILL live — a concurrent rewrite of one of them
        aborts with IcebergConcurrentDelete instead of silently
        undoing it. removed_rel=None means "whatever is live at commit
        time" (OVERWRITE semantics — recomputed per rebase so a
        concurrent append is tombstoned too, never silently
        dropped)."""
        for _ in range(20):
            md = dict(table.metadata)
            if new_schema_df is not None:
                md = self._replacement_schema_md(md, new_schema_df)
            _, es = self._table_entry_schema(table)
            # scan_entries_full, not data_files(): liveness must keep
            # working on row-level-deleted tables (OPTIMIZE purges v2
            # position files AND v3 deletion vectors), and delete
            # files / DV Puffin files are legitimate removal targets.
            # (Rewrite paths that CANNOT apply deletes refuse upstream
            # via scan_entries/data_entries before reaching here.)
            d_full, d_deletes, _d_eq, d_dv = table.scan_entries_full(None)
            live_rel = (
                {os.path.relpath(p, self.table_path) for p, _pv, _s, _i in d_full}
                | {os.path.relpath(p, self.table_path) for p in d_deletes}
                | {os.path.relpath(p, self.table_path) for p, _r, _o, _sz, _c in d_dv}
            )
            if removed_rel is None:
                removed_now = live_rel
            else:
                removed_now = removed_rel
                gone = sorted(removed_rel - live_rel)
                if gone:
                    raise IcebergConcurrentDelete(
                        f"{self.table_path}: files rewritten/removed by a "
                        f"concurrent commit: {gone[:5]}"
                    )
            snap_id = max(s["snapshot-id"] for s in md["snapshots"]) + 1
            # row-lineage commit (id-preserving rewrite): staged files
            # get fresh first_row_ids from the table's next-row-id —
            # every added data file in a lineage table needs one (the
            # preserved identities ride the files' MATERIALIZED
            # columns); re-assigned per OCC rebase like append's chain
            snap_frid = None
            if assign_row_ids and md.get("next-row-id") is not None and staged:
                snap_frid = int(md["next-row-id"])
                md["next-row-id"] = self._assign_first_row_ids(
                    staged, snap_frid
                )
            manifests: list[dict] = []
            for m, entries in table.manifests(None):
                rels = {e["data_file"]["file_path"] for e in entries
                        if e["status"] != 2}
                hit_here = rels & removed_now
                if not hit_here:
                    if keep_unhit:
                        manifests.append(m)
                    continue
                rewritten = []
                for e in entries:
                    if e["status"] == 2:
                        continue  # old tombstones don't carry forward
                    rel = e["data_file"]["file_path"]
                    rewritten.append(
                        {
                            "status": 2 if rel in removed_now else 0,
                            "snapshot_id": snap_id,
                            "data_file": e["data_file"],
                        }
                    )
                # carried entries keep THEIR manifest's spec — their
                # partition records are shaped by it, so both the
                # stamped id AND the Avro entry schema resolve per-spec
                m_sid = int(m.get("partition_spec_id") or 0)
                _, m_es = self._table_entry_schema(table, spec_id=m_sid)
                manifests.append(
                    self._write_entries(
                        self._unique(f"m{snap_id}-rw"),
                        rewritten,
                        entry_schema=m_es,
                        spec_id=m_sid,
                    )
                )
            if staged:
                manifests.append(
                    self._write_manifest(
                        self._unique(f"m{snap_id}"),
                        staged,
                        snap_id,
                        entry_schema=es,
                        spec_id=int(md.get("default-spec-id") or 0),
                    )
                )
            ml_name = self._unique(f"snap-{snap_id}")
            _write_manifest_list(
                os.path.join(self.meta_dir, ml_name), manifests
            )
            # spec: summary.operation is REQUIRED (v2) and the one
            # field every downstream maintenance tool switches on —
            # derived from the action shape unless the caller names it
            if operation is not None:
                op = operation
            elif removed_now and staged:
                op = "overwrite"
            elif removed_now:
                op = "delete"
            else:
                op = "append"
            new_snap = {
                "snapshot-id": snap_id,
                "timestamp-ms": int(_time.time() * 1000),
                "manifest-list": f"metadata/{ml_name}",
                "summary": {
                    "operation": op,
                    "added-data-files": str(len(staged)),
                    "deleted-data-files": str(len(removed_now)),
                },
            }
            if snap_frid is not None:
                new_snap["first-row-id"] = snap_frid
            md["snapshots"] = md["snapshots"] + [new_snap]
            md["current-snapshot-id"] = snap_id
            try:
                self._commit_metadata(table.metadata_version + 1, md)
                return snap_id
            except IcebergCommitConflict:
                table = IcebergTable(self.table_path)
        raise IcebergCommitConflict(f"{self.table_path}: gave up after retries")

    def _lineage_rewrite_on(self, table: "IcebergTable") -> bool:
        """Whether a rewrite on this table must PRESERVE row lineage by
        materializing the reserved columns into its staged files: the
        table tracks lineage (next-row-id) and the current snapshot is
        fully derivable. A partially-tracked snapshot (foreign
        non-preserving rewrite) keeps the non-preserving path and its
        lineage reads keep refusing — ids are never fabricated."""
        if table.metadata.get("next-row-id") is None:
            return False
        clash = {_ROW_ID_COL, _LAST_SEQ_COL} & {
            f.name for f in table.schema().fields
        }
        if clash:
            return False
        try:
            table.first_row_ids(None)
            return True
        except ValueError:
            return False

    def _lineage_stage_ids(self, table: "IcebergTable") -> dict | None:
        """field_ids for staging files that carry materialized lineage
        columns: the table's ids plus the two RESERVED ids (id-aware
        readers resolve them by id; _ids_gate still suppresses
        wholesale on id-less tables, where the spec names resolve)."""
        try:
            return {
                **table.field_ids(),
                _ROW_ID_COL: _ROW_ID_FIELD_ID,
                _LAST_SEQ_COL: _LAST_SEQ_FIELD_ID,
            }
        except (ValueError, KeyError, StopIteration):
            return None

    def _lineage_subset_scan(self, table, schema, part_cols, entries):
        """Scan a SUBSET of the live data files (a rewrite's hit set)
        with _row_id / _last_updated_sequence_number attached under
        their reserved (= materialized) names — the frame a
        lineage-preserving rewrite stages survivors from. Same
        broadcast-manifest-metadata shape as
        read_iceberg(with_lineage=True), scoped to the hit files."""
        frids = table.first_row_ids(None)
        full, _pos, _eq, _dv = table.scan_entries_full(None)
        use_ids = table.files_carry_field_ids(None)
        lineage_fields = _lineage_fields(use_ids)
        subset = {p for p, _pv in entries}
        lineage = {
            os.path.basename(p): (frids[p], int(seq))
            for p, _pv, seq, _sid in full
            if p in subset
        }
        return _posdelete_filtered_read(
            self.spark, table, schema, part_cols, entries, [],
            lineage=lineage, lineage_fields=lineage_fields,
        )

    def _hit_scan_ms(self, table, schema, hit_full, lin_on):
        """Scan of the HIT files for a row-level rewrite, grouped per
        partition spec (each group assembled with its own identity
        columns — the multi-spec rule), lineage-projecting when the
        table tracks row ids."""
        groups: dict[int, list] = {}
        for p, pv, _sq, sid in hit_full:
            groups.setdefault(sid, []).append((p, pv))
        parts = []
        for sid, grp in sorted(groups.items()):
            pcols = table.partition_fields_for(sid)
            parts.append(
                self._lineage_subset_scan(table, schema, pcols, grp)
                if lin_on
                else _assemble_iceberg(self.spark, schema, pcols, grp)
            )
        out = parts[0]
        for g in parts[1:]:
            out = out.unionByName(g)
        return out

    def _rewrite(self, condition, assignments=None, insert=None) -> int:
        """The copy-on-write path delete_where, update_where and
        replace_where share. Refuses bad `assignments` or `insert`
        input and tables with row-level deletes, collects the live
        data files holding a row where `condition` holds in one Spark
        job, then stages `insert` plus the hit files' rows: the
        survivors, or with `assignments` every row with the matched
        ones updated. Hit files become DELETED manifest entries, the
        staged files one ADDED manifest, and untouched manifests carry
        forward. Partition-evolved tables evaluate and rewrite PER
        SPEC (each file's partition record in its own spec's shape,
        partition columns re-attached — the raw files would read NULL
        for them); the staged files land under the current default
        spec, which is how evolution migrates data without a bulk
        rewrite. On a lineage-tracked table the rewritten rows restage
        WITH their materialized _row_id / _last_updated_sequence_number
        (the same preservation rule as OPTIMIZE) and the commit gives
        the staged files fresh first_row_ids."""
        table = IcebergTable(self.table_path)
        schema = table.schema()
        spec = self._writer_spec(table)
        if assignments is not None:
            exprs = rw.update_exprs(
                assignments, schema, table.partition_fields(), self.table_path
            )
        if insert is not None:
            rw.check_replacement(insert, condition, self.table_path, schema)
        hit_full = []
        if table.data_entries(None):  # refuses row-level deletes
            full = table.scan_entries_full(None)[0]
            live = _assemble_multispec(self.spark, table, schema, full, with_file=True)
            hit_full = rw.hit_files(live, condition, full)
        lin_on = bool(hit_full or insert is not None) and self._lineage_rewrite_on(
            table
        )
        staged = [] if insert is None else self._stage(table, insert, 0, spec)
        if hit_full:
            hot = self._hit_scan_ms(table, schema, hit_full, lin_on)
            if assignments is None:
                out = hot.where(rw.kept(condition))
            else:
                lineage = (_ROW_ID_COL, _LAST_SEQ_COL) if lin_on else None
                out = hot.select(rw.updated(schema, exprs, condition, lineage))
            staged = staged + self._stage(
                table, out, 0, spec,
                field_ids=self._lineage_stage_ids(table) if lin_on else None,
            )
        removed_rel = {os.path.relpath(e[0], self.table_path) for e in hit_full}
        return self._commit_snapshot(
            table, staged, removed_rel, keep_unhit=True, assign_row_ids=lin_on
        )

    def delete_where(self, condition) -> int:
        """Row-level DELETE: rewrite only data files containing matching
        rows; rows whose predicate evaluates to NULL are RETAINED (the
        same semantics as DeltaLogWriter.delete_where)."""
        return self._rewrite(condition)

    def update_where(self, assignments: dict, condition) -> int:
        """Row-level UPDATE ... SET (DeltaLogWriter.update_where
        parity on Iceberg): rewrite only hit data files — matched rows
        get the assignments (evaluated against the pre-update row),
        unmatched rows in hit files restage verbatim, NULL-evaluating
        rows are NOT updated. Identity partition columns refuse as
        targets (a partition move is delete + insert). On a lineage
        table every row keeps its _row_id and an updated row's
        _last_updated_sequence_number resets (it inherits the new
        file's data sequence number). Commits as an overwrite
        snapshot with the usual OCC rebase validation."""
        return self._rewrite(condition, assignments=assignments)

    def replace_where(self, df, condition) -> int:
        """Selective atomic overwrite (the spec's overwrite-by-filter
        operation; Delta's replaceWhere): ONE snapshot tombstones every
        row matching `condition` and adds `df` — the idempotent
        backfill primitive. Input rows violating the predicate raise
        up front (rows leaking outside the replaced region would
        corrupt other slices on re-runs). Only data files containing
        matches are rewritten — with an identity-partition predicate,
        matching files drop whole and the rewrite cost is the NEW data
        only. NULL-evaluating rows are retained (delete_where
        semantics); the input rows get fresh identities."""
        return self._rewrite(condition, insert=df)

    def overwrite(self, df) -> int:
        """Replace the table's contents: every currently-live file gets
        a DELETED tombstone, the new data one ADDED manifest. Validates
        (per rebase) that the files it tombstones are still live.
        When df's schema differs from the table's, the overwrite
        REPLACES the schema (a new schema-id becomes current in the
        same commit) — otherwise reads after the overwrite would be
        silently governed by the stale schema."""
        table = IcebergTable(self.table_path)
        spec = self._writer_spec(table)
        same_schema = [
            (f.name, f.dataType) for f in table.schema().fields
        ] == [(f.name, f.dataType) for f in df.schema.fields]
        staged = self._stage(
            table, df, 0, spec, field_ids=None if same_schema else {}
        )
        # overwritten rows are NEW rows (delete + insert): fresh ids,
        # but the staged files still need first_row_ids assigned on a
        # lineage table or its reads would refuse forever after
        return self._commit_snapshot(
            table, staged, None, keep_unhit=False, new_schema_df=df,
            assign_row_ids=table.metadata.get("next-row-id") is not None,
        )

    def merge(self, source, key: str) -> int:
        """Upsert (MERGE): same semantics and pruning as
        DeltaLogWriter.merge / planktable.merge — only data files whose
        parquet-footer key range overlaps the source's [min, max] are
        rewritten (anti-join + union, distributed); the rest carry
        forward untouched. OCC: the commit validates every tombstoned
        file is still live at commit time, so a concurrent rewrite of
        an overlapping file aborts this merge with
        IcebergConcurrentDelete rather than being silently undone."""
        from pyspark.sql import functions as F

        from plankton_spark.filestats import file_stats as _file_stats
        from plankton_spark.filestats import stat_encode as _stat_encode

        table = IcebergTable(self.table_path)
        raw_lo, raw_hi = source.agg(F.min(key), F.max(key)).first()
        if raw_lo is None:
            return self._commit_snapshot(table, [], set(), keep_unhit=True)
        lo, hi = _stat_encode(raw_lo), _stat_encode(raw_hi)
        schema = table.schema()
        spec = self._writer_spec(table)
        part_cols = table.partition_fields()  # identity attach subset
        needed = {f["source"] for f in spec}
        missing = sorted(needed - set(source.columns))
        if missing:
            raise ValueError(
                f"{self.table_path}: merge source missing partition "
                f"columns {missing}"
            )
        table.data_entries(None)  # refuses row-level deletes
        full = table.scan_entries_full(None)[0]
        if key in part_cols:
            # partition-key merge: typed manifest values, no file IO
            # (an old-spec file lacking the value is treated as
            # overlapping — conservative, never lossy)
            overlap_full = rw.overlapping(
                full, raw_lo, raw_hi, lambda e: (e[1].get(key),) * 2
            )
        else:

            def bounds(e):
                st = _file_stats(e[0])
                return st["minValues"].get(key), st["maxValues"].get(key)

            overlap_full = rw.overlapping(full, lo, hi, bounds)
        lin_on = self._lineage_rewrite_on(table)
        hot = (
            self._hit_scan_ms(table, schema, overlap_full, lin_on)
            if overlap_full
            else None
        )
        # on a lineage table an updated row keeps the target's _row_id
        # with a reset sequence number; inserts get fresh ids
        merged = rw.merged(
            hot, source, key, (_ROW_ID_COL, _LAST_SEQ_COL) if lin_on else None
        )
        staged = self._stage(
            table, merged, 0, spec,
            field_ids=self._lineage_stage_ids(table) if lin_on else None,
        )
        removed_rel = {os.path.relpath(e[0], self.table_path) for e in overlap_full}
        return self._commit_snapshot(
            table, staged, removed_rel, keep_unhit=True, assign_row_ids=lin_on
        )

    def delete_where_pos(self, condition) -> int | None:
        """Row-level delete via format-v2 POSITION DELETE files:
        instead of rewriting hit data files (delete_where — O(bytes)),
        one sorted (file_path, pos) parquet is staged under data/ and
        referenced from a NEW delete manifest (data_file.content=1) —
        O(deleted rows). Deletes ACCUMULATE (no merge needed; the
        delete-aware read unions them) and OPTIMIZE purges them back
        to clean files. The metadata is at least format-version 2 so
        other readers know delete manifests may appear; whole-file
        paths (data_entries, the DSv2 wrapper, streaming) refuse
        position-deleted snapshots. The predicate is evaluated over
        the live rows: NULL-predicate rows are retained, and a call
        that matches only already-deleted rows returns None without
        committing.

        Minimal v2: sequence numbers are not written — our reader
        applies position deletes by exact file path, which is safe
        because paths are unique and a delete can only reference files
        that exist when it commits."""
        for _ in range(20):
            table = IcebergTable(self.table_path)
            _, pos_dels = table.scan_entries(None)  # refuses eq deletes and DVs
            full = table.scan_entries_full(None)[0]
            if not full:
                return None
            rel_of, hits = self._position_hits(
                table, full, _position_deletes(self.spark, pos_dels, ()),
                condition, "position-delete joins",
            )
            snap_id = max(s["snapshot-id"] for s in table.metadata["snapshots"]) + 1
            paths = local_frame(
                self.spark, sorted(rel_of.items()), "__pd_file string, file_path string"
            )
            tmp = os.path.join(self.table_path, f"_stage-{uuid.uuid4().hex}")
            staged = stage.write(
                hits.join(F.broadcast(paths), "__pd_file")
                .select("file_path", F.col("__pd_ridx").alias("pos"))
                # one task writes the file, so one task sorts it too
                # (the spec's (file_path, pos) order)
                .repartition(1)
                .sortWithinPartitions("file_path", "pos"),
                tmp,
                self.table_path,
                stage.renamed(f"posdel-snap{snap_id}-", "data"),
            )
            if not staged:
                return None
            del_file = {
                "content": 1,
                "file_path": staged[0].path,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": staged[0].meta.num_rows,
                "file_size_in_bytes": staged[0].stat.st_size,
            }
            try:
                return self._commit_deletes(
                    table, snap_id, "del", _entry_schema([]), [del_file], 2
                )
            except IcebergCommitConflict:
                continue
        raise IcebergCommitConflict(f"{self.table_path}: gave up after retries")

    def delete_where_dv(self, condition) -> int | None:
        """Row-level delete via format-v3 DELETION VECTORS (the write
        twin of read_iceberg's Puffin support): hit row positions are
        roaring-encoded into one Puffin file (one deletion-vector-v1
        blob per hit data file, sources/puffin.py) referenced from a
        new delete manifest via referenced_data_file + content_offset
        + content_size_in_bytes. O(deleted rows), no data file
        rewritten — the v3 successor of delete_where_pos's (file,pos)
        parquet with ~10-100x smaller delete payloads (bitmaps vs
        sorted pairs) and ONE blob seek per file at read time.

        Spec invariant honored: AT MOST ONE DV per data file — a new
        delete against an already-DV'd file MERGES the prior blob's
        indexes into the new DV and supersedes the old entry (prior
        delete manifests are rebuilt without it; untouched files' DVs
        carry forward into the new manifest, still pointing at their
        old Puffin files). Metadata bumps to format-version 3.

        Driver memory: hit positions collect to the driver to build
        the bitmaps — bounded by rows DELETED THIS CALL plus prior DV
        cardinalities of re-hit files, not table size (Delta's DV
        writer has the same shape); for bulk deletes use delete_where
        (rewrite). Mixing with v2 position/equality deletes in the
        same table refuses — migrate via OPTIMIZE first."""
        import uuid as _uuid
        from collections import defaultdict

        for _ in range(20):
            table = IcebergTable(self.table_path)
            full, pos_dels, eq_dels, dv_dels = table.scan_entries_full(None)
            if pos_dels or eq_dels:
                raise ValueError(
                    f"{self.table_path}: delete_where_dv on a table "
                    "with v2 position/equality deletes — OPTIMIZE to "
                    "clean files first, then use DVs"
                )
            if not full:
                return None
            # the predicate evaluates over the live rows of the
            # per-spec assembly (each file against ITS spec's identity
            # columns), and each hit file's prior DV positions join
            # its hits: a re-hit file's new DV supersedes the old one
            deletes = _position_deletes(self.spark, (), dv_dels)
            rel_of, hits = self._position_hits(
                table, full, deletes, condition, "DV hit attribution",
                prior=deletes[0][0] if deletes else None,
            )
            by_file: dict[str, set[int]] = defaultdict(set)
            for f, i in hits.collect():
                by_file[f].add(int(i))
            if not by_file:
                return None
            snap_id = max(s["snapshot-id"] for s in table.metadata["snapshots"]) + 1
            blobs = [
                {
                    "type": "deletion-vector-v1",
                    "data": _puffin.dv_blob(sorted(by_file[b])),
                    "snapshot-id": snap_id,
                    "properties": {
                        "referenced-data-file": rel_of[b],
                        "cardinality": str(len(by_file[b])),
                    },
                }
                for b in sorted(by_file)
            ]
            puffin_rel = f"data/dv-snap{snap_id}-{_uuid.uuid4().hex}.puffin"
            puffin_abs = os.path.join(self.table_path, puffin_rel)
            metas = _puffin.write_puffin(puffin_abs, blobs)

            def dv_file(fp, ref, off, sz, card):
                return {
                    "content": 1,
                    "file_path": fp,
                    "file_format": "PUFFIN",
                    "partition": {},
                    "record_count": card,
                    "file_size_in_bytes": os.path.getsize(
                        os.path.join(self.table_path, fp)
                    ),
                    "referenced_data_file": ref,
                    "content_offset": off,
                    "content_size_in_bytes": sz,
                }

            added = [
                dv_file(puffin_rel, rel_of[b], m["offset"], m["length"], len(by_file[b]))
                for b, m in zip(sorted(by_file), metas)
            ]
            # carry forward untouched files' DVs (status 0 EXISTING);
            # record_count comes from the prior manifest entry — no
            # blob re-read/re-decode per untouched file; an unknown
            # (-1) foreign cardinality decodes ONCE here so the
            # carried entry records the truth, not a sentinel
            kept = [
                dv_file(
                    os.path.relpath(pp, self.table_path), ref, off, sz,
                    card if card >= 0 else len(_puffin.dv_indexes(pp, off, sz)),
                )
                for pp, ref, off, sz, card in dv_dels
                if os.path.basename(ref.rstrip("/")) not in by_file
            ]
            try:
                return self._commit_deletes(
                    table, snap_id, "dv", _DV_ENTRY_SCHEMA_V3, added, 3,
                    kept=kept,
                )
            except IcebergCommitConflict:
                continue
        raise IcebergCommitConflict(f"{self.table_path}: gave up after retries")

    def delete_where_eq(self, keys_df) -> int | None:
        """Row-level delete via format-v2 EQUALITY delete files (the
        write twin of read_iceberg's equality support): every column
        of `keys_df` is an equality key, every row names one key to
        delete. O(delete keys) — no data file is opened or rewritten;
        the delete-aware read subtracts matching rows from all data
        files with a STRICTLY SMALLER data sequence number, so rows
        appended AFTER this commit keep their keys (the Flink upsert
        pattern this exists for).

        This commit activates sequence tracking: the table metadata
        gains `last-sequence-number`, this delete manifest takes the
        next number, and subsequent appends stamp their new manifests
        with increasing numbers (_write_manifest_list preserves every
        carried record's number). Rewrite paths (delete_where,
        OPTIMIZE, MERGE, overwrite) refuse equality-deleted snapshots
        via the scan_entries contract — applying them correctly needs
        delete-aware rewrites this engine reserves for reads."""
        if keys_df.isEmpty():
            return None
        key_cols = list(keys_df.columns)
        table = IcebergTable(self.table_path)
        by_name = {f.name: f for f in table.schema().fields}
        missing = sorted(set(key_cols) - set(by_name))
        if missing:
            raise ValueError(
                f"{self.table_path}: equality-delete keys {missing} not "
                "in the table schema"
            )
        # field ids from the CURRENT schema (the reader maps them back
        # by id, so renames stay safe)
        md0 = table.metadata
        cur = next(
            s
            for s in (md0.get("schemas") or [md0["schema"]])
            if s.get("schema-id", 0) == md0.get("current-schema-id", 0)
        )
        ids_by_name = {f["name"]: f["id"] for f in cur["fields"]}
        # stage the key rows once, typed exactly as the table declares
        # them (a long/int mismatch would silently never match)
        keys = keys_df.select(
            *[F.col(c).cast(by_name[c].dataType) for c in key_cols]
        ).distinct()
        # each attempt renames the one staged file to its snapshot's name
        token = uuid.uuid4().hex
        tmp = os.path.join(self.table_path, f"_stage-{token}")
        [staged] = stage.write(
            keys.coalesce(1), tmp, self.table_path,
            lambda _rel, _values: f"data/eqdel-{token}.parquet",
        )
        at = staged.path
        for _ in range(20):
            snap_id = max(s["snapshot-id"] for s in table.metadata["snapshots"]) + 1
            rel = f"data/eqdel-snap{snap_id}-{token}.parquet"
            os.replace(
                os.path.join(self.table_path, at), os.path.join(self.table_path, rel)
            )
            at = rel
            del_file = {
                "content": 2,
                "file_path": rel,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": staged.meta.num_rows,
                "file_size_in_bytes": staged.stat.st_size,
                "equality_ids": [ids_by_name[c] for c in key_cols],
            }
            try:
                return self._commit_deletes(
                    table, snap_id, "eqdel", _EQ_ENTRY_SCHEMA, [del_file], 2,
                    seq=(table.metadata.get("last-sequence-number") or 0) + 1,
                )
            except IcebergCommitConflict:
                table = IcebergTable(self.table_path)
        os.remove(os.path.join(self.table_path, at))
        raise IcebergCommitConflict(f"{self.table_path}: gave up after retries")

    def _position_hits(self, table, full, deletes, condition, what, prior=None):
        """(basename → table-relative path of every live data file,
        the positions of the live rows where `condition` holds) for a
        merge-on-read delete: the per-spec assembly of `full` minus
        `deletes`, with `prior` as in `positions.hits`. Each file is
        assembled against its own spec's identity columns: the default
        spec's would read an evolved table's old-spec partition
        columns as NULL and silently miss rows. Data files whose
        basenames cannot key the join refuse, naming `what`."""
        rel_of = {
            b: os.path.relpath(p, self.table_path)
            for b, p in positions.basenames(
                (e[0] for e in full),
                lambda b: ValueError(
                    f"{self.table_path}: cannot key {what} by file basename: "
                    f"duplicate or URI-unsafe name {b!r}"
                ),
            ).items()
        }
        scan = _assemble_multispec(
            self.spark, table, table.schema(), full, with_pos=True
        )
        live = positions.live(scan, deletes)
        return rel_of, positions.hits(live, condition, prior)

    def _commit_deletes(
        self, table, snap_id, tag, entry_schema, added, version, seq=None,
        kept=None,
    ) -> int:
        """Commit snapshot `snap_id`, a delete: one new manifest lists
        the delete files `added` (and, with `kept`, the still-live
        delete files it re-lists as EXISTING, superseding every prior
        delete manifest, which the snapshot then drops). `seq` gives
        the manifest that sequence number and advances
        `last-sequence-number`. A delete adds no rows, so on a
        lineage table the snapshot's first-row-id is the table's
        next-row-id. `format-version` rises to `version` and never
        falls. Raises IcebergCommitConflict when another commit won."""
        m_name = self._unique(f"m{snap_id}-{tag}")
        m_path = os.path.join(self.meta_dir, m_name)
        write_ocf_generic(
            m_path,
            entry_schema,
            [{"status": 1, "snapshot_id": snap_id, "data_file": f} for f in added]
            + [{"status": 0, "snapshot_id": snap_id, "data_file": f} for f in kept or []],
        )

        def content(m: dict) -> int:
            # Manifest-list records SHOULD carry content (0=data,
            # 1=deletes). A foreign list that omits it must not
            # default a DELETE manifest to data when it is superseded:
            # carrying it forward would leave TWO live DV entries per
            # file (breaking the at-most-one-DV invariant) and keep
            # stale Puffin files live. Classify by the manifest's own
            # entries' data_file.content instead.
            if m.get("content") is not None or kept is None:
                return int(m.get("content") or 0)
            cs = {
                int((e.get("data_file") or {}).get("content") or 0)
                for e in table._avro(table._resolve(m["manifest_path"]))
            }
            return 0 if cs <= {0} else 1

        manifests = []
        for m in table.manifest_list(None):
            c = content(m)
            if kept is None or c == 0:
                manifests.append({**m, "content": c})
        manifests.append(
            {
                "manifest_path": f"metadata/{m_name}",
                "manifest_length": os.path.getsize(m_path),
                "partition_spec_id": 0,
                "content": 1,
                "added_snapshot_id": snap_id,
                **({} if seq is None else {"sequence_number": seq}),
            }
        )
        ml_name = self._unique(f"snap-{snap_id}")
        # _write_manifest_list preserves carried sequence numbers
        # (a foreign v3/lineage table's data manifests carry them;
        # re-listing with the seq-less record shape would zero every
        # file's data sequence)
        _write_manifest_list(os.path.join(self.meta_dir, ml_name), manifests)
        md = dict(table.metadata)
        md["format-version"] = max(int(md.get("format-version") or 1), version)
        if seq is not None:
            md["last-sequence-number"] = seq
        snap = {
            "snapshot-id": snap_id,
            "timestamp-ms": int(_time.time() * 1000),
            "manifest-list": f"metadata/{ml_name}",
            # spec: summary.operation is REQUIRED (v2)
            "summary": {
                "operation": "delete",
                "added-data-files": "0",
                "deleted-data-files": "0",
            },
        }
        if md.get("next-row-id") is not None:
            snap["first-row-id"] = int(md["next-row-id"])
        md["snapshots"] = md["snapshots"] + [snap]
        md["current-snapshot-id"] = snap_id
        self._commit_metadata(table.metadata_version + 1, md)
        return snap_id

    def set_property(self, key: str, value: str) -> None:
        """SET TBLPROPERTIES for Iceberg: metadata-only commit updating
        metadata['properties'] (the spec's string map). OCC via the
        vN.metadata.json link claim, rebuilt from a fresh snapshot per
        retry (the same rebuild-per-conflict rule as Delta's
        _commit_metadata_update)."""
        for _ in range(20):
            t = IcebergTable(self.table_path)
            md = dict(t.metadata)
            props = dict(md.get("properties") or {})
            props[key] = str(value)
            md["properties"] = props
            try:
                self._commit_metadata(t.metadata_version + 1, md)
                return
            except IcebergCommitConflict:
                continue
        raise IcebergCommitConflict(
            f"{self.table_path}: gave up after retries"
        )

    def unset_property(self, key: str) -> None:
        """UNSET TBLPROPERTIES (error if absent)."""
        for _ in range(20):
            t = IcebergTable(self.table_path)
            md = dict(t.metadata)
            props = dict(md.get("properties") or {})
            if key not in props:
                raise ValueError(f"{self.table_path}: no property {key!r}")
            del props[key]
            md["properties"] = props
            try:
                self._commit_metadata(t.metadata_version + 1, md)
                return
            except IcebergCommitConflict:
                continue
        raise IcebergCommitConflict(
            f"{self.table_path}: gave up after retries"
        )

    def optimize(
        self,
        num_files: int = 1,
        target_file_mb: float | None = None,
        zorder_by: list[str] | None = None,
        sort_by: list[str] | None = None,
    ) -> int:
        """Compaction (the spec's rewrite/'replace' operation): the
        live file set re-staged as `num_files` larger files, every
        file it READ tombstoned. Content-identical — only layout
        changes; old snapshots still read their old files (time travel
        intact). OCC: the removed set is exactly the files read (NOT
        whatever-is-live-at-commit, which would tombstone a concurrent
        append's rows this rewrite never read — data loss), so a
        racing append carries forward and a racing rewrite of a read
        file aborts the compaction."""
        if sort_by and zorder_by:
            # validate BEFORE the empty-table early return — a
            # contradictory call must raise, not silently commit
            # (review finding; Delta's optimize validates first too)
            raise ValueError("pass sort_by or zorder_by, not both")
        table = IcebergTable(self.table_path)
        spec = self._writer_spec(table)
        part_cols = table.partition_fields()  # identity attach subset
        # scan_entries_full, not scan_entries: compaction is exactly
        # the operation that PURGES row-level deletes (v2 position
        # files AND v3 deletion vectors), so it must see them instead
        # of tripping the whole-file refusal. Equality deletes still
        # refuse via scan_entries below (their sequence semantics
        # cannot be purged by a plain rewrite).
        full, pos_dels, _eq, dv_dels = table.scan_entries_full(None)
        if _eq:
            # keep the loud equality-delete refusal scan_entries gives
            table.scan_entries(None)
        entries = [(p, pv) for p, pv, _seq, _sid in full]
        deletes = list(pos_dels)
        if not entries:
            return self._commit_snapshot(table, [], set(), keep_unhit=True)
        # v3 ROW LINEAGE: a compaction must PRESERVE row identities —
        # the spec's rule is to MATERIALIZE _row_id and
        # _last_updated_sequence_number into the rewritten files
        # (inheritance would hand out new ids). Taken only when the
        # snapshot is FULLY tracked; a partially-tracked table (files
        # rewritten by a non-preserving op) keeps today's
        # non-preserving rewrite and its lineage reads keep refusing.
        lineage_live = table.metadata.get("next-row-id") is not None
        if lineage_live:
            try:
                table.first_row_ids(None)
            except ValueError:
                lineage_live = False
        multi_spec = len({sid for _p, _pv, _sq, sid in full}) > 1
        if lineage_live and multi_spec and (deletes or dv_dels):
            # row-level deletes over a multi-spec snapshot refuse on
            # every read path already; keep that refusal here rather
            # than silently dropping either property
            raise ValueError(
                f"{self.table_path}: compaction of a partition-evolved "
                "snapshot with live row-level deletes is not supported "
                "— delete after compacting, or compact before deleting"
            )
        if lineage_live:
            clash = sorted(
                {_ROW_ID_COL, _LAST_SEQ_COL}
                & {f.name for f in table.schema().fields}
            )
            if clash:
                raise ValueError(
                    f"{self.table_path}: cannot materialize row "
                    f"lineage — data columns {clash} collide with the "
                    "reserved lineage column names"
                )
            # the MULTI-SPEC compaction — exactly the op that resolves
            # partition evolution — preserves lineage by scanning each
            # spec group with ITS identity columns attached; a
            # single-spec table takes the lineage-projecting read,
            # which is also delete-aware, so it doubles as the
            # DV/pos-delete purge path (survivors keep their ids:
            # positions are physical, DVs never rewrite)
            df = (
                self._hit_scan_ms(table, table.schema(), full, True)
                if multi_spec
                else _read_snapshot(self.spark, table, None, with_lineage=True)
            )
        elif deletes or dv_dels or multi_spec:
            # compaction PURGES row-level deletes: the delete-aware
            # read drops the marked rows (v2 parquet position files
            # and v3 Puffin DVs alike), the re-stage is clean, and the
            # data files read, the delete files, and the DV Puffin
            # files all tombstone. Logical content unchanged. A
            # partition-evolved table needs the same per-spec
            # assembly (attaching the default spec's columns across
            # the board would NULL out old-spec files' content
            # columns); the output restages under the current default
            # spec — exactly the op that RESOLVES the evolution
            df = _read_snapshot(self.spark, table, None)
        elif part_cols:
            df = _assemble_iceberg(self.spark, table.schema(), part_cols, entries)
        else:
            df = self.spark.read.schema(table.schema()).parquet(
                *[p for p, _ in entries]
            )
        # Z-ORDER and sort_by on a partition-spec'd table split into
        # partitions at staging, so num_files bounds files PER
        # PARTITION (Delta's OPTIMIZE granularity); a size target
        # salts on the spec's source columns for a GLOBAL file budget
        df = rw.compacted(
            df, num_files, zorder_by, sort_by, target_file_mb,
            (os.path.getsize(p) for p, _ in entries),
            [f["source"] for f in spec], [pv for _, pv in entries],
        )
        # the materialized lineage columns are stamped with their
        # RESERVED parquet field ids alongside the table columns' ids
        staged = self._stage(
            table, df, 0, spec,
            field_ids=self._lineage_stage_ids(table) if lineage_live else None,
        )
        removed_rel = (
            {os.path.relpath(p, self.table_path) for p, _ in entries}
            | {os.path.relpath(p, self.table_path) for p in deletes}
            | {os.path.relpath(p, self.table_path) for p, _r, _o, _s, _c in dv_dels}
        )
        # layout-only rewrite: the spec's "replace" operation (rows
        # unchanged) — maintenance tools skip these in CDC/incremental
        return self._commit_snapshot(
            table, staged, removed_rel, keep_unhit=True, operation="replace",
            assign_row_ids=lineage_live,
        )

    def rollback_to(self, snapshot_id: int) -> int:
        """Rollback (the spec's setCurrentSnapshot/rollback operation):
        move current-snapshot-id back to an EXISTING snapshot in one
        new metadata version. The snapshot list is untouched — time
        travel still reads every snapshot, including the pre-rollback
        tip; nothing is staged, read, or rewritten. Refuses unknown /
        expired snapshot ids, and refuses when any of the target
        snapshot's data or delete files was physically removed since
        (an unreadable current snapshot would be silent corruption —
        the same guard as DeltaLogWriter.restore and
        planktable.restore)."""
        for _ in range(20):
            table = IcebergTable(self.table_path)
            md = dict(table.metadata)
            ids = {s["snapshot-id"] for s in md.get("snapshots") or []}
            if snapshot_id not in ids:
                raise ValueError(
                    f"{self.table_path}: no snapshot {snapshot_id} "
                    f"(known/retained: {sorted(ids)})"
                )
            # scan_entries_full: rollback is metadata-only and must
            # work on DV'd snapshots (undoing a bad DV delete IS the
            # use case — round-9 review #2); the missing-file check
            # covers data files, v2 delete files AND DV Puffin files
            r_full, r_pos, r_eq, r_dv = table.scan_entries_full(snapshot_id)
            missing = sorted(
                p
                for p in [p for p, _pv, _s, _i in r_full]
                + list(r_pos)
                + [p for p, _ids, _s in r_eq]
                + [p for p, _r, _o, _s, _c in r_dv]
                if not os.path.exists(p)
            )
            if missing:
                raise FileNotFoundError(
                    f"{self.table_path}: cannot rollback to snapshot "
                    f"{snapshot_id} — {len(missing)} file(s) removed: "
                    f"{missing[:5]}"
                )
            md["current-snapshot-id"] = snapshot_id
            try:
                self._commit_metadata(table.metadata_version + 1, md)
                return snapshot_id
            except IcebergCommitConflict:
                continue  # rebase on the newer metadata
        raise IcebergCommitConflict(f"{self.table_path}: gave up after retries")

    def vacuum(self, grace_seconds: float = 600.0) -> list[str]:
        """Remove ORPHAN data files — files under data/ that no
        manifest of ANY snapshot references (staging leftovers from
        crashed writers and OCC losers that staged then aborted).
        Files referenced by historic snapshots are kept so time travel
        keeps working (the retention=infinite end of the spec's
        remove-orphan-files / expire-snapshots pair).

        `grace_seconds` (default 10 min) skips files younger than the
        window: a concurrent writer stages data files BEFORE its
        metadata commit lands, so an unreferenced-but-fresh file may
        belong to an in-flight transaction — deleting it would corrupt
        that writer's about-to-succeed commit."""
        import shutil as _shutil
        import time as _time

        table = IcebergTable(self.table_path)
        referenced: set[str] = set()
        referenced_meta: set[str] = set()
        for snap in table.snapshots():
            referenced_meta.add(table._resolve(snap["manifest-list"]))
            for m, entries in table.manifests(snap["snapshot-id"]):
                referenced_meta.add(table._resolve(m["manifest_path"]))
                for e in entries:
                    referenced.add(table._resolve(e["data_file"]["file_path"]))
        now = _time.time()
        removed: list[str] = []
        data_dir = os.path.join(self.table_path, "data")
        if os.path.isdir(data_dir):
            # recursive: partitioned writes place files under
            # data/<col>=<val>/ subdirectories
            for dirpath, _dirs, fnames in os.walk(data_dir):
                for f in fnames:
                    full = os.path.join(dirpath, f)
                    if (
                        full not in referenced
                        and now - os.path.getmtime(full) > grace_seconds
                    ):
                        os.remove(full)
                        removed.append(
                            os.path.relpath(full, self.table_path)
                        )
        # manifest/manifest-list avros referenced by NO remaining
        # snapshot (expire_snapshots leftovers); the grace window
        # protects a concurrent commit that wrote its manifests but
        # hasn't published its metadata version yet
        if os.path.isdir(self.meta_dir):
            for f in os.listdir(self.meta_dir):
                full = os.path.join(self.meta_dir, f)
                if (
                    f.endswith(".avro")
                    and full not in referenced_meta
                    and now - os.path.getmtime(full) > grace_seconds
                ):
                    os.remove(full)
                    removed.append(os.path.relpath(full, self.table_path))
        for e in os.listdir(self.table_path):
            full = os.path.join(self.table_path, e)
            if (
                e.startswith("_stage-")
                and now - os.path.getmtime(full) > grace_seconds
            ):
                _shutil.rmtree(full, ignore_errors=True)
                removed.append(e)
        return sorted(removed)

    def set_ref(
        self, name: str, snapshot_id: int | None = None, kind: str = "tag"
    ) -> int:
        """Create or move a named REF (the v2 spec's refs map): a
        `tag` pins a snapshot for keeps (release cuts, audit points),
        a `branch` is a movable head. One metadata-only commit writes
        metadata['refs'][name] = {snapshot-id, type}; readers resolve
        it via read_iceberg(..., ref=name) and expire_snapshots
        RETAINS every ref'd snapshot — that retention guarantee is
        what makes a tag more than a remembered integer."""
        if kind not in ("tag", "branch"):
            raise ValueError(f"ref type must be 'tag' or 'branch': {kind!r}")
        for _ in range(20):
            table = IcebergTable(self.table_path)
            md = dict(table.metadata)
            sid = (
                md.get("current-snapshot-id")
                if snapshot_id is None
                else snapshot_id
            )
            ids = {s["snapshot-id"] for s in md.get("snapshots") or []}
            if sid not in ids:
                raise ValueError(
                    f"{self.table_path}: no snapshot {sid} "
                    f"(known/retained: {sorted(ids)})"
                )
            refs = dict(md.get("refs") or {})
            refs[name] = {"snapshot-id": sid, "type": kind}
            md["refs"] = refs
            try:
                self._commit_metadata(table.metadata_version + 1, md)
                return sid
            except IcebergCommitConflict:
                continue
        raise IcebergCommitConflict(f"{self.table_path}: gave up after retries")

    def drop_ref(self, name: str) -> None:
        """Remove a named ref; its snapshot loses expiry protection
        (and becomes expirable like any other)."""
        for _ in range(20):
            table = IcebergTable(self.table_path)
            md = dict(table.metadata)
            refs = dict(md.get("refs") or {})
            if name not in refs:
                raise ValueError(
                    f"{self.table_path}: no ref {name!r} "
                    f"(known: {sorted(refs)})"
                )
            del refs[name]
            md["refs"] = refs
            try:
                self._commit_metadata(table.metadata_version + 1, md)
                return
            except IcebergCommitConflict:
                continue
        raise IcebergCommitConflict(f"{self.table_path}: gave up after retries")

    def expire_snapshots(self, keep_last: int = 5) -> list[int]:
        """Snapshot retention (the spec's expireSnapshots half of the
        expire/remove-orphans pair — vacuum alone is
        retention=infinite): a metadata-only commit drops all but the
        newest `keep_last` snapshots. Expired ids stop time-traveling
        (unknown snapshot), checkpointed streams that consumed an
        expired id fail loudly at resume (snapshot-id-keyed offsets),
        and the expired snapshots' exclusively-referenced data files
        AND manifest avros become vacuum-able orphans. Returns the
        expired snapshot ids."""
        if keep_last < 1:
            # snaps[-0:] is the WHOLE list — an explicit guard beats
            # the slicing trap, and a table needs a current snapshot
            raise ValueError(
                f"{self.table_path}: keep_last must be >= 1 (the "
                "current snapshot cannot be expired)"
            )
        for _ in range(20):
            table = IcebergTable(self.table_path)
            snaps = table.metadata.get("snapshots", [])
            if len(snaps) <= keep_last:
                return []
            # refs pin snapshots across expiry (the spec's retention
            # rule — a tag that can expire is just a remembered int)
            pinned = {
                r["snapshot-id"]
                for r in (table.metadata.get("refs") or {}).values()
            }
            keep_ids = {s["snapshot-id"] for s in snaps[-keep_last:]} | pinned
            keep = [s for s in snaps if s["snapshot-id"] in keep_ids]
            cur = table.metadata.get("current-snapshot-id")
            if cur is not None and all(s["snapshot-id"] != cur for s in keep):
                raise ValueError(
                    f"{self.table_path}: keep_last={keep_last} would "
                    "expire the current snapshot"
                )
            expired = [
                s["snapshot-id"] for s in snaps if s["snapshot-id"] not in keep_ids
            ]
            if not expired:
                return []
            md = dict(table.metadata)
            md["snapshots"] = keep
            try:
                self._commit_metadata(table.metadata_version + 1, md)
                return expired
            except IcebergCommitConflict:
                continue
        raise IcebergCommitConflict(f"{self.table_path}: gave up after retries")


# ---------------------------------------------------------------------
# Streaming source — the snapshot lineage as a changelog, mirroring
# the deltalog/planktable streaming sources: each append snapshot's
# ADDED data files are a micro-batch; offsets are
# {"last_snapshot_id": id} — resolved to a position in the CURRENT
# append-ordered md["snapshots"] at read time, so snapshot expiry by
# another tool fails loudly instead of replaying/skipping (legacy
# {"index": N} checkpoints still resolve positionally).
# Snapshots that introduce DELETED entries (row-level delete,
# overwrite, merge, compaction) raise unless ignoreChanges=true,
# because their re-added files would duplicate surviving rows —
# Iceberg manifests carry no dataChange flag to distinguish a
# layout-only rewrite, so the conservative refusal is the only safe
# default.
# ---------------------------------------------------------------------


class _SnapshotStream(VersionedStreamReader):
    """A stream over the snapshot lineage. Offsets carry the
    last-consumed snapshot id, resolved to a position in the CURRENT
    snapshot list at read time (ADVICE r6 #5): a raw positional index
    silently replays or skips snapshots once another tool expires or
    rewrites the list, so an id that vanished is a hard error. Legacy
    positional checkpoints resolve as-is."""

    key = "last_snapshot_id"
    LEGACY: str  # the positional key of pre-id checkpoints
    GONE: str  # the refusal when a checkpointed id is gone
    FIELDS: list = []  # columns the feed appends to the table's

    def __init__(self, path: str):
        t = IcebergTable(path)
        super().__init__(
            path,
            T.StructType(t.schema().fields + self.FIELDS),
            None,
            by_field_id(t.field_ids()),
        )

    def _snaps(self) -> list[dict]:
        return IcebergTable(self.path).snapshots()

    def latest(self) -> int | None:
        snaps = self._snaps()
        return snaps[-1]["snapshot-id"] if snaps else None

    def _pos_after(self, snaps: list[dict], off: dict) -> int:
        if self.LEGACY in off:
            return off[self.LEGACY]
        sid = off.get(self.key)
        if sid is None:
            return 0
        for i, s in enumerate(snaps):
            if s["snapshot-id"] == sid:
                return i + 1
        raise ValueError(self.GONE.format(path=self.path, sid=sid))


class IcebergStreamReader(_SnapshotStream):
    LEGACY = "index"
    GONE = (
        "{path}: checkpointed snapshot {sid} is no longer in the "
        "metadata snapshot list (expired or rewritten by another "
        "tool); cannot resume without replaying or skipping data"
    )

    def __init__(self, path: str, ignore_changes: bool):
        super().__init__(path)
        self.ignore_changes = ignore_changes

    def _added(self, start: dict, end: dict) -> list[FilePart]:
        table = IcebergTable(self.path)
        snaps = table.snapshots()
        out: list[FilePart] = []
        for snap in snaps[self._pos_after(snaps, start) : self._pos_after(snaps, end)]:
            sid = snap["snapshot-id"]
            adds: list[FilePart] = []
            has_delete = False
            for m in table.manifest_list(sid):
                # manifests carried forward verbatim contain no entries
                # for THIS snapshot; only newly written ones can
                if m.get("added_snapshot_id") != sid:
                    continue
                for e in table._avro(table._resolve(m["manifest_path"])):
                    if e.get("snapshot_id") != sid:
                        continue
                    if e["data_file"].get("content", 0) != 0:
                        # a v2 delete file (position/equality) is a
                        # row-level delete: emitting it as data (or
                        # streaming around it) would be wrong
                        has_delete = True
                        continue
                    if e["status"] == 1:
                        adds.append(
                            FilePart(
                                table._resolve(e["data_file"]["file_path"]),
                                e["data_file"].get("partition"),
                            )
                        )
                    elif e["status"] == 2:
                        has_delete = True
            if has_delete and not self.ignore_changes:
                raise ValueError(
                    f"{self.path}: snapshot {sid} rewrites/removes data — "
                    "cannot stream without duplicates; set "
                    "ignoreChanges=true to stream added files anyway"
                )
            out.extend(adds)
        return out

    def partitions(self, start: dict, end: dict):
        return self._added(start, end)


def read_iceberg_changes(spark, table_path: str, sid_from: int, sid_to: int):
    """Change data feed between two snapshots via multiset snapshot
    diff (exceptAll both ways) — see read_delta_changes; compaction
    snapshots produce an empty feed."""
    from plankton_spark.sources.assemble import snapshot_changes

    return snapshot_changes(
        read_iceberg(spark, table_path, snapshot_id=sid_to),
        read_iceberg(spark, table_path, snapshot_id=sid_from),
    )


def read_iceberg_changelog(
    spark, table_path: str, sid_from: int, sid_to: int
):
    """Row-level CHANGELOG SCAN over the snapshots in [sid_from,
    sid_to], both inclusive — the Iceberg-side twin of
    read_delta_cdf (the spec's incremental changelog semantics): per
    snapshot,

    - files ADDED contribute their rows (minus any deletion vector
      already carried at that snapshot) as `insert`;
    - files REMOVED contribute their PRE-snapshot rows (minus the
      positions already DV-deleted before) as `delete`;
    - DV GROWTH on carried files contributes exactly the
      newly-marked positions as `delete` (old DV rows never
      re-emit — a superseding blob is a union, not a replacement);
    - `replace` snapshots (OPTIMIZE's layout-only rewrites) are
      skipped per the spec's operation label, so compaction produces
      an EMPTY feed.

    Output: table columns + `_change_type` + `_snapshot_id`.
    EQUALITY-DELETED boundaries attribute by diffing live-row SETS
    (position-identity anti-join of the prev/cur live scans on
    carried files; the eq deletes themselves apply through the same
    seq-gated null-safe anti-join the read path uses) — value-keyed
    deletes aren't position-attributable per mechanism, but the
    before/after difference is exact. PARTITION-EVOLVED (multi-spec)
    ranges assemble PER SPEC and union (each file's partition record
    is shaped by its own spec — the read path's partition-evolution
    technique applied at every boundary), so changelog history
    survives a spec change — including eq-deleted multi-spec
    boundaries (deletes are spec-agnostic: sequenced by data file,
    matched by value, so the live-set diff composes with the
    per-spec assembly). The STREAMING icebergcdf source handles
    eq-deleted ranges too (round 13): planning computes the same
    live-set diff into per-partition key payloads, keeping each
    per-file reader join-free. Per-file DV
    index sets decode once per snapshot boundary (bounded by deleted
    rows — the same driver budget the DV writers accept); the row
    scans themselves are native parquet with the (file, position)
    sets joined in, no Python row path."""
    t = IcebergTable(table_path)
    snaps = t.metadata.get("snapshots") or []
    by_id = {s["snapshot-id"]: s for s in snaps}
    chain = [s["snapshot-id"] for s in snaps]
    in_range = [sid for sid in chain if sid_from <= sid <= sid_to]
    schema = t.schema()
    out_schema = T.StructType(
        list(schema.fields)
        + [
            T.StructField("_change_type", T.StringType()),
            T.StructField("_snapshot_id", T.LongType()),
        ]
    )
    if not in_range:
        return local_frame(spark, [], out_schema)

    from plankton_spark.sources import puffin as _puffin

    state_cache: dict[int | None, tuple[dict, dict, dict, list, dict]] = {}

    def state(sid: int | None):
        """{abs_path: pv}, {abs_path: sorted deleted indexes},
        {abs_path: spec_id} (multi-spec snapshots keep every file's
        own spec — assembly below unions per spec), sorted eq-delete
        files, {basename: data sequence}."""
        if sid in state_cache:
            return state_cache[sid]
        if sid is None:
            state_cache[sid] = ({}, {}, {}, [], {})
            return state_cache[sid]
        full, pos_dels, eq_dels, dv_dels = t.scan_entries_full(sid)
        seq_map = {
            os.path.basename(p): int(sq)
            for p, _pv, sq, _s in full
            if sq is not None
        }
        if eq_dels and len(seq_map) != len(full):
            raise ValueError(
                f"{table_path}: changelog scan over an equality-"
                "deleted snapshot whose data files carry no sequence "
                "numbers — the deletes cannot be ordered (same refusal "
                "as read_iceberg)"
            )
        files = {p: pv for p, pv, _sq, _sid2 in full}
        specs = {p: s for p, _pv, _sq, s in full}
        by_base = {os.path.basename(p): p for p in files}
        dvsets: dict[str, set[int]] = {}
        for pp, ref, off, sz, _card in dv_dels:
            base = os.path.basename(ref.rstrip("/"))
            if base in by_base:
                dvsets.setdefault(by_base[base], set()).update(
                    _puffin.dv_indexes(pp, int(off), int(sz))
                )
        if pos_dels:
            import pyarrow.parquet as _pq

            for dfp in pos_dels:
                tbl = _pq.read_table(dfp, columns=["file_path", "pos"])
                for fp, pos in zip(
                    tbl.column("file_path").to_pylist(),
                    tbl.column("pos").to_pylist(),
                ):
                    base = os.path.basename(str(fp).rstrip("/"))
                    if base in by_base:
                        dvsets.setdefault(by_base[base], set()).add(
                            int(pos)
                        )
        state_cache[sid] = (files, dvsets, specs, sorted(eq_dels), seq_map)
        return state_cache[sid]

    def assemble_ms(files_map, specs_map):
        """Position-stamped scan of ``files_map`` with PER-SPEC
        assembly union — partition evolution keeps every live file's
        partition record in its own spec's shape, so each spec group
        assembles against its own identity columns (the read path's
        multi-spec technique) and the union carries the table
        schema + (__pd_file, __pd_ridx) identity."""
        groups: dict[int, list] = {}
        for p in sorted(files_map):
            groups.setdefault(specs_map[p], []).append((p, files_map[p]))
        sel = [f.name for f in schema.fields] + ["__pd_file", "__pd_ridx"]
        frames = [
            _assemble_iceberg(
                spark,
                schema,
                t.partition_fields_for(spec_id),
                groups[spec_id],
                with_pos=True,
            ).select(*sel)
            for spec_id in sorted(groups)
        ]
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr)
        return out

    def scan_minus(files_map, specs_map, drop_sets, ct, sid):
        """Scan ``files_map`` minus the (file, position) pairs in
        drop_sets, stamped with the change type + snapshot id."""
        scan = assemble_ms(files_map, specs_map)
        pairs = [
            (os.path.basename(p), int(i))
            for p, idx in sorted(drop_sets.items())
            for i in idx
        ]
        if pairs:
            drop = local_frame(
                spark, pairs, "__pd_file string, __pd_ridx long"
            )
            scan = scan.withColumn(
                "__pd_file", F.substring_index("__pd_file", "/", -1)
            ).join(
                F.broadcast(drop)
                if len(pairs) < 2_000_000
                else drop,
                ["__pd_file", "__pd_ridx"],
                "left_anti",
            )
        return scan.select(
            *[f.name for f in schema.fields],
            F.lit(ct).alias("_change_type"),
            F.lit(int(sid)).cast("long").alias("_snapshot_id"),
        )

    def scan_only(files_map, specs_map, keep_sets, ct, sid):
        """Scan ONLY the (file, position) pairs in keep_sets."""
        scan = assemble_ms(files_map, specs_map)
        pairs = [
            (os.path.basename(p), int(i))
            for p, idx in sorted(keep_sets.items())
            for i in idx
        ]
        keep = local_frame(spark, pairs, "__pd_file string, __pd_ridx long")
        scan = scan.withColumn(
            "__pd_file", F.substring_index("__pd_file", "/", -1)
        ).join(
            F.broadcast(keep) if len(pairs) < 2_000_000 else keep,
            ["__pd_file", "__pd_ridx"],
            "semi",
        )
        return scan.select(
            *[f.name for f in schema.fields],
            F.lit(ct).alias("_change_type"),
            F.lit(int(sid)).cast("long").alias("_snapshot_id"),
        )

    def live_scan(files_map, specs_map, dvsets, eqs, seq_map):
        """Live rows of ``files_map`` at one snapshot state, keeping
        the (__pd_file basename, __pd_ridx) position identity for
        cross-snapshot diffing: DV/position drops anti-joined, then
        equality deletes applied through the shared seq-gated
        null-safe anti-join (_apply_equality_deletes)."""
        scan = assemble_ms(files_map, specs_map).withColumn(
            "__pd_file", F.substring_index("__pd_file", "/", -1)
        )
        pairs = [
            (os.path.basename(p), int(i))
            for p, idx in sorted(dvsets.items())
            if p in files_map
            for i in idx
        ]
        if pairs:
            drop = local_frame(
                spark, pairs, "__pd_file string, __pd_ridx long"
            )
            scan = scan.join(
                F.broadcast(drop) if len(pairs) < 2_000_000 else drop,
                ["__pd_file", "__pd_ridx"],
                "left_anti",
            )
        if eqs:
            scan = _apply_equality_deletes(
                spark, t, schema, scan, eqs, seq_map
            )
        return scan

    frames = []
    for sid in in_range:
        pos = chain.index(sid)
        prev = chain[pos - 1] if pos > 0 else None
        op = (by_id[sid].get("summary") or {}).get("operation")
        if op == "replace":
            continue  # layout-only rewrite: no logical change
        files_prev, dv_prev, specs_prev, eq_prev, seq_prev = state(prev)
        files_cur, dv_cur, specs_cur, eq_cur, seq_cur = state(sid)
        added = {
            p: pv for p, pv in files_cur.items() if p not in files_prev
        }
        removed = {
            p: pv for p, pv in files_prev.items() if p not in files_cur
        }
        if eq_prev or eq_cur:
            # EQUALITY-DELETED boundary: per-mechanism attribution no
            # longer works (an eq delete kills rows by VALUE, not
            # position), so diff live-row SETS instead. Added files'
            # live rows (under cur's deletes — an eq delete committed
            # WITH a data file never hits it, seq strictly greater
            # required) are inserts; removed files' live-at-prev rows
            # are deletes; carried files' newly-dead rows (live at
            # prev, not at cur — DV growth OR newly matching eq keys)
            # are deletes via a position-identity anti-join of the two
            # live scans. A position never returns to life on a
            # carried file (DVs and eq deletes only accumulate;
            # un-deleting requires a rewrite, which swaps files), so
            # there is no insert half on carried files.
            stamp = lambda df, ct: df.select(  # noqa: E731
                *[f.name for f in schema.fields],
                F.lit(ct).alias("_change_type"),
                F.lit(int(sid)).cast("long").alias("_snapshot_id"),
            )
            if added:
                frames.append(
                    stamp(
                        live_scan(added, specs_cur, dv_cur, eq_cur, seq_cur),
                        "insert",
                    )
                )
            if removed:
                frames.append(
                    stamp(
                        live_scan(
                            removed, specs_prev, dv_prev, eq_prev, seq_prev
                        ),
                        "delete",
                    )
                )
            carried = {
                p: pv for p, pv in files_cur.items() if p in files_prev
            }
            if carried:
                lp = live_scan(
                    carried, specs_prev, dv_prev, eq_prev, seq_prev
                )
                lc = live_scan(
                    carried, specs_cur, dv_cur, eq_cur, seq_cur
                ).select("__pd_file", "__pd_ridx")
                frames.append(
                    stamp(
                        lp.join(
                            lc, ["__pd_file", "__pd_ridx"], "left_anti"
                        ),
                        "delete",
                    )
                )
            continue
        if added:
            frames.append(
                scan_minus(
                    added,
                    specs_cur,
                    {p: dv_cur[p] for p in added if p in dv_cur},
                    "insert",
                    sid,
                )
            )
        if removed:
            frames.append(
                scan_minus(
                    removed,
                    specs_prev,
                    {p: dv_prev[p] for p in removed if p in dv_prev},
                    "delete",
                    sid,
                )
            )
        grown = {
            p: sorted(set(dv_cur.get(p, ())) - set(dv_prev.get(p, ())))
            for p in files_cur
            if p in files_prev
            and set(dv_cur.get(p, ())) - set(dv_prev.get(p, ()))
        }
        if grown:
            frames.append(
                scan_only(
                    {p: files_cur[p] for p in grown},
                    specs_cur,
                    grown,
                    "delete",
                    sid,
                )
            )
    if not frames:
        return local_frame(spark, [], out_schema)
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


_CDF_FIELDS = [
    T.StructField("_change_type", T.StringType()),
    T.StructField("_snapshot_id", T.LongType()),
]


def cdf_schema(table_path: str) -> T.StructType:
    """The icebergcdf feed schema (table columns + _change_type +
    _snapshot_id). Shared by DataSource.schema() and callers passing
    an explicit readStream schema, which skips the Python-runner
    schema-probe round trip per load() (optimization round 14)."""
    return T.StructType(IcebergTable(table_path).schema().fields + _CDF_FIELDS)


class IcebergCdfDataSource(TableSource):
    """format("icebergcdf"): the Iceberg CHANGELOG SCAN as a streaming
    source — the cross-format twin of format("deltacdf"). Offsets
    carry the last-consumed snapshot id, so a restarted consumer
    resumes at exactly the next unconsumed snapshot. Output schema =
    table columns + _change_type + _snapshot_id."""

    NAME = "icebergcdf"
    MISSING_PATH = "{} requires option 'path'"

    def schema(self):
        return cdf_schema(self.path)

    def streamReader(self, schema) -> "IcebergCdfStreamReader":
        return IcebergCdfStreamReader(self.path)


def _change_part(p, pv, change_type, sid, drop, eq=(), seq=None, prev=None):
    """One self-contained file read of the changelog stream: rows dead
    under `drop` (positions) or the `eq` payload are dropped; with
    `prev` = the (drop, eq) of the snapshot before, only the rows that
    died since then are kept — the live-set diff, per file, with no
    cross-file traffic. ``eq`` is [(key_col_names, {key_tuple:
    max_delete_seq})] and a row is eq-dead when its key tuple maps to
    a delete sequence STRICTLY GREATER than ``seq``, the file's data
    sequence (the spec's sequence rule, evaluated locally)."""
    return FilePart(
        p, pv, {"_change_type": change_type, "_snapshot_id": sid},
        sid=sid, drop=sorted(drop), eq=list(eq), seq=seq, prev=prev,
    )


class IcebergCdfStreamReader(_SnapshotStream):
    """Per micro-batch, the snapshots in (start, end] contribute their
    change sets under read_iceberg_changelog's rules: ADDED files as
    inserts (minus carried DVs), REMOVED files' pre-snapshot rows as
    deletes, DV GROWTH as exactly the newly-marked positions,
    `replace` snapshots silent; EQUALITY-DELETED boundaries work
    (round 13): planning folds each eq delete file into a
    {key_tuple: max_seq} payload (driver IO bounded by delete rows —
    the DV budget) and ships it inside the partitions, so the batch
    path's live-set diff runs per file with zero cross-file traffic;
    PARTITION-EVOLVED (multi-spec) ranges work — each partition's
    reader fills missing identity columns from ITS OWN file's
    partition record, so the per-file read was spec-agnostic all
    along. Planning decodes per-file DV sets once per
    snapshot boundary (driver work bounded by deleted rows, the DV
    writers' own budget) and ships the position sets INSIDE the
    partitions, so each read task is a self-contained parquet scan +
    position filter — no shuffle, no Python row path beyond Arrow."""

    LEGACY = "pos"
    GONE = (
        "{path}: checkpointed snapshot id {sid} is no longer in "
        "the snapshot list — retention (expire_snapshots) outran "
        "this consumer; restart from a fresh checkpoint"
    )
    FIELDS = _CDF_FIELDS

    @staticmethod
    def _eq_payload(t, eqs):
        """Equality-delete KEY payload for planning: read each eq
        delete file ONCE on the driver (pyarrow — bounded by delete
        rows, the same driver budget the DV position sets accept) and
        fold per equality_ids group into {key_tuple: max_delete_seq}
        (the spec's "exists a matching delete with seq > data_seq" ≡
        "max seq per key > data_seq" reduction, the batch path's
        _apply_equality_deletes rule evaluated as a payload). Columns
        resolve by parquet field id when the footer carries ids, else
        by current name — mirroring the batch path."""
        from collections import defaultdict

        import pyarrow.parquet as _pq

        groups: dict[tuple[str, ...], dict] = defaultdict(dict)
        for path, ids, seq in sorted(eqs):
            cols = tuple(t.field_name_by_id(i) for i in ids)
            tbl = _pq.read_table(path)
            arrs = []
            for fid, cname in zip(ids, cols):
                col = None
                for i, f in enumerate(tbl.schema):
                    md = f.metadata or {}
                    if md.get(b"PARQUET:field_id") == str(fid).encode():
                        col = tbl.column(i)
                        break
                if col is None:
                    col = tbl.column(cname)
                arrs.append(col.to_pylist())
            m = groups[cols]
            for key in zip(*arrs):
                if m.get(key, -(1 << 62)) < int(seq):
                    m[key] = int(seq)
        return [(list(c), m) for c, m in sorted(groups.items())]

    def partitions(self, start: dict, end: dict):
        t = IcebergTable(self.path)
        snaps = t.snapshots()
        out: list[FilePart] = []
        cache: dict[int | None, tuple[dict, dict, list, dict]] = {}

        def state(sid: int | None):
            if sid in cache:
                return cache[sid]
            if sid is None:
                cache[sid] = ({}, {}, [], {})
                return cache[sid]
            full, pos_dels, eq_dels, dv_dels = t.scan_entries_full(sid)
            seq_map = {
                os.path.basename(p): int(sq)
                for p, _pv, sq, _s in full
                if sq is not None
            }
            if eq_dels and len(seq_map) != len(full):
                raise ValueError(
                    f"{self.path}: changelog stream over an equality-"
                    "deleted snapshot whose data files carry no "
                    "sequence numbers — the deletes cannot be ordered "
                    "(same refusal as read_iceberg)"
                )
            files = {p: pv for p, pv, _sq, _sid2 in full}
            by_base = {os.path.basename(p): p for p in files}
            dvsets: dict[str, set[int]] = {}
            for pp, ref, off, sz, _card in dv_dels:
                base = os.path.basename(ref.rstrip("/"))
                if base in by_base:
                    dvsets.setdefault(by_base[base], set()).update(
                        _puffin.dv_indexes(pp, int(off), int(sz))
                    )
            if pos_dels:
                import pyarrow.parquet as _pq

                for dfp in pos_dels:
                    tbl = _pq.read_table(
                        dfp, columns=["file_path", "pos"]
                    )
                    for fp, pos in zip(
                        tbl.column("file_path").to_pylist(),
                        tbl.column("pos").to_pylist(),
                    ):
                        base = os.path.basename(str(fp).rstrip("/"))
                        if base in by_base:
                            dvsets.setdefault(by_base[base], set()).add(
                                int(pos)
                            )
            cache[sid] = (files, dvsets, sorted(eq_dels), seq_map)
            return cache[sid]

        eq_payload_cache: dict[tuple, list] = {}

        def eq_payload(eqs):
            key = tuple(eqs)
            if key not in eq_payload_cache:
                eq_payload_cache[key] = (
                    self._eq_payload(t, eqs) if eqs else []
                )
            return eq_payload_cache[key]

        lo = self._pos_after(snaps, start)
        hi = self._pos_after(snaps, end)
        for i in range(lo, min(hi, len(snaps))):
            snap = snaps[i]
            sid = snap["snapshot-id"]
            if (snap.get("summary") or {}).get("operation") == "replace":
                continue
            prev_sid = snaps[i - 1]["snapshot-id"] if i > 0 else None
            files_prev, dv_prev, eq_prev, seq_prev = state(prev_sid)
            files_cur, dv_cur, eq_cur, seq_cur = state(sid)
            # the live-set diff the batch changelog runs as a
            # cross-file join is computed at PLANNING time into
            # per-partition payloads: each reader applies its own
            # file's position drops + eq-key payload locally and stays
            # join-free. New eq delete FILES since prev decide which
            # carried files can have newly-dead rows (eq state only
            # accumulates).
            pay_prev = eq_payload(eq_prev)
            pay_cur = eq_payload(eq_cur)
            new_eq = [e for e in eq_cur if e not in set(eq_prev)]
            for p, pv in sorted(files_cur.items()):
                seq = seq_cur.get(os.path.basename(p))
                if p not in files_prev:
                    out.append(
                        _change_part(p, pv, "insert", sid, dv_cur.get(p, ()), pay_cur, seq)
                    )
                    continue
                grown = set(dv_cur.get(p, ())) - set(dv_prev.get(p, ()))
                eq_hits = any(
                    int(sq) > (1 << 62 if seq is None else seq)
                    for _pp, _ids, sq in new_eq
                )
                if grown or eq_hits:
                    out.append(
                        _change_part(
                            p, pv, "delete", sid, grown, pay_cur, seq,
                            prev=(sorted(dv_prev.get(p, ())), pay_prev),
                        )
                    )
            for p, pv in sorted(files_prev.items()):
                if p not in files_cur:
                    out.append(
                        _change_part(
                            p, pv, "delete", sid, dv_prev.get(p, ()),
                            pay_prev, seq_prev.get(os.path.basename(p)),
                        )
                    )
        return out

    def _eq_dead(self, batch, part, eq_groups):
        """Per-batch eq-deadness: a row is dead when its key tuple
        maps (in some payload group) to a delete sequence strictly
        greater than the file's data sequence. Key columns absent
        from file content are identity partition columns — filled
        from the partition record, typed like the main column fill.
        Python tuple equality gives the spec's null-matches-null."""
        import numpy as np
        import pyarrow as pa

        n = batch.num_rows
        dead = np.zeros(n, dtype=bool)
        if part.seq is None:
            return dead
        for cols, keymap in eq_groups:
            if not keymap:
                continue
            vals = []
            for c in cols:
                i = self.resolve(batch.schema, c)
                if i >= 0:
                    vals.append(batch.column(i).to_pylist())
                else:
                    typed = pa.array([part.pv.get(c)]).cast(self.target.field(c).type)
                    vals.append([typed[0].as_py()] * n)
            for r in range(n):
                if dead[r]:
                    continue
                sq = keymap.get(tuple(v[r] for v in vals))
                if sq is not None and sq > part.seq:
                    dead[r] = True
        return dead

    def batches(self, part):
        import numpy as np

        row_base = 0
        for batch in file_batches(part.path):
            idx = np.arange(row_base, row_base + batch.num_rows)
            row_base += batch.num_rows
            dead = np.isin(idx, part.drop) | self._eq_dead(batch, part, part.eq)
            if part.prev is not None:
                prev_drop, prev_eq = part.prev
                was_dead = np.isin(idx, prev_drop) | self._eq_dead(batch, part, prev_eq)
                yield batch, dead & ~was_dead
            else:
                yield batch, ~dead if part.drop or part.eq else None


def inventory(spark, table_path: str) -> Inventory:
    """The conversion inventory (`sources/convert.py`) of an Iceberg
    table's current snapshot. The manifest chain, not a directory
    walk, picks the live files, so files dropped by rewrites and
    failed-commit orphans are invisible. Record counts and first row
    ids come from the manifests (the ids only when the whole snapshot
    carries them); v3 deletion vectors and v2 position-delete files
    decode to each data file's deleted row indexes, matched by
    basename as the delete-aware read matches them. Refuses, from
    metadata alone:

    - a column renamed, or dropped and re-added under a new field id,
      in the retained schemas — files written before hold other names
      for current columns, which a name-based target would read as
      NULL;
    - live equality deletes — their sequence semantics have no
      position representation;
    - a partition-evolved (multi-spec) snapshot — one target layout
      cannot describe two;
    - non-identity transforms (day/bucket/truncate) — a target's
      partition values are identity values."""
    import pyarrow.parquet as _pq

    t = IcebergTable(table_path)
    current = t.field_ids()
    ids = set(current.values())
    moved = sorted(
        {
            (f["name"], f["id"])
            for s in t.metadata.get("schemas") or []
            for f in s["fields"]
            if (f["name"] in current or f["id"] in ids)
            and current.get(f["name"]) != f["id"]
        }
    )
    if moved:
        raise ValueError(
            f"{table_path}: columns renamed, or dropped and re-added, in "
            f"the retained schemas ((name, field id): {moved}) — files "
            "written before hold other names for the current columns, "
            "which a name-based target would read as NULL; conversion "
            "refused"
        )
    full, pos_dels, eq_dels, dv_dels = t.scan_entries_full(None)
    if eq_dels:
        raise ValueError(
            f"{table_path}: live row-level deletes (equality: "
            f"{len(eq_dels)}) — their sequence semantics have no "
            "position representation; run OPTIMIZE first to purge them"
        )
    spec_ids = sorted({sid for *_x, sid in full})
    if len(spec_ids) > 1:
        raise ValueError(
            f"{table_path}: partition-evolved snapshot (specs "
            f"{spec_ids}) — compact to a single spec before converting"
        )
    spec = t.partition_spec_for(spec_ids[0]) if spec_ids else t.partition_spec()
    non_identity = [
        f.get("name")
        for f in spec
        if _norm_transform(f.get("transform", "identity"))[0] != "identity"
    ]
    if non_identity:
        raise ValueError(
            f"{table_path}: transform-partitioned fields "
            f"{non_identity} have no identity representation in the "
            "target format — conversion refused"
        )
    by_base = {os.path.basename(p): p for p, *_x in full}
    if (pos_dels or dv_dels) and len(by_base) < len(full):
        raise ValueError(
            f"{table_path}: duplicate data-file basenames — delete "
            "translation would be ambiguous"
        )
    deleted: dict[str, set[int]] = {}
    for pp, ref, off, sz, _card in dv_dels:
        base = by_base.get(os.path.basename(ref.rstrip("/")))
        if base:
            deleted.setdefault(base, set()).update(
                _puffin.dv_indexes(pp, int(off), int(sz))
            )
    for dfp in pos_dels:
        tbl = _pq.read_table(dfp, columns=["file_path", "pos"])
        for fp, pos in zip(
            tbl.column("file_path").to_pylist(), tbl.column("pos").to_pylist()
        ):
            base = by_base.get(os.path.basename(str(fp).rstrip("/")))
            if base:
                deleted.setdefault(base, set()).add(int(pos))
    live = {
        path: (int(df["record_count"]), frid)
        for _m, df, path, _seq, frid in t._live(None)
        if df.get("content", 0) == 0
    }
    next_row_id = t.metadata.get("next-row-id")
    if not full or any(fr is None for _n, fr in live.values()):
        next_row_id = None  # partially tracked: convert without ids
    files = [
        LiveFile(
            p,
            {k: pv_str(v) for k, v in (pv or {}).items()},
            live[p][0],
            tuple(sorted(deleted.get(p, ()))),
            live[p][1] if next_row_id is not None else None,
        )
        for p, pv, _seq, _sid in full
    ]
    part_cols = [t.source_column(f) for f in spec]
    return Inventory("Iceberg", t.schema(), part_cols, files, next_row_id)


def author(spark, table_path: str, source) -> int:
    """Author snapshot 1 of an Iceberg table (manifest, manifest list,
    metadata.json) over the files of the inventory ``source(spark,
    table_path)`` returns, in place: the public `migrate`/`add_files`
    for a parquet directory (`convert.hive_inventory`) and the Iceberg
    arm of every other format's migration — a Delta table read through
    both logs is UniForm-style dual metadata. Nothing is rewritten or
    moved. Partition columns become an identity spec with typed values
    in the manifest partition records, so metadata-only pruning works
    at once; files keep Spark's layout (partition values only in
    directory names), the layout this engine's writer stages. Record
    counts come from the inventory, and a footer is opened only for a
    file whose source metadata has none. Files outside data/ are never
    vacuum candidates.

    First row ids translate to v3 row lineage verbatim (Delta
    baseRowId and Iceberg first_row_id are both file base + physical
    position) with the next row id as the high-water mark; deleted
    rows become one Puffin file of deletion-vector-v1 blobs (the
    roaring payloads share one codec with Delta's, so the translation
    is exact and CRC-verified on every read) under a v3 delete
    manifest. Either makes the metadata format-version 3. One-shot
    snapshot export: later source commits are not mirrored. Refuses an
    existing Iceberg table before the source is read."""
    meta_dir = os.path.join(table_path, "metadata")
    if os.path.isdir(meta_dir) and any(
        f.endswith(".metadata.json") for f in os.listdir(meta_dir)
    ):
        raise FileExistsError(f"{table_path}: already an Iceberg table")
    import pyarrow.parquet as _pq

    inv = source(spark, table_path)
    schema, snap_id = inv.schema, 1
    dtypes = {f.name: f.dataType for f in schema.fields}
    spec = [
        {"name": k, "transform": "identity", "source": k} for k in inv.part_cols
    ]
    es = _entry_schema(_spec_avro_fields(schema, spec, table_path)) if spec else None
    lineage = inv.next_row_id is not None
    w = IcebergWriter(spark, table_path)
    os.makedirs(meta_dir, exist_ok=True)
    data_files = [
        {
            "content": 0,
            "file_path": rel_path(table_path, f.path),
            "file_format": "PARQUET",
            "partition": {
                k: None if v is None else _typed_pv(v, dtypes[k])
                for k, v in f.partition.items()
            },
            # spec: record_count is REQUIRED and real
            "record_count": f.records
            if f.records is not None
            else _pq.ParquetFile(f.path).metadata.num_rows,
            "file_size_in_bytes": os.path.getsize(f.path),
            **({"first_row_id": f.first_row_id} if lineage else {}),
        }
        for f in inv.files
    ]
    m = w._write_manifest(
        w._unique(f"m{snap_id}"), data_files, snap_id, entry_schema=es
    )
    ml_path = os.path.join(meta_dir, w._unique(f"snap-{snap_id}"))
    dvs = [(rel_path(table_path, f.path), f.deleted) for f in inv.files if f.deleted]
    if not dvs:
        write_ocf_generic(ml_path, _MANIFEST_FILE_SCHEMA, [m])
    else:
        puffin_rel = "data/dv-converted.puffin"
        os.makedirs(os.path.join(table_path, "data"), exist_ok=True)
        puffin_path = os.path.join(table_path, puffin_rel)
        metas = _puffin.write_puffin(
            puffin_path,
            [
                {
                    "type": "deletion-vector-v1",
                    "data": _puffin.dv_blob(idx),
                    "snapshot-id": snap_id,
                    "properties": {
                        "referenced-data-file": rel,
                        "cardinality": str(len(idx)),
                    },
                }
                for rel, idx in dvs
            ],
        )
        dv_entries = [
            {
                "status": 1,
                "snapshot_id": snap_id,
                "data_file": {
                    "content": 1,
                    "file_path": puffin_rel,
                    "file_format": "PUFFIN",
                    "partition": {},
                    "record_count": len(idx),
                    "file_size_in_bytes": os.path.getsize(puffin_path),
                    "referenced_data_file": rel,
                    "content_offset": bm["offset"],
                    "content_size_in_bytes": bm["length"],
                },
            }
            for (rel, idx), bm in zip(dvs, metas)
        ]
        mdv_name = w._unique(f"m{snap_id}-dv")
        mdv_path = os.path.join(meta_dir, mdv_name)
        write_ocf_generic(mdv_path, _DV_ENTRY_SCHEMA_V3, dv_entries)
        write_ocf_generic(
            ml_path,
            _MANIFEST_FILE_SCHEMA_V2,
            [
                {**m, "content": 0},
                {
                    "manifest_path": f"metadata/{mdv_name}",
                    "manifest_length": os.path.getsize(mdv_path),
                    "partition_spec_id": 0,
                    "content": 1,
                    "added_snapshot_id": snap_id,
                },
            ],
        )
    ice_schema = {
        "type": "struct",
        "schema-id": 0,
        "fields": [
            {
                "id": i + 1,
                "name": f.name,
                "required": False,
                "type": _spark_type_to_iceberg(f.dataType),
            }
            for i, f in enumerate(schema.fields)
        ],
    }
    spec_fields = [
        {
            "name": k,
            "transform": "identity",
            "source-id": schema.fieldNames().index(k) + 1,
            "field-id": 1000 + i,
        }
        for i, k in enumerate(inv.part_cols)
    ]
    snapshot = {
        "snapshot-id": snap_id,
        "timestamp-ms": int(_time.time() * 1000),
        "manifest-list": f"metadata/{os.path.basename(ml_path)}",
        "summary": {"operation": "append"},
    }
    metadata = {
        "format-version": 3 if (dvs or lineage) else 1,
        "table-uuid": f"plankton-iceberg-{os.path.basename(table_path)}",
        "location": table_path,
        "last-updated-ms": 0,
        "last-column-id": len(schema.fields),
        "schema": ice_schema,
        "schemas": [ice_schema],
        "current-schema-id": 0,
        "partition-spec": spec_fields,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "default-spec-id": 0,
        "current-snapshot-id": snap_id,
        "snapshots": [snapshot],
    }
    if lineage:
        metadata["next-row-id"] = int(inv.next_row_id)
        # the converted snapshot carries every translated file, so its
        # id assignments notionally start at 0
        snapshot["first-row-id"] = 0
    w._commit_metadata(1, metadata)
    return snap_id


def iceberg_history(table_path: str) -> list[dict]:
    """Snapshot history for an Iceberg table: one record per retained
    snapshot — id, real epoch timestamp-ms, manifest list, whether it
    is the current snapshot, and which refs point at it."""
    t = IcebergTable(table_path)
    cur = t.metadata.get("current-snapshot-id")
    refs = t.metadata.get("refs") or {}
    by_sid: dict[int, list[str]] = {}
    for name, r in refs.items():
        by_sid.setdefault(r["snapshot-id"], []).append(name)
    return [
        {
            "snapshot_id": s["snapshot-id"],
            "timestamp_ms": s.get("timestamp-ms"),
            "manifest_list": s.get("manifest-list"),
            "is_current": s["snapshot-id"] == cur,
            "refs": sorted(by_sid.get(s["snapshot-id"], [])),
        }
        for s in t.metadata.get("snapshots") or []
    ]


def files_meta(spark, table_path: str, snapshot_id: int | None = None):
    """Iceberg `files` metadata table: one row per live manifest entry
    at a snapshot, straight from the Avro manifests — record counts
    and partition tuples come from metadata the writer already
    committed, so a partition-level ANALYZE costs ZERO data IO.

    Columns: path, partition (map<string,string>, identity values as
    strings; NULL source values map to the string 'null'), content
    (0=data, 1=position deletes, 2=equality deletes), record_count,
    sequence_number, spec_id.

    Scale: driver-side over the manifest entries (the same O(files)
    metadata every scan planning pass already walks), parallelized
    into a DataFrame for the rollup.
    """
    rows = [
        (
            path,
            {str(k): str(v) for k, v in dict(df.get("partition") or {}).items()},
            int(df.get("content") or 0),
            int(df["record_count"]),
            seq,
            int(m.get("partition_spec_id") or 0),
        )
        for m, df, path, seq, _frid in IcebergTable(table_path)._live(snapshot_id)
    ]
    out_schema = (
        "path string, partition map<string,string>, content int, "
        "record_count long, sequence_number long, spec_id int"
    )
    # key on path only: the tuples hold dicts, which are not orderable
    # (unique paths make full-tuple sort work by accident — until a
    # tie makes it a TypeError)
    return local_frame(spark, sorted(rows, key=lambda r: r[0]), out_schema)
