"""Delta Lake log interop: read (`spark.read.format("deltalog")`,
`read_delta`) AND write (`DeltaLogWriter`: create/append/delete with
OCC and Delta `txn`-action idempotence for exactly-once streaming
sinks).

Parses `_delta_log/*.json` commit files with pure Python — the same
no-JVM-dependency approach as planktable (table_format.py) — so Delta
tables written elsewhere are readable here without the delta-spark
jar. Supported actions: `metaData` (schemaString, partitionColumns),
`add` (path, partitionValues), `remove`, `protocol`, `commitInfo`.
Parquet checkpoints (`*.checkpoint.parquet`) are parsed with pyarrow
when present, so long tables don't require every JSON commit to
exist. Options: `path`, optional `versionAsOf`.

Scale posture: log replay is metadata work (KBs of JSON per commit,
driver-side, same as delta-spark's own snapshot construction). The
hot path `read_delta()` hands the resolved file list to Spark's
NATIVE vectorized parquet reader — one scan per distinct partition
tuple, partition columns re-attached as cast literals exactly like
Hive-style partition discovery, then a union (Catalyst collapses the
per-partition scans into a single multi-path FileScan per schema).
The Python DataSource wrapper exists for `spark.read.format`
API parity; consumers at 100 TB should use `read_delta`.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import NamedTuple

from pyspark.sql import functions as F
from pyspark.sql import types as T

from plankton_spark.sources import positions
from plankton_spark.sources import rewrite as rw
from plankton_spark.sources import stage
from plankton_spark.sources.pyread import (
    FilePart,
    FileReader,
    TableSource,
    VersionedStreamReader,
    by_name,
    by_physical,
)
from plankton_spark.sources.assemble import local_frame
from plankton_spark.sources.convert import Inventory, LiveFile, pv_str, rel_path
from plankton_spark.sources.deletion_vectors import dv_row_indexes, write_dv_file


# Reader-protocol support (Delta spec, "Protocol Evolution"): this
# pure-Python reader implements reader-version-1 semantics plus the
# deletionVectors table feature (sources/deletion_vectors.py +
# read_delta's row-index anti-join) and columnMapping in NAME mode
# (physical→logical rename from the schemaString's
# delta.columnMapping.physicalName metadata; id mode and nested
# mapped fields refuse in replay()), plus v2Checkpoint reads
# (`<v>.checkpoint.<uniqueId>.parquet|json` files whose file actions
# may live in `_sidecars/` parquet files — _decode_checkpoint_files
# follows the sidecar references; classic and multi-part layouts
# decode through the same path). A table demanding anything else
# would be read WRONG, not just slowly, so the spec requires refusing
# it outright (mirrors iceberg_meta.py's refusal posture).
SUPPORTED_MIN_READER_VERSION = 2  # v2 = column mapping
SUPPORTED_READER_FEATURES: frozenset[str] = frozenset(
    {
        "deletionVectors",
        "columnMapping",
        "v2Checkpoint",
        # sound because reads always scan under the CURRENT
        # schemaString and Spark's parquet schema reconciliation
        # performs every widening the feature's spec allows
        # (byte/short/int→int/long/double, float→double, decimal
        # precision growth, int→decimal, date→timestampNTZ — each
        # verified in tests/test_type_widening.py); an out-of-spec
        # change is validated by _validate_type_changes and refuses
        "typeWidening",
        "typeWidening-preview",
        # TIMESTAMP_NTZ columns: Spark 4's parquet reader handles the
        # isAdjustedToUTC=false physical type natively and the scan
        # always applies the schemaString's TimestampNTZType — no
        # session-timezone reinterpretation anywhere on the read path
        "timestampNtz",
    }
)

# minWriterVersion → the legacy writer features that version implies;
# converting a legacy protocol to table-features form must CARRY them
# (dropping them would un-protect constraints or column mapping)
LEGACY_WRITER_FEATURES: dict[int, set[str]] = {
    2: {"appendOnly", "invariants"},
    3: {"checkConstraints"},
    4: {"changeDataFeed", "generatedColumns"},
    5: {"columnMapping"},
    6: {"identityColumns"},
}

# the (fromType, toType) pairs the typeWidening spec allows; decimal
# and int→decimal handled structurally in _widening_ok
_INT_ORDER = {"byte": 0, "short": 1, "integer": 2, "long": 3}


def _widening_ok(frm: str, to: str) -> bool:
    f, t = frm.lower(), to.lower()
    if f == t:
        return True
    if f in _INT_ORDER:
        if t in _INT_ORDER:
            return _INT_ORDER[t] > _INT_ORDER[f]
        if t == "double":
            return True
        if t.startswith("decimal"):
            return True
    if f == "float" and t == "double":
        return True
    if f == "long" and t.startswith("decimal"):
        return True
    if f == "date" and t in ("timestampntz", "timestamp_ntz"):
        return True
    if f.startswith("decimal") and t.startswith("decimal"):
        import re as _re

        def _ps(s):
            m = _re.match(r"decimal\((\d+),\s*(-?\d+)\)", s)
            return (int(m.group(1)), int(m.group(2))) if m else (10, 0)

        (fp, fs), (tp, ts) = _ps(f), _ps(t)
        # scale may grow only with matching precision headroom
        return tp - ts >= fp - fs and ts >= fs and tp >= fp
    return False


def _validate_type_changes(schema, table_path: str) -> None:
    """Refuse out-of-spec ``delta.typeChanges`` entries: every
    recorded change must be a widening the feature allows (and that
    Spark's parquet reconciliation therefore performs losslessly) —
    a narrowing or unknown change would either fail mid-scan or,
    worse, read wrong, so it refuses up front."""
    for f in schema.fields:
        for ch in (f.metadata or {}).get("delta.typeChanges") or []:
            frm = str(ch.get("fromType", ""))
            to = str(ch.get("toType", ""))
            if not _widening_ok(frm, to):
                raise DeltaProtocolError(
                    f"{table_path}: field {f.name!r} records type "
                    f"change {frm!r} → {to!r}, which is not an "
                    "allowed typeWidening — refusing to read"
                )


class DeltaProtocolError(ValueError):
    """The table's reader protocol demands features this reader does
    not implement; reading anyway would return wrong results."""


def _check_reader_protocol(protocol: dict, table_path: str) -> None:
    v = protocol.get("minReaderVersion") or 1
    if v <= SUPPORTED_MIN_READER_VERSION:
        return
    feats = protocol.get("readerFeatures")
    if v >= 3 and feats is not None:
        # table-features protocol: version number is irrelevant, the
        # reader may proceed iff it implements EVERY listed feature
        missing = sorted(set(feats) - SUPPORTED_READER_FEATURES)
        if not missing:
            return
        raise DeltaProtocolError(
            f"{table_path}: requires Delta reader features {missing} "
            f"(supported: {sorted(SUPPORTED_READER_FEATURES) or 'none'}); "
            f"refusing to read — results would be incorrect"
        )
    raise DeltaProtocolError(
        f"{table_path}: requires Delta minReaderVersion={v} "
        f"(supported: {SUPPORTED_MIN_READER_VERSION}); refusing to read "
        f"— results would be incorrect"
    )


_CM_PHYS = "delta.columnMapping.physicalName"


def _nested_has_mapping(dt) -> bool:
    if isinstance(dt, T.StructType):
        return any(
            _CM_PHYS in (f.metadata or {}) or _nested_has_mapping(f.dataType)
            for f in dt.fields
        )
    if isinstance(dt, T.ArrayType):
        return _nested_has_mapping(dt.elementType)
    if isinstance(dt, T.MapType):
        return _nested_has_mapping(dt.keyType) or _nested_has_mapping(
            dt.valueType
        )
    return False


def column_mapping(
    schema: T.StructType, config: dict, table_path: str
) -> dict | None:
    """Column-mapping resolution for mapped tables, None when
    unmapped. Returns {"phys": {logical: physical}, "ids":
    {logical: field_id} | None}:

    - NAME mode: physical names come from each field's
      delta.columnMapping.physicalName metadata ("ids" is None —
      resolution is by physical name);
    - ID mode: additionally returns delta.columnMapping.id per field;
      the scan resolves parquet columns BY FIELD ID
      (spark.sql.parquet.fieldId.read — id-mode files are required by
      the spec to store the ids), with physical names still used for
      partitionValues keys and hive dirs.

    Mapped NESTED fields are refused — resolving them wrong would
    silently misread, which the protocol forbids."""
    mode = (config or {}).get("delta.columnMapping.mode") or "none"
    has_meta = any(_CM_PHYS in (f.metadata or {}) for f in schema.fields)
    if mode == "none" and not has_meta:
        return None
    for f in schema.fields:
        if _nested_has_mapping(f.dataType):
            raise DeltaProtocolError(
                f"{table_path}: column mapping on NESTED field "
                f"{f.name!r} is not implemented; refusing to read"
            )
    phys = {
        f.name: (f.metadata or {}).get(_CM_PHYS, f.name)
        for f in schema.fields
    }
    ids = None
    if mode == "id":
        missing = [
            f.name
            for f in schema.fields
            if "delta.columnMapping.id" not in (f.metadata or {})
        ]
        if missing:
            raise DeltaProtocolError(
                f"{table_path}: columnMapping mode 'id' but fields "
                f"{missing} carry no delta.columnMapping.id; refusing "
                "to read — columns would mis-resolve"
            )
        ids = {
            f.name: int(f.metadata["delta.columnMapping.id"])
            for f in schema.fields
        }
    return {"phys": phys, "ids": ids}


def _commit_actions(log_dir: str, version: int) -> list[dict]:
    """The actions of JSON commit `version`, in file order: the one
    parser of `<version>.json` commit files."""
    with open(os.path.join(log_dir, f"{version:020d}.json")) as fh:
        return [json.loads(x) for x in fh if x.strip()]


def _commit_versions(log_dir: str) -> list[int]:
    out = []
    for f in os.listdir(log_dir):
        stem, ext = os.path.splitext(f)
        if ext == ".json" and stem.isdigit():
            out.append(int(stem))
    return sorted(out)


def _checkpoint_versions(log_dir: str) -> dict[int, list[str]]:
    """version → checkpoint file name(s), recognizing every spec
    layout: classic `<v>.checkpoint.parquet` (one file), multi-part
    `<v>.checkpoint.<n>.<m>.parquet` (all parts listed), and V2
    `<v>.checkpoint.<uniqueId>.parquet|json` (one file whose rows may
    reference sidecars). Newer layout wins when a version has several
    complete checkpoints (the spec allows coexistence)."""
    classic: dict[int, list[str]] = {}
    v2: dict[int, list[str]] = {}
    multi: dict[int, list[str]] = {}
    for f in sorted(os.listdir(log_dir)):
        parts = f.split(".")
        if len(parts) < 3 or parts[1] != "checkpoint" or not parts[0].isdigit():
            continue
        v = int(parts[0])
        if len(parts) == 3 and parts[2] == "parquet":
            classic[v] = [f]
        elif len(parts) == 4 and parts[3] in ("parquet", "json"):
            # one V2 file is complete on its own; if a version somehow
            # has several (different uniqueIds), any one is valid —
            # take the lexicographically first for determinism
            v2.setdefault(v, [f])
        elif (
            len(parts) == 5
            and parts[4] == "parquet"
            and parts[2].isdigit()
            and parts[3].isdigit()
        ):
            multi.setdefault(v, []).append(f)
    out: dict[int, list[str]] = dict(multi)
    out.update(v2)
    out.update(classic)  # our own layout wins when several coexist
    # a multi-part checkpoint is only usable COMPLETE: every filename
    # declares the total part count (<n>.<m>), so when that layout is
    # the one we'd replay for a version, require parts 1..m all
    # present — replaying a partial set (interrupted writer / partial
    # copy) would silently drop the missing parts' add actions and
    # return wrong rows, the exact failure the spec's naming scheme
    # exists to make detectable. A coexisting classic/V2 checkpoint
    # for the same version shadows the multi-part one, so it needs no
    # check there.
    for v, fnames in out.items():
        if fnames is not multi.get(v):
            continue
        declared = {int(f.split(".")[3]) for f in fnames}
        if len(declared) != 1:
            raise ValueError(
                f"multi-part checkpoint {v} mixes part totals "
                f"{sorted(declared)} — corrupt layout"
            )
        total = declared.pop()
        have = {int(f.split(".")[2]) for f in fnames}
        if have != set(range(1, total + 1)):
            raise ValueError(
                f"multi-part checkpoint {v} incomplete: have parts "
                f"{sorted(have)} of {total}"
            )
    return out


def _decode_checkpoint_files(log_dir: str, fnames: list[str]) -> list[dict]:
    """Decode checkpoint file rows to action dicts, following V2
    `sidecar` actions into `_delta_log/_sidecars/` (each sidecar is a
    parquet of add/remove rows; spec: file actions of a V2 checkpoint
    live inline OR in its sidecars). `checkpointMetadata` rows are
    validated for presence-only and dropped; unknown action kinds are
    ignored the way JSON replay ignores commitInfo."""
    import pyarrow.parquet as pq

    kinds = ("metaData", "add", "remove", "protocol", "txn", "domainMetadata")
    actions: list[dict] = []
    for fname in fnames:
        full = os.path.join(log_dir, fname)
        if fname.endswith(".json"):
            with open(full) as fh:
                rows = [json.loads(x) for x in fh if x.strip()]
        else:
            rows = pq.read_table(full).to_pylist()
        for row in rows:
            for kind in kinds:
                if row.get(kind) is not None:
                    actions.append({kind: row[kind]})
            sc = row.get("sidecar")
            if sc is not None and sc.get("path"):
                side = os.path.join(log_dir, "_sidecars", sc["path"])
                if not os.path.exists(side):
                    raise FileNotFoundError(
                        f"checkpoint {fname} references missing sidecar "
                        f"{sc['path']!r}"
                    )
                for srow in pq.read_table(side).to_pylist():
                    for kind in ("add", "remove"):
                        if srow.get(kind) is not None:
                            actions.append({kind: srow[kind]})
    return actions


class DeltaLog:
    """Replays a `_delta_log` to (schema, partition columns, active
    files) at a requested version."""

    def __init__(self, table_path: str):
        self.table_path = table_path
        self.log_dir = os.path.join(table_path, "_delta_log")
        if not os.path.isdir(self.log_dir):
            raise FileNotFoundError(f"not a Delta table (no _delta_log): {table_path}")

    def latest_version(self) -> int:
        versions = _commit_versions(self.log_dir)
        # a fully-compacted log may hold ONLY a checkpoint
        cp_versions = list(_checkpoint_versions(self.log_dir))
        if not versions and not cp_versions:
            raise FileNotFoundError(f"empty _delta_log in {self.table_path}")
        return max(versions + cp_versions)

    def _checkpoint_at_or_before(self, version: int) -> tuple[int, list[dict]] | None:
        """Newest checkpoint (classic, multi-part, or V2+sidecars)
        with v <= version, decoded to a list of action dicts
        (pyarrow; no Spark needed)."""
        cps = _checkpoint_versions(self.log_dir)
        eligible = [v for v in cps if v <= version]
        if not eligible:
            return None
        best = max(eligible)
        return best, _decode_checkpoint_files(self.log_dir, cps[best])

    def txn_versions(self, version: int | None = None) -> dict[str, int]:
        """appId → highest committed `txn` version at `version`,
        replayed from checkpoint + JSON tail — so txn-based
        exactly-once dedup survives cleanup of pre-checkpoint JSON
        commits (checkpoints carry txn rows; Delta spec self-
        containment)."""
        if version is None:
            version = self.latest_version()
        start = 0
        best: dict[str, int] = {}

        def _take(t: dict) -> None:
            app = t.get("appId")
            if app is not None and t.get("version") is not None:
                best[app] = max(best.get(app, t["version"]), t["version"])

        cp = self._checkpoint_at_or_before(version)
        if cp is not None:
            cp_has_txn_column = any("txn" in a for a in cp[1])
            pre_cp_json_present = any(
                v <= cp[0] for v in _commit_versions(self.log_dir)
            )
            # A checkpoint written without txn rows (older writers, or
            # external tools) HIDES earlier txn actions; when the JSON
            # commits it superseded still exist, scan them instead of
            # trusting an incomplete checkpoint — otherwise a replayed
            # micro-batch would be appended twice.
            if cp_has_txn_column or not pre_cp_json_present:
                start = cp[0] + 1
                for a in cp[1]:
                    if "txn" in a:
                        _take(a["txn"])
        for v in _commit_versions(self.log_dir):
            if start <= v <= version:
                for a in _commit_actions(self.log_dir, v):
                    if "txn" in a:
                        _take(a["txn"])
        return best

    def replay(self, version: int | None = None) -> "DeltaState":
        """The table at `version` (default: latest) from the newest
        checkpoint at or before it plus the JSON commits after that —
        the full live add actions included, so callers needing
        per-file stats (MERGE pruning) read them from the log instead
        of re-opening every parquet footer."""
        if version is None:
            version = self.latest_version()
        cp_versions = list(_checkpoint_versions(self.log_dir))
        earliest = min(
            _commit_versions(self.log_dir) + cp_versions, default=0
        )
        if version < earliest:
            raise ValueError(
                f"{self.table_path}: version {version} expired by log "
                f"cleanup (earliest retained: {earliest})"
            )
        start = 0
        units: list[list[dict]] = []
        cp = self._checkpoint_at_or_before(version)
        if cp is not None:
            start = cp[0] + 1
            units.append(cp[1])
        for v in _commit_versions(self.log_dir):
            if start <= v <= version:
                units.append(_commit_actions(self.log_dir, v))
        return _fold(self.table_path, units, version)

    def schema_info(self, version: int | None = None):
        """(schema, partition_cols) only — for writer paths that never
        READ existing files (append staging, evolution validation):
        these stay legal on DV'd tables, so no whole-files refusal."""
        st = self.replay(version)
        return st.schema, st.part_cols

    def snapshot(self, version: int | None = None):
        """Returns (schema: StructType, partition_cols: list[str],
        files: list[(abs_path, partition_values: dict)]) — the PLAIN
        whole-files view (`_whole_files`)."""
        st = self.replay(version)
        return st.schema, st.part_cols, _whole_files(self.table_path, st)


class DeltaState(NamedTuple):
    """A Delta table at one log version, as one replay built it: the
    schema and partition columns of the latest metaData, the live add
    actions keyed by path, that metaData's configuration (column
    mapping, constraints, row tracking and CDF settings live there),
    the latest protocol action (None when the log carries none), the
    live domain metadata keyed by domain, and the version."""

    schema: T.StructType
    part_cols: list[str]
    active: dict[str, dict]
    config: dict
    protocol: dict | None
    domains: dict[str, dict]
    version: int


def _fold(
    table_path: str,
    units: list[list[dict]],
    version: int,
    base: DeltaState | None = None,
) -> DeltaState:
    """`base` (or an empty table) with each unit of actions — a
    checkpoint or one commit — applied in order: the state at
    `version`. Refuses a protocol this reader cannot honour and a log
    with no metaData."""
    schema, part_cols, config, protocol = (
        (base.schema, base.part_cols, base.config, base.protocol)
        if base
        else (None, [], {}, None)
    )
    active = dict(base.active) if base else {}
    domains = dict(base.domains) if base else {}
    for unit in units:
        # spec reconciliation is per COMMIT: a remove tombstones the
        # PRIOR version's file, so an add of the same path in the
        # same commit (e.g. attaching a deletion vector) wins
        # regardless of the actions' order within the commit file
        for a in unit:
            if "remove" in a:
                active.pop(a["remove"]["path"], None)
        for a in unit:
            if "metaData" in a:
                md = a["metaData"]
                schema = T.StructType.fromJson(json.loads(md["schemaString"]))
                _validate_type_changes(schema, table_path)
                part_cols = list(md.get("partitionColumns") or [])
                config = md.get("configuration") or {}
                if isinstance(config, list):  # pyarrow map roundtrip
                    config = dict(config)
            elif "add" in a:
                add = dict(a["add"])
                pv = add.get("partitionValues") or {}
                if isinstance(pv, list):  # pyarrow map → list of (k, v)
                    pv = dict(pv)
                add["partitionValues"] = pv
                dvd = add.get("deletionVector")
                if isinstance(dvd, dict) and not dvd.get("storageType"):
                    # checkpoint struct column reads back as a
                    # dict of Nones for DV-less files
                    add.pop("deletionVector")
                active[add["path"]] = add
            elif "protocol" in a:
                protocol = a["protocol"]
            elif "domainMetadata" in a:
                # latest action per domain wins; removed=true drops
                # it (spec's domain-metadata reconciliation). JSON
                # commits carry these; checkpoints may not — hwm
                # consumers fall back to live adds' id ranges.
                dm = a["domainMetadata"]
                if dm.get("removed"):
                    domains.pop(dm.get("domain"), None)
                elif dm.get("domain"):
                    domains[dm["domain"]] = dm
    if protocol is not None:
        _check_reader_protocol(protocol, table_path)
    if schema is None:
        raise ValueError(
            f"no metaData action found in {os.path.join(table_path, '_delta_log')}"
        )
    return DeltaState(schema, part_cols, active, config, protocol, domains, version)


def _whole_files(table_path: str, st: DeltaState) -> list[tuple[str, dict]]:
    """[(abs_path, partition_values)] of `st`'s live files — the PLAIN
    whole-files view. Callers treating these files as complete (the
    DSv2 wrapper, the writer's rewrite ops) must not see a table whose
    files carry deletion vectors: streaming or rewriting such a file
    in full would resurrect deleted rows, so this raises and points at
    the DV-aware `read_delta`; a column-mapped table refuses too."""
    if column_mapping(st.schema, st.config, table_path):
        raise DeltaProtocolError(
            f"{table_path}: table uses column mapping; this "
            "physical-files access path would mis-resolve columns — "
            "use read_delta() (mapping-aware)"
        )
    dvd = sorted(rel for rel, add in st.active.items() if add.get("deletionVector"))
    if dvd:
        raise DeltaProtocolError(
            f"{table_path}: {len(dvd)} live file(s) carry "
            "deletion vectors; this whole-file access path would "
            "resurrect deleted rows — use read_delta() (DV-aware) "
            "for reads, and a DV-capable writer for rewrites"
        )
    return [
        (os.path.join(table_path, rel), add["partitionValues"])
        for rel, add in st.active.items()
    ]


def _cast_partition_value(raw: str | None, dtype: T.DataType):
    """Delta serializes partitionValues as strings (null → JSON null);
    re-cast to the declared column type."""
    if raw is None:
        return F.lit(None).cast(dtype)
    return F.lit(raw).cast(dtype)


def _ict(first: dict) -> int | None:
    """inCommitTimestamp of a commit whose FIRST action is `first`, or
    None: per the spec, when in-commit timestamps are enabled
    commitInfo must be the first action."""
    info = first.get("commitInfo")
    if isinstance(info, dict) and "inCommitTimestamp" in info:
        return int(info["inCommitTimestamp"])
    return None


def _commit_ict(log_dir: str, version: int) -> int | None:
    """inCommitTimestamp of a retained JSON commit, or None — only its
    first line is read."""
    path = os.path.join(log_dir, f"{version:020d}.json")
    try:
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    return _ict(json.loads(line))
    except (OSError, ValueError):
        return None
    return None


def _commit_states(table_path: str, versions):
    """(version, actions, state before it or None, state after it) for
    consecutive JSON commits `versions`: ONE replay, to the version
    before the first, then each commit parsed once and folded forward.
    When log cleanup expired the version before the first, the first
    is replayed instead and its prior state is None."""
    log = DeltaLog(table_path)
    after = None
    for v in versions:
        acts = _commit_actions(log.log_dir, v)
        if after is None and v > 0:
            retained = _commit_versions(log.log_dir) + list(
                _checkpoint_versions(log.log_dir)
            )
            if v == min(retained):
                after = log.replay(v)
                yield v, acts, None, after
                continue
            after = log.replay(v - 1)
        before, after = after, _fold(table_path, [acts], v, after)
        yield v, acts, before, after


def _prior(table_path: str, version: int, prior: DeltaState | None) -> DeltaState:
    """The state before `version` from `_commit_states`; when it is
    None (expired by log cleanup), replaying it raises the expiry
    refusal."""
    return prior if prior is not None else DeltaLog(table_path).replay(version - 1)


def version_at_timestamp(table_path: str, timestamp_ms: int) -> int:
    """TIMESTAMP AS OF resolution: the latest commit whose timestamp
    is <= the given epoch-ms. Per the Delta spec, a commit's
    timestamp is its log file's modification time — unless the table
    uses in-commit timestamps (the `inCommitTimestamp` writer
    feature), where the commitInfo-recorded monotonic timestamp is
    authoritative for every commit that carries one (clock-skew /
    file-copy immunity is the feature's point). The ICT probe costs
    one first-line read per retained commit, and only when the LATEST
    commit actually carries an ICT."""
    log_dir = os.path.join(table_path, "_delta_log")
    versions = _commit_versions(log_dir)
    use_ict = bool(versions) and _commit_ict(log_dir, max(versions)) is not None

    def _ts(v: int) -> int:
        if use_ict:
            ict = _commit_ict(log_dir, v)
            if ict is not None:
                return ict
        return int(
            os.path.getmtime(os.path.join(log_dir, f"{v:020d}.json")) * 1000
        )

    eligible = [v for v in versions if _ts(v) <= timestamp_ms]
    if not eligible:
        raise ValueError(
            f"{table_path}: no commit at or before "
            f"timestamp_ms={timestamp_ms}"
        )
    return max(eligible)


def read_delta(
    spark,
    table_path: str,
    version: int | None = None,
    partitions: dict | None = None,
    timestamp_ms: int | None = None,
    with_row_ids: bool = False,
):
    """Native-parquet read of a Delta table at `version` (default:
    latest) or, via `timestamp_ms`, TIMESTAMP AS OF (latest commit at
    or before the given epoch-ms — commit time = log-file mtime per
    the spec). Files sharing a partition tuple are read as ONE multi-
    path scan; partition columns come back as cast literals.

    `partitions={"col": "value"}` prunes at FILE-LIST level: files
    whose partitionValues don't match never reach Spark — the
    metadata-only partition pruning that makes a 100 TB partitioned
    table read cost proportional to the partitions touched.

    Files carrying a `deletionVector` (reader feature, foreign
    writers) are read through a row-index anti-join: the scan attaches
    `_metadata.row_index`, the DVs decode DISTRIBUTED (mapInPandas
    over descriptors) into (file, row_index) pairs, and deleted rows
    are dropped exactly — see sources/deletion_vectors.py. Clean files
    keep the plain multi-path scan.

    columnMapping tables (name mode) scan under their PHYSICAL column
    names (file content, directory layout, and partitionValues keys
    all use them per the spec) and rename to logical names in one
    final projection.

    `with_row_ids=True` projects the ROW TRACKING metadata columns
    `_row_id` (the add action's baseRowId + the row's physical
    position — stable across DV deletes, which copy the add) and
    `_row_commit_version` (defaultRowCommitVersion). Requires every
    live add to carry baseRowId (refuses otherwise — pre-tracking
    table, or files rewritten by a non-preserving op); the per-file
    map is log metadata broadcast onto the scan, no extra data
    pass. The Delta twin of read_iceberg(with_lineage=True)."""
    if timestamp_ms is not None:
        if version is not None:
            raise ValueError("pass version or timestamp_ms, not both")
        version = version_at_timestamp(table_path, timestamp_ms)
    return _read_state(
        spark, table_path, DeltaLog(table_path).replay(version), partitions,
        with_row_ids,
    )


def _read_state(
    spark, table_path: str, st: DeltaState, partitions=None, with_row_ids=False
):
    """`read_delta` of the replayed state `st`, so a writer that holds
    one reads through it."""
    schema, part_cols, active = st.schema, st.part_cols, st.active
    cm = column_mapping(schema, st.config, table_path)
    mapping = cm["phys"] if cm else None
    logical_schema = schema
    if cm:
        if cm["ids"]:
            # id mode: resolve parquet columns by field id (the conf
            # is execution-time and only affects id-carrying schemas)
            spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        schema = T.StructType(
            [
                T.StructField(
                    mapping[f.name],
                    f.dataType,
                    f.nullable,
                    {"parquet.field.id": cm["ids"][f.name]}
                    if cm["ids"]
                    else None,
                )
                for f in schema.fields
            ]
        )
        part_cols = [mapping[c] for c in part_cols]
    files = []
    dv_desc: dict[str, dict] = {}
    for rel, add in active.items():
        p = os.path.join(table_path, rel)
        files.append((p, add["partitionValues"]))
        if add.get("deletionVector"):
            dv_desc[p] = add["deletionVector"]
    if partitions:
        if mapping:
            # callers filter by LOGICAL names; partitionValues (and
            # part_cols, above) use physical names on mapped tables
            partitions = {mapping.get(c, c): v for c, v in partitions.items()}
        unknown = [c for c in partitions if c not in part_cols]
        if unknown:
            raise ValueError(
                f"{table_path}: not partition columns: {unknown} "
                f"(partitioned by {part_cols})"
            )
        files = [
            (p, pv)
            for p, pv in files
            if all(
                pv.get(c) == pv_str(v) for c, v in partitions.items()
            )
        ]
    if with_row_ids:
        if mapping:
            raise DeltaProtocolError(
                f"{table_path}: with_row_ids on a column-mapped table "
                "is not implemented"
            )
        rt: dict[str, tuple[int, int]] = {}
        for rel, add in active.items():
            b, cv = add.get("baseRowId"), add.get("defaultRowCommitVersion")
            if b is None or cv is None:
                raise DeltaProtocolError(
                    f"{table_path}: data file {rel!r} carries no "
                    "baseRowId — row tracking is not active for this "
                    "snapshot (pre-tracking table, or files rewritten "
                    "by a non-preserving operation)"
                )
            rt[os.path.basename(rel)] = (int(b), int(cv))
        # basename is the join identity (same rule as the DV join) —
        # validate uniqueness/URI-safety over ALL live files
        positions.basenames(active, _dv_refusal(table_path))
        # materialized row-id / commit-version columns (files rewritten
        # by OPTIMIZE carry the preserved ids physically; the names are
        # config-declared per the spec) — resolved here, never assumed
        mat = (st.config.get(_MAT_ROW_ID_KEY), st.config.get(_MAT_ROW_CV_KEY))
        return _row_tracked_scan(
            spark, table_path, schema, part_cols, files, dv_desc, rt, mat
        )
    clean = [(p, pv) for p, pv in files if p not in dv_desc]
    out = _assemble_view(
        spark, schema, part_cols, clean, table_root=table_path
    )
    dvd = [(p, pv) for p, pv in files if p in dv_desc]
    if dvd:
        out = out.unionByName(
            _dv_filtered_scan(
                spark, table_path, schema, part_cols, dvd, dv_desc
            )
        )
    if mapping:
        out = out.select(
            [
                F.col(mapping[f.name]).alias(f.name)
                for f in logical_schema.fields
            ]
        )
    return out


def _dv_refusal(table_path: str):
    """The basename-rule refusal (`positions.basenames`) for DV and
    row-id joins."""
    return lambda name: DeltaProtocolError(
        f"{table_path}: cannot key deletion-vector joins by "
        f"file basename: duplicate or URI-unsafe name {name!r}"
    )


def _dv_deletes(spark, table_path: str, dv_desc: dict):
    """The positions of `dv_desc` ({data file path: deletionVector
    descriptor}), decoded on executors, as a `positions.live` delete."""
    return positions.vectors(
        spark,
        [
            (os.path.basename(p), p, [table_path, d], d.get("cardinality"))
            for p, d in dv_desc.items()
        ],
        dv_row_indexes,
    )


def _dv_filtered_scan(
    spark, table_path: str, schema, part_cols, files, dv_desc
):
    """Scan `files` (all carrying deletion vectors) and drop their
    deleted rows exactly: an anti-join on (file basename, row index)
    against the vectors, decoded on executors."""
    positions.basenames((p for p, _ in files), _dv_refusal(table_path))
    scan = _assemble_view(
        spark, schema, part_cols, files, table_root=table_path, with_pos=True
    )
    return positions.live(scan, [_dv_deletes(spark, table_path, dv_desc)]).select(
        schema.fieldNames()
    )


def _row_tracked_scan(
    spark, table_path: str, schema, part_cols, files, dv_desc, rt,
    mat=(None, None),
):
    """Scan with ROW TRACKING columns projected: the live positional
    scan (DV-deleted rows subtracted) with _row_id = baseRowId + row
    position and _row_commit_version = defaultRowCommitVersion, from
    `rt` = {basename: (baseRowId, defaultRowCommitVersion)}. Survivor
    rows keep their ids across DV deletes by construction — the
    position is physical and DVs never rewrite data.

    `mat` = (materialized row-id column, materialized commit-version
    column) physical names from the table configuration (None when
    undeclared). Files REWRITTEN by an id-preserving operation
    (OPTIMIZE) carry the original ids in these hidden columns; files
    that predate the rewrite lack them and read NULL (explicit-schema
    parquet semantics), so the projection is the spec's rule verbatim:
    _row_id = coalesce(materialized, baseRowId + position)."""
    names = ("_row_id", "_row_commit_version")
    extra = [
        T.StructField(n, T.LongType(), True)
        for n in mat
        if n is not None and n not in schema.fieldNames()
    ]
    scan = _assemble_view(
        spark, T.StructType(list(schema.fields) + extra), part_cols, files,
        table_root=table_path, with_pos=True,
    )
    deletes = [_dv_deletes(spark, table_path, dv_desc)] if dv_desc else []
    return positions.with_row_ids(
        spark, positions.live(scan, deletes), rt, names, mat
    ).select(*schema.fieldNames(), *names)


def _assemble_view(
    spark,
    schema,
    part_cols,
    files,
    with_file: bool = False,
    table_root: str | None = None,
    with_pos: bool = False,
):
    """Partitioned-read assembly — delegates to the shared
    sources/assemble.py implementation (hive-layout single-scan fast
    path; per-tuple fallback for external non-hive layouts). Delta
    partitionValues are strings, so the fallback casts via
    _cast_partition_value."""
    import os as _os

    from plankton_spark.sources.assemble import assemble_view

    if table_root is None and files:
        # derive the root from any file path: the segment above the
        # hive dirs / data files (add actions are table-root-relative)
        table_root = _os.path.dirname(files[0][0])
        for c in part_cols:
            while f"{c}=" in _os.path.basename(table_root):
                table_root = _os.path.dirname(table_root)
    return assemble_view(
        spark,
        table_root or "",
        schema,
        part_cols,
        files,
        lambda v, dtype: _cast_partition_value(v, dtype),
        with_file,
        with_pos,
    )


def snapshot_schema(table_path: str, version: int | None = None):
    """The deltalog snapshot schema — shared by DataSource.schema()
    and explicit-readStream-schema callers (round 14)."""
    schema, _, _ = DeltaLog(table_path).snapshot(version)
    return schema


class DeltaLogDataSource(TableSource):
    """`spark.read.format("deltalog")` — options: path, versionAsOf."""

    NAME = "deltalog"

    def schema(self):
        return snapshot_schema(self.path, self.int_option("versionAsOf"))

    def reader(self, schema) -> FileReader:
        schema, _, files = DeltaLog(self.path).snapshot(self.int_option("versionAsOf"))
        return FileReader([FilePart(p, pv) for p, pv in files], schema)

    def streamReader(self, schema) -> "DeltaLogStreamReader":
        return DeltaLogStreamReader(self.path, self.ignore_changes())


def register(spark) -> None:
    spark.dataSource.register(DeltaLogDataSource)
    spark.dataSource.register(DeltaCdfDataSource)


# ---------------------------------------------------------------------
# Write support — makes the interop bidirectional: results land in a
# spec-shaped Delta table other engines can read. Same commit protocol
# as planktable (O_EXCL claim on the next version file = atomic OCC),
# expressed as Delta actions.
# ---------------------------------------------------------------------


from plankton_spark.filestats import _reject_empty_string_partitions  # noqa: E402
from plankton_spark.filestats import file_stats as _file_stats  # noqa: E402
from plankton_spark.filestats import footer_stats as _footer_stats  # noqa: E402
from plankton_spark.filestats import stat_encode as _stat_encode  # noqa: E402


def _pv_typed(raw: str | None, dtype: T.DataType):
    """A partitionValues string as a typed Python value for range
    compares (partition-key MERGE pruning). None → unprunable (the
    caller must treat the file as overlapping)."""
    import datetime

    if raw is None:
        return None
    try:
        if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return int(raw)
        if isinstance(dtype, (T.FloatType, T.DoubleType)):
            return float(raw)
        if isinstance(dtype, T.DateType):
            return datetime.date.fromisoformat(raw)
        if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
            return datetime.datetime.fromisoformat(raw)
        if isinstance(dtype, T.StringType):
            return raw
    except (ValueError, TypeError):
        return None
    return None


def _schema_has_ntz(dt) -> bool:
    """Any TIMESTAMP_NTZ anywhere in the type tree (nested included) —
    the trigger for the timestampNtz table feature."""
    if isinstance(dt, T.TimestampNTZType):
        return True
    if isinstance(dt, T.StructType):
        return any(_schema_has_ntz(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _schema_has_ntz(dt.elementType)
    if isinstance(dt, T.MapType):
        return _schema_has_ntz(dt.keyType) or _schema_has_ntz(dt.valueType)
    return False


def _identity_info(schema: T.StructType) -> dict:
    """{col: (start, step, high_water_mark_or_None, dtype)} for fields
    carrying the Delta identity-column metadata keys."""
    out = {}
    for f in schema.fields:
        md = f.metadata or {}
        if "delta.identity.start" in md:
            hwm = md.get("delta.identity.highWaterMark")
            out[f.name] = (
                int(md["delta.identity.start"]),
                int(md["delta.identity.step"]),
                None if hwm is None else int(hwm),
                f.dataType,
            )
    return out


def _identity_field_metadata(start: int, step: int, hwm: int | None) -> dict:
    md = {
        "delta.identity.start": start,
        "delta.identity.step": step,
        "delta.identity.allowExplicitInsert": False,
    }
    if hwm is not None:
        md["delta.identity.highWaterMark"] = hwm
    return md


def _allocate_identity(df, col: str, next_id: int, step: int):
    """Assign contiguous identity values next_id, next_id+step, ... in
    a DISTRIBUTED two-pass: per-partition row_number (parallel) plus a
    partition-offset join (one tiny frame of #partitions rows) — no
    global window, no driver collect of data. Returns (df_with_col,
    n_rows); ids within a batch are contiguous, batch order is
    partition-arbitrary (the spec only demands uniqueness and
    monotonic high-water-mark advance)."""
    from pyspark.sql import Window

    d = df.withColumn("_id_pid", F.spark_partition_id()).withColumn(
        "_id_mono", F.monotonically_increasing_id()
    )
    w = Window.partitionBy("_id_pid").orderBy("_id_mono")
    # materialize ONCE: the offsets job and the final write must see
    # the SAME (_id_pid, _id_rn) assignment — re-evaluating the
    # lineage could repartition (AQE) and collide ids
    d = d.withColumn("_id_rn", F.row_number().over(w)).localCheckpoint()
    counts = d.groupBy("_id_pid").agg(F.count(F.lit(1)).alias("_id_n"))
    woff = Window.orderBy("_id_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.withColumn(
        "_id_off", F.coalesce(F.sum("_id_n").over(woff), F.lit(0))
    ).select("_id_pid", "_id_off")
    n = df.count()
    out = (
        d.join(F.broadcast(offsets), "_id_pid")
        .withColumn(
            col,
            (
                F.lit(next_id)
                + F.lit(step) * (F.col("_id_off") + F.col("_id_rn") - 1)
            ).cast("long"),
        )
        .drop("_id_pid", "_id_mono", "_id_rn", "_id_off")
    )
    return out, n


class DeltaCommitConflict(Exception):
    """Another writer claimed this Delta version first."""


# ROW TRACKING materialized-column config keys (Delta spec: the names
# of the hidden physical columns that carry preserved row ids across
# file rewrites are recorded in the table configuration; readers must
# resolve them through these keys, never assume). This writer picks
# the Iceberg v3 reserved metadata-column names (_row_id /
# _row_commit_version) as its materialized names so a UniForm
# translation (iceberg_meta.author over delta_log.inventory) carries
# preserved ids with zero file rewrites — the Iceberg lineage reader
# resolves the same physical column by its own spec name.
_MAT_ROW_ID_KEY = "delta.rowTracking.materializedRowIdColumnName"
_MAT_ROW_CV_KEY = "delta.rowTracking.materializedRowCommitVersionColumnName"
_MAT_ROW_ID_NAME = "_row_id"
_MAT_ROW_CV_NAME = "_row_commit_version"

# Change Data Feed: change files live under this table-root folder per
# the spec (readers list them from `cdc` actions, never by walking)
_CDC_DIR = "_change_data"


def _row_tracking_domain(hwm: int) -> dict:
    """The spec's `delta.rowTracking` domain-metadata action recording
    the row-id high-water mark after a commit's assignments."""
    return {
        "domainMetadata": {
            "domain": "delta.rowTracking",
            "configuration": json.dumps({"rowIdHighWaterMark": int(hwm)}),
            "removed": False,
        }
    }


def _assign_base_row_ids(adds: list[dict], base: int, commit_version: int) -> int:
    """Assign each staged add action its baseRowId (fresh ids chain
    from `base` by the file's numRecords) and defaultRowCommitVersion.
    Returns the new row-id high-water mark. Ids live only in the LOG —
    no data file is touched, which is why OCC retries can re-assign."""
    rid = int(base)
    for a in adds:
        n = json.loads(a["add"]["stats"])["numRecords"]
        a["add"]["baseRowId"] = rid
        a["add"]["defaultRowCommitVersion"] = int(commit_version)
        rid += int(n)
    return rid - 1


def _row_id_hwm(st: DeltaState) -> int:
    """Current row-id high-water mark: the `delta.rowTracking` domain
    metadata when present (the spec's source of truth), with a
    live-adds fallback (max baseRowId + numRecords − 1) so a
    checkpoint that dropped domain-metadata actions can't cause id
    reuse."""
    hwm = -1
    dm = st.domains.get("delta.rowTracking")
    if dm is not None:
        try:
            cfg = dm.get("configuration") or "{}"
            cfg = json.loads(cfg) if isinstance(cfg, str) else cfg
            hwm = int(cfg.get("rowIdHighWaterMark", -1))
        except (ValueError, TypeError):
            pass
    for add in st.active.values():
        b, n = add.get("baseRowId"), _num_records(add)
        if b is not None and n is not None:
            hwm = max(hwm, int(b) + n - 1)
    return hwm


def _num_records(add: dict) -> int | None:
    """An add action's stats.numRecords, None when it records none."""
    raw = add.get("stats")
    try:
        n = (json.loads(raw) if isinstance(raw, str) else raw)["numRecords"]
    except (ValueError, TypeError, KeyError):
        return None
    return None if n is None else int(n)


def _constraints(cfg: dict) -> dict[str, str]:
    """{name: sql_expr} of the `delta.constraints.<name>` keys in a
    table configuration."""
    pre = "delta.constraints."
    return {k[len(pre):]: v for k, v in cfg.items() if k.startswith(pre)}


class DeltaLogWriter:
    """Minimal Delta writer: create / append / delete_where plus
    idempotent `txn`-guarded appends (the exactly-once contract a
    streaming foreachBatch sink needs). Partitioning is out of scope —
    files are unpartitioned (partitionValues = {})."""

    def __init__(self, spark, table_path: str):
        self.spark = spark
        self.table_path = table_path
        self.log_dir = os.path.join(table_path, "_delta_log")

    # -- commit protocol ------------------------------------------------

    def _next_version(self) -> int:
        if not os.path.isdir(self.log_dir):
            return 0
        # checkpoint versions count: a fully-compacted table (JSON
        # commits cleaned up, spec-legal) must get checkpoint_v + 1,
        # not a recycled low version the replayer would never see
        versions = _commit_versions(self.log_dir) + sorted(
            _checkpoint_versions(self.log_dir)
        )
        return (max(versions) + 1) if versions else 0

    def _last_ict(self) -> int | None:
        """inCommitTimestamp of the newest retained JSON commit (the
        spec's ICT-enabled marker: every commit after enablement
        carries one as its FIRST action). Fully-compacted logs (no
        JSON commits) fall back to the replayed table config."""
        if not os.path.isdir(self.log_dir):
            return None  # first commit of a fresh table
        versions = _commit_versions(self.log_dir)
        if versions:
            return _commit_ict(self.log_dir, max(versions))
        if _checkpoint_versions(self.log_dir):
            cfg = DeltaLog(self.table_path).replay(None).config
            if (cfg.get("delta.enableInCommitTimestamps") or "").lower() == (
                "true"
            ):
                return int(
                    cfg.get("delta.inCommitTimestampEnablementTimestamp") or 0
                )
        return None

    def _with_ict(self, actions: list[dict]) -> list[dict]:
        """Inject/normalize the in-commit timestamp: when the table
        has ICT enabled (or the caller already supplied one — the
        enablement commit), commitInfo carries a monotonically
        increasing epoch-ms (max(now, prev+1) per the spec) and is
        moved to the FIRST position. Re-evaluated on every commit
        attempt, so an OCC retry that lost to a concurrent ICT commit
        still publishes a larger timestamp than the winner's."""
        import time as _t

        supplied = next(
            (
                a
                for a in actions
                if isinstance(a.get("commitInfo"), dict)
                and "inCommitTimestamp" in a["commitInfo"]
            ),
            None,
        )
        prev = self._last_ict()
        if supplied is None and prev is None:
            return actions
        if supplied is None:
            # a commitInfo WITHOUT an ICT (operation label only) must
            # gain the timestamp, not coexist with a second commitInfo
            # — the spec allows at most one per commit
            bare = next(
                (a for a in actions if isinstance(a.get("commitInfo"), dict)),
                None,
            )
            if bare is not None:
                import time as _t2

                bare["commitInfo"]["inCommitTimestamp"] = max(
                    int(_t2.time() * 1000), (prev or 0) + 1
                )
                return [bare] + [a for a in actions if a is not bare]
        if supplied is not None:
            # caller-authored ICT (enablement commit): only enforce
            # monotonicity vs the predecessor, so config-recorded
            # enablement timestamps stay equal to the commit's ICT
            supplied["commitInfo"]["inCommitTimestamp"] = max(
                int(supplied["commitInfo"]["inCommitTimestamp"]),
                (prev or 0) + 1,
            )
            rest = [a for a in actions if a is not supplied]
            return [supplied] + rest
        ict = max(int(_t.time() * 1000), (prev or 0) + 1)
        return [{"commitInfo": {"inCommitTimestamp": ict}}] + actions

    def _commit(self, version: int, actions: list[dict]) -> int:
        """Atomic publication: the full content is written (and fsynced)
        to a writer-unique temp file FIRST, then published with
        os.link(tmp, final) — link fails with EEXIST if the version was
        claimed (preserving the OCC guarantee) and, unlike
        O_EXCL-create-then-write, a concurrent reader can never observe
        an empty or partially written commit file."""
        import uuid as _uuid

        actions = self._with_ict(actions)
        os.makedirs(self.log_dir, exist_ok=True)
        path = os.path.join(self.log_dir, f"{version:020d}.json")
        tmp = path + f".tmp-{_uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise DeltaCommitConflict(
                f"{self.table_path}: version {version} already committed"
            ) from None
        finally:
            os.remove(tmp)
        return version

    def _commit_with_retry(self, actions, max_retries: int = 20) -> int:
        for _ in range(max_retries):
            try:
                v = self._commit(self._next_version(), actions)
            except DeltaCommitConflict:
                continue
            if v > 0 and v % DELTA_CHECKPOINT_EVERY == 0:
                # compact the log every K commits (same cadence rule as
                # planktable); readers then replay checkpoint + tail
                write_delta_checkpoint(self.table_path, version=v)
            return v
        raise DeltaCommitConflict(f"{self.table_path}: gave up after retries")

    # -- data files -----------------------------------------------------

    def live_stats(self, active: dict[str, dict] | None = None) -> dict[str, dict]:
        """{relative_path: stats-dict} for the current snapshot's files.
        Stats come from each add action's `stats` JSON when present
        (O(log metadata), no file IO — this writer always records
        them); the parquet footer is the fallback for tables produced
        by writers that omit them. `active` lets a caller that already
        replayed the log (MERGE) avoid a second, racy replay."""
        if active is None:
            active = DeltaLog(self.table_path).replay(None).active
        out: dict[str, dict] = {}
        for rel, add in active.items():
            raw = add.get("stats")
            if raw:
                try:
                    st = json.loads(raw) if isinstance(raw, str) else raw
                    if "minValues" in st and "maxValues" in st:
                        out[rel] = st
                        continue
                except (ValueError, TypeError):
                    pass
            out[rel] = _file_stats(os.path.join(self.table_path, rel))
        return out

    def constraints(self) -> dict[str, str]:
        """{name: sql_expr} CHECK constraints from the table config
        (the spec's `delta.constraints.<name>` keys)."""
        try:
            return _constraints(DeltaLog(self.table_path).replay(None).config)
        except FileNotFoundError:
            return {}

    def _commit_metadata_update(self, build_actions) -> int:
        """Metadata-only commit with a per-retry REBUILD from a fresh
        replay (the rename_column rule — r7 review #4, reintroduced
        and re-fixed here): a conflict means the snapshot moved, so
        re-committing the pre-conflict metaData/protocol actions
        would silently revert the concurrent writer's schema, config,
        or protocol changes. `build_actions(state, schema, part_cols,
        cfg)` re-validates AND rebuilds against the fresh state every
        iteration."""
        for _ in range(20):
            st = DeltaLog(self.table_path).replay(None)
            actions = build_actions(st, st.schema, st.part_cols, dict(st.config))
            try:
                return self._commit(self._next_version(), actions)
            except DeltaCommitConflict:
                continue
        raise DeltaCommitConflict(f"{self.table_path}: gave up after retries")

    def set_property(self, key: str, value: str) -> int:
        """SET TBLPROPERTIES (key = value): a metadata-only commit
        updating the configuration map. Constraint keys must go
        through add_constraint (which validates existing rows and
        bumps the writer version)."""
        if key.startswith("delta.constraints."):
            raise ValueError(
                f"{self.table_path}: set constraints via add_constraint "
                "(it validates existing rows)"
            )

        def build(st, schema, part_cols, cfg):
            cfg = dict(cfg)
            cfg[key] = str(value)
            return [self._metadata_action(schema, part_cols, cfg)]

        return self._commit_metadata_update(build)

    def unset_property(self, key: str) -> int:
        """UNSET TBLPROPERTIES: removes the key (error if absent)."""

        def build(st, schema, part_cols, cfg):
            if key not in cfg:
                raise ValueError(f"{self.table_path}: no property {key!r}")
            cfg = dict(cfg)
            del cfg[key]
            return [self._metadata_action(schema, part_cols, cfg)]

        return self._commit_metadata_update(build)

    def _refuse_if_append_only(self, cfg: dict, op: str) -> None:
        """delta.appendOnly=true (the appendOnly legacy writer
        invariant): every operation that REMOVES rows or files must
        refuse — an append-only ledger whose history can be rewritten
        isn't one. OPTIMIZE stays legal (dataChange=false, rows
        preserved)."""
        if (cfg.get("delta.appendOnly") or "").lower() == "true":
            raise DeltaProtocolError(
                f"{self.table_path}: delta.appendOnly=true forbids {op} "
                "(unset the property first if this table is not an "
                "append-only ledger)"
            )

    def add_constraint(self, name: str, expr_sql: str) -> int:
        """ADD CONSTRAINT ... CHECK (expr): the spec stores it as
        `delta.constraints.<name>` in the metaData configuration and
        requires minWriterVersion >= 3 so legacy writers that would
        not enforce it refuse to write. EXISTING rows are validated
        first (a constraint the current data violates must not
        commit); from then on every staged write refuses violating
        rows (SQL CHECK semantics: NULL passes, only FALSE violates).
        Refused on column-mapped tables — the expression binds logical
        names but staging writes physical ones."""

        def build(st, schema, part_cols, cfg):
            if column_mapping(schema, cfg, self.table_path):
                raise DeltaProtocolError(
                    f"{self.table_path}: CHECK constraints on a "
                    "column-mapped table are not supported"
                )
            existing = read_delta(self.spark, self.table_path)
            bad = existing.where(~F.coalesce(F.expr(expr_sql), F.lit(True)))
            if not bad.isEmpty():
                raise ValueError(
                    f"{self.table_path}: existing rows violate CHECK "
                    f"({expr_sql}) — constraint not added"
                )
            cfg = dict(cfg)
            cfg[f"delta.constraints.{name}"] = expr_sql
            proto = dict(st.protocol or {"minReaderVersion": 1})
            proto["minWriterVersion"] = max(
                proto.get("minWriterVersion", 2), 3
            )
            return [
                {"protocol": proto},
                self._metadata_action(schema, part_cols, cfg),
            ]

        return self._commit_metadata_update(build)

    def drop_constraint(self, name: str) -> int:
        def build(st, schema, part_cols, cfg):
            key = f"delta.constraints.{name}"
            if key not in cfg:
                raise ValueError(f"{self.table_path}: no constraint {name!r}")
            cfg = dict(cfg)
            del cfg[key]
            return [self._metadata_action(schema, part_cols, cfg)]

        return self._commit_metadata_update(build)

    def enable_ict(self) -> int:
        """Enable in-commit timestamps (the `inCommitTimestamp` writer
        feature): from this commit on, every commit's FIRST action is
        a commitInfo carrying a monotonically increasing epoch-ms
        timestamp, and TIMESTAMP AS OF / history resolution uses it
        instead of log-file mtimes (clock-skew and file-copy
        immunity). The enablement commit records
        delta.inCommitTimestampEnablementVersion/-Timestamp per the
        spec so readers know where the mtime→ICT boundary sits.

        ICT has no legacy writer-version encoding, so a legacy
        protocol converts to the table-features form — carrying over
        the features the old minWriterVersion implied (the spec's
        upgrade rule; dropping them would un-protect constraints or
        column mapping)."""
        _LEGACY_WF = LEGACY_WRITER_FEATURES

        def build(st, schema, part_cols, cfg):
            if (cfg.get("delta.enableInCommitTimestamps") or "").lower() == (
                "true"
            ):
                raise ValueError(
                    f"{self.table_path}: in-commit timestamps already enabled"
                )
            prot = st.protocol or {
                "minReaderVersion": 1,
                "minWriterVersion": 2,
            }
            rv = prot.get("minReaderVersion", 1)
            wv = prot.get("minWriterVersion", 2)
            wf = set(prot.get("writerFeatures") or [])
            if not wf and wv < 7:
                for lv, feats in _LEGACY_WF.items():
                    if wv >= lv:
                        wf |= feats
            wf |= {"inCommitTimestamp"}
            new_prot = {
                "minReaderVersion": rv,
                "minWriterVersion": 7,
                "writerFeatures": sorted(wf),
            }
            if rv >= 3 or prot.get("readerFeatures") is not None:
                new_prot["readerFeatures"] = sorted(
                    set(prot.get("readerFeatures") or [])
                )
            import time as _t

            now = int(_t.time() * 1000)
            version = self._next_version()
            cfg = dict(cfg)
            cfg["delta.enableInCommitTimestamps"] = "true"
            cfg["delta.inCommitTimestampEnablementVersion"] = str(version)
            cfg["delta.inCommitTimestampEnablementTimestamp"] = str(now)
            return [
                {
                    "commitInfo": {
                        "operation": "SET TBLPROPERTIES",
                        "inCommitTimestamp": now,
                    }
                },
                {"protocol": new_prot},
                self._metadata_action(schema, part_cols, cfg),
            ]

        return self._commit_metadata_update(build)

    def set_not_null(self, col: str) -> int:
        """NOT NULL column invariant (the spec's invariants writer
        feature, expressed as schema nullability): existing rows are
        validated first, then a metadata-only commit marks the field
        non-nullable — every staged write refuses NULLs in it from
        then on. Works on column-mapped tables too: enforcement
        translates the logical name to the staging frame's PHYSICAL
        name (matching logical names against a physical frame would
        silently skip the check — review finding, this round)."""

        def build(st, schema, part_cols, cfg):
            if col not in [f.name for f in schema.fields]:
                raise ValueError(f"{self.table_path}: no column {col!r}")
            existing = read_delta(self.spark, self.table_path)
            if not existing.where(F.col(col).isNull()).isEmpty():
                raise ValueError(
                    f"{self.table_path}: existing rows have NULL {col!r} "
                    "— invariant not added"
                )
            new_schema = T.StructType(
                [
                    T.StructField(
                        f.name,
                        f.dataType,
                        f.nullable and f.name != col,
                        f.metadata,
                    )
                    for f in schema.fields
                ]
            )
            return [self._metadata_action(new_schema, part_cols, cfg)]

        return self._commit_metadata_update(build)

    def drop_not_null(self, col: str) -> int:
        def build(st, schema, part_cols, cfg):
            if col not in [f.name for f in schema.fields]:
                raise ValueError(f"{self.table_path}: no column {col!r}")
            new_schema = T.StructType(
                [
                    T.StructField(
                        f.name,
                        f.dataType,
                        f.nullable or f.name == col,
                        f.metadata,
                    )
                    for f in schema.fields
                ]
            )
            return [self._metadata_action(new_schema, part_cols, cfg)]

        return self._commit_metadata_update(build)

    def set_column_default(self, col: str, sql_expr: str) -> int:
        """COLUMN DEFAULT (the spec's ``allowColumnDefaults`` writer
        feature): store the SQL expression under the field-metadata
        key ``CURRENT_DEFAULT`` and raise the protocol to carry the
        feature. From then on, a write that OMITS the column
        materializes the default at staging time (writer-side — the
        spec has no read-time default: existing files are untouched
        and explicit NULLs stay NULL). Per the spec, the column must
        already EXIST: ALTER ADD COLUMN with a default is forbidden
        (old files would need a read-time fill the protocol does not
        define), so this engine exposes defaults only as an ALTER on
        present columns — the same restriction delta-spark enforces.
        The expression must be literal-foldable (no column refs): a
        row-dependent default has no meaning for a missing column."""
        # validate the expression is self-contained and typeable
        try:
            probe = self.spark.range(1).select(
                F.expr(sql_expr).alias("__d")
            )
            probe.collect()  # 1-row literal fold, driver-side
        except Exception as exc:  # noqa: BLE001
            raise ValueError(
                f"{self.table_path}: default expression {sql_expr!r} "
                f"does not evaluate standalone: {exc}"
            ) from None

        def build(st, schema, part_cols, cfg):
            if col not in [f.name for f in schema.fields]:
                raise ValueError(
                    f"{self.table_path}: no column {col!r} — per the "
                    "spec, defaults attach to EXISTING columns only "
                    "(ADD COLUMN with a default is not representable)"
                )
            new_schema = T.StructType(
                [
                    T.StructField(
                        f.name,
                        f.dataType,
                        f.nullable,
                        {**dict(f.metadata or {}), "CURRENT_DEFAULT": sql_expr}
                        if f.name == col
                        else f.metadata,
                    )
                    for f in schema.fields
                ]
            )
            prot = st.protocol or {
                "minReaderVersion": 1,
                "minWriterVersion": 2,
            }
            wv = prot.get("minWriterVersion", 2)
            wf = set(prot.get("writerFeatures") or [])
            if not wf and wv < 7:
                for lv, feats in LEGACY_WRITER_FEATURES.items():
                    if wv >= lv:
                        wf |= feats
            wf |= {"allowColumnDefaults"}
            new_prot = {
                "minReaderVersion": prot.get("minReaderVersion", 1),
                "minWriterVersion": 7,
                "writerFeatures": sorted(wf),
            }
            if prot.get("readerFeatures") is not None:
                new_prot["readerFeatures"] = sorted(
                    set(prot.get("readerFeatures") or [])
                )
            return [
                {"protocol": new_prot},
                self._metadata_action(new_schema, part_cols, cfg),
            ]

        return self._commit_metadata_update(build)

    def drop_column_default(self, col: str) -> int:
        """Remove a column's CURRENT_DEFAULT (metadata-only; the
        feature stays in the protocol — features are one-way)."""

        def build(st, schema, part_cols, cfg):
            fields = {f.name for f in schema.fields}
            if col not in fields:
                raise ValueError(f"{self.table_path}: no column {col!r}")
            new_schema = T.StructType(
                [
                    T.StructField(
                        f.name,
                        f.dataType,
                        f.nullable,
                        {
                            k: v
                            for k, v in dict(f.metadata or {}).items()
                            if k != "CURRENT_DEFAULT"
                        }
                        if f.name == col
                        else f.metadata,
                    )
                    for f in schema.fields
                ]
            )
            return [self._metadata_action(new_schema, part_cols, cfg)]

        return self._commit_metadata_update(build)

    def _enforce_constraints(self, st: DeltaState | None, df) -> None:
        """CHECK + NOT NULL enforcement on data about to be staged: a
        CHECK violates only when its expression evaluates FALSE (NULL
        passes, per the standard); a non-nullable field refuses NULLs.
        Zero cost when the table declares neither; one validation pass
        per constrained write — the price every enforcing Delta
        writer pays. `st` is the verb's replayed table (None when the
        table does not exist yet)."""
        if st is None:
            return
        cons = _constraints(st.config)
        # NOT NULL binds LOGICAL names; on a column-mapped table the
        # staging frame carries PHYSICAL names, so translate — matching
        # logical names against a physical frame silently skipped the
        # check (review finding, this round)
        cm = column_mapping(st.schema, st.config, self.table_path)
        phys = (cm or {}).get("phys") or {}
        required = [
            phys.get(f.name, f.name)
            for f in st.schema.fields
            if not f.nullable and phys.get(f.name, f.name) in df.columns
        ]
        # ONE OR-combined violation predicate across every CHECK and
        # NOT NULL term → a single validation pass regardless of how
        # many are declared (review finding: per-constraint isEmpty
        # re-executed the full input plan N times)
        viol = None
        for _, expr_sql in sorted(cons.items()):
            term = ~F.coalesce(F.expr(expr_sql), F.lit(True))
            viol = term if viol is None else (viol | term)
        for col in required:
            term = F.col(col).isNull()
            viol = term if viol is None else (viol | term)
        if viol is not None and not df.where(viol).isEmpty():
            labels = ", ".join(
                [f"CHECK {n}" for n in sorted(cons)]
                + [f"NOT NULL {c}" for c in required]
            )
            raise ValueError(
                f"{self.table_path}: rows violate a declared "
                f"constraint ({labels}); write refused"
            )

    def _stage(
        self, st: DeltaState | None, df, part_cols: list[str] | None = None
    ) -> list[dict]:
        """Stage df through the staging kernel (0-row files dropped)
        and return their `add` actions. With `part_cols`, files land
        in hive-style subdirectories (col=value/...), the partition
        columns are dropped from file content per the Delta spec, and
        each add action carries the partitionValues dict the reader
        re-attaches (and prunes on). The CHECK and NOT NULL
        constraints `st` declares are enforced on every staged
        frame."""
        self._enforce_constraints(st, df)
        if part_cols:
            _reject_empty_string_partitions(df, part_cols, self.table_path)
        return [
            {
                "add": {
                    "path": s.path,
                    "partitionValues": s.values,
                    "size": s.stat.st_size,
                    "modificationTime": int(s.stat.st_mtime * 1000),
                    "dataChange": True,
                    # per-file column stats per the Delta spec —
                    # what MERGE's key-range file pruning reads
                    "stats": json.dumps(_footer_stats(s.meta)),
                }
            }
            for s in self._staged(df, part_cols, stage.renamed("part-"))
        ]

    def _staged(self, df, part_cols, dest) -> list:
        """`stage.write` of df into a `_stage-<uuid>` temp dir."""
        tmp = os.path.join(self.table_path, f"_stage-{uuid.uuid4().hex}")
        return stage.write(df, tmp, self.table_path, dest, part_cols)

    def _cdf_enabled(self, cfg: dict) -> bool:
        """Whether the table opted into the Change Data Feed protocol
        (`delta.enableChangeDataFeed` in the metaData configuration)."""
        v = cfg.get("delta.enableChangeDataFeed", "")
        return str(v).strip().lower() == "true"

    def _stage_cdc(self, df, part_cols: list[str] | None = None) -> list[dict]:
        """Stage change rows (table columns + `_change_type`) under
        `_change_data/` and return their `cdc` actions (the spec's
        AddCDCFile). When a commit carries cdc actions, CDF readers
        use THEM as the commit's complete change set and ignore its
        add/remove files — which is what lets an UPDATE expose per-row
        preimage/postimage pairs that no snapshot diff can
        reconstruct. dataChange is false by spec (the rows are change
        METADATA, not table content); partitioned tables lay the
        change files out hive-style under _change_data/ with the
        partition columns carried in partitionValues, mirroring the
        data layout so change reads prune the same way. 0-row files
        are dropped like data files."""
        return [
            {
                "cdc": {
                    "path": s.path,
                    "partitionValues": s.values,
                    "size": s.stat.st_size,
                    "dataChange": False,
                }
            }
            for s in self._staged(df, part_cols, stage.renamed("cdc-", _CDC_DIR))
        ]

    def _rt_rewrite_state(
        self, st: DeltaState
    ) -> tuple[bool, str | None, str | None, list[dict]]:
        """Whether a REWRITE on this table must preserve row ids, and
        how: (enabled, materialized row-id column, materialized
        commit-version column, metaData head declaring the names when
        the config lacks them). Enabled only when the snapshot is
        FULLY tracked — a partially-tracked table (files already
        rewritten by a non-preserving op) keeps the non-preserving
        rewrite and its lineage reads keep refusing (ids are never
        fabricated)."""
        prot = st.protocol or {}
        if "rowTracking" not in set(prot.get("writerFeatures") or []):
            return False, None, None, []
        if not st.active or any(
            a.get("baseRowId") is None for a in st.active.values()
        ):
            return False, None, None, []
        cfg = dict(st.config)
        mat_id = cfg.get(_MAT_ROW_ID_KEY)
        mat_cv = cfg.get(_MAT_ROW_CV_KEY)
        head: list[dict] = []
        if mat_id is None or mat_cv is None:
            if {_MAT_ROW_ID_NAME, _MAT_ROW_CV_NAME} & set(st.schema.fieldNames()):
                # a FOREIGN tracked table without declared names whose
                # schema occupies our defaults: preserving is
                # impossible without guessing — degrade to the
                # non-preserving rewrite (reads refuse afterwards,
                # same contract as a partially-tracked snapshot)
                # rather than blocking the DML outright
                return False, None, None, []
            mat_id = mat_id or _MAT_ROW_ID_NAME
            mat_cv = mat_cv or _MAT_ROW_CV_NAME
            cfg[_MAT_ROW_ID_KEY] = mat_id
            cfg[_MAT_ROW_CV_KEY] = mat_cv
            cfg.setdefault("delta.enableRowTracking", "true")
            head = [self._metadata_action(st.schema, st.part_cols, cfg)]
        return True, mat_id, mat_cv, head

    def _rt_subset_scan(
        self, schema, part_cols, files, active, mat_id, mat_cv
    ):
        """Row-tracked scan of a SUBSET of the live files (a rewrite's
        hit set) with the id/commit-version columns under their
        MATERIALIZED physical names — the frame a lineage-preserving
        rewrite stages from. Same broadcast-metadata shape as
        read_delta(with_row_ids=True), scoped to the hit files."""
        rt = {
            os.path.basename(rel): (
                int(add["baseRowId"]),
                int(add["defaultRowCommitVersion"]),
            )
            for rel, add in active.items()
        }
        positions.basenames(active, _dv_refusal(self.table_path))
        dv_desc = {
            p: active[rel_path(self.table_path, p)]["deletionVector"]
            for p, _pv in files
            if active.get(rel_path(self.table_path, p), {}).get(
                "deletionVector"
            )
        }
        out = _row_tracked_scan(
            self.spark, self.table_path, schema, part_cols, files,
            dv_desc, rt, (mat_id, mat_cv),
        )
        if mat_id != "_row_id":
            out = out.withColumnRenamed("_row_id", mat_id)
        if mat_cv != "_row_commit_version":
            out = out.withColumnRenamed("_row_commit_version", mat_cv)
        return out

    def _newer(self, st: DeltaState, version: int) -> tuple[DeltaState, set[str]]:
        """`st` advanced over the commits that landed after it, up to
        `version` (exclusive), and the paths those commits removed:
        the commit path's whole view of concurrent writers, read
        without replaying the log again. A commit in that range that
        log cleanup already deleted refuses with
        ConcurrentDeltaModification."""
        units = []
        for v in range(st.version + 1, version):
            try:
                units.append(_commit_actions(self.log_dir, v))
            except FileNotFoundError:
                raise ConcurrentDeltaModification(
                    f"{self.table_path}: commit {v} was cleaned up "
                    "while this operation ran"
                ) from None
        if not units:
            return st, set()
        removed = {a["remove"]["path"] for u in units for a in u if "remove" in a}
        return _fold(self.table_path, units, version - 1, st), removed

    def _commit_rt_rewrite(
        self, st: DeltaState, mat_head: list[dict], adds: list[dict],
        other_actions: list[dict], depends_on_rel,
        mat_id: str | None = None, mat_cv: str | None = None,
    ) -> int:
        """OCC commit of a lineage-preserving rewrite of `st`: the
        staged adds get FRESH baseRowIds from the current high-water
        mark (every add on a tracked table carries one; the PRESERVED
        ids ride the files' materialized columns) and the advanced
        mark commits alongside — _validate_then_commit merged with
        _append_row_tracked's per-retry re-assignment. When the
        materialized names are passed, a concurrent writer declaring
        DIFFERENT names aborts the rewrite (our staged columns would
        be unreadable under theirs, or vice versa)."""
        for _ in range(20):
            v = self._next_version()
            st, removed = self._newer(st, v)
            gone = [r for r in depends_on_rel if r in removed]
            if gone:
                raise ConcurrentDeltaModification(
                    f"{self.table_path}: files rewritten concurrently: "
                    f"{gone[:5]}"
                )
            if mat_id is not None:
                for key, want in ((_MAT_ROW_ID_KEY, mat_id),
                                  (_MAT_ROW_CV_KEY, mat_cv)):
                    got = st.config.get(key)
                    if got is not None and got != want:
                        raise ConcurrentDeltaModification(
                            f"{self.table_path}: materialized row-id "
                            "column names changed concurrently"
                        )
            new_hwm = _assign_base_row_ids(adds, _row_id_hwm(st) + 1, commit_version=v)
            try:
                v = self._commit(
                    v,
                    mat_head
                    + [_row_tracking_domain(new_hwm)]
                    + adds
                    + other_actions,
                )
            except DeltaCommitConflict:
                continue
            if v > 0 and v % DELTA_CHECKPOINT_EVERY == 0:
                write_delta_checkpoint(self.table_path, version=v)
            return v
        raise DeltaCommitConflict(f"{self.table_path}: gave up after retries")

    def _metadata_action(
        self,
        schema: T.StructType,
        part_cols: list[str] | None = None,
        configuration: dict | None = None,
    ) -> dict:
        return {
            "metaData": {
                "id": f"plankton-delta-{os.path.basename(self.table_path)}",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema.json(),
                "partitionColumns": list(part_cols or []),
                "configuration": dict(configuration or {}),
            }
        }

    def rename_column(self, old: str, new: str) -> int:
        """Rename a column by ENABLING column mapping (name mode) — the
        Delta-spec way (see `_mapped_commit`). Existing files keep
        their physical columns; the mapping-aware read resolves them.
        Renaming a partition column works too: partitionValues keys
        and hive dirs stay physical.

        After the rename, the table is a MAPPED table: reads go
        through read_delta; append stays supported (staging renames to
        physical names); rewrite ops (delete_where, merge, OPTIMIZE)
        and add-column evolution refuse, mirroring the read-side
        posture."""

        def edit(st, fields):
            names = [f.name for f in fields]
            if old not in names:
                raise ValueError(f"{self.table_path}: no column {old!r}")
            if new in names:
                raise ValueError(f"{self.table_path}: column {new!r} exists")
            if _constraints(st.config):
                raise DeltaProtocolError(
                    f"{self.table_path}: cannot rename with CHECK "
                    "constraints declared — their expressions bind the "
                    "current names; drop the constraints first"
                )
            return lambda fs: [
                T.StructField(new if f.name == old else f.name, f.dataType, f.nullable, f.metadata)
                for f in fs
            ], [new if c == old else c for c in st.part_cols]

        return self._mapped_commit(edit)

    def drop_column(self, name: str) -> int:
        """DROP COLUMN the Delta-spec way: metadata-only, by enabling
        column mapping (name mode, `_mapped_commit`) and removing the
        field from the LOGICAL schema. No data file is rewritten — the
        dropped column's bytes stay in old files, simply unreferenced
        by the mapping-aware read, and its mapping id retires forever
        (maxColumnId stays monotone so no future column reuses it).
        At 100 TB that's the point: dropping a petabyte column costs
        one commit.

        Refusals: partition columns (the hive layout and
        partitionValues keys are built from them), tables with CHECK
        constraints (their expressions may bind the dropped name),
        nested/complex schemas, and the last remaining column."""

        def edit(st, fields):
            names = [f.name for f in fields]
            if name not in names:
                raise ValueError(f"{self.table_path}: no column {name!r}")
            if len(names) == 1:
                raise ValueError(
                    f"{self.table_path}: cannot drop the only column"
                )
            if name in st.part_cols:
                raise ValueError(
                    f"{self.table_path}: {name!r} is a partition column "
                    "— repartition (rewrite) before dropping it"
                )
            if _constraints(st.config):
                raise DeltaProtocolError(
                    f"{self.table_path}: cannot drop with CHECK "
                    "constraints declared — their expressions may bind "
                    f"{name!r}; drop the constraints first"
                )
            return lambda fs: [f for f in fs if f.name != name], st.part_cols

        return self._mapped_commit(edit)

    def _mapped_commit(self, edit) -> int:
        """A metadata-only schema edit under column mapping (name
        mode): `edit(state, fields)` validates against the replayed
        table and returns (transform of the mapped fields, partition
        columns). Every column gains a stable
        delta.columnMapping.physicalName (its current physical name)
        and id, maxColumnId never falls (ids of columns dropped by any
        writer are never reused), and the protocol upgrades to a
        column-mapping-capable reader in the same commit. Schemas with
        nested/complex fields refuse: the spec requires EVERY field
        (nested included) to carry id + physicalName once mapping is
        on, and emitting them unmapped would hand foreign readers a
        spec-invalid table. The commit REBUILDS from a fresh replay on
        every conflict retry — blindly re-committing the first
        attempt's metaData would clobber a concurrently evolved
        schema (r7 review #4)."""
        for _ in range(20):
            st = DeltaLog(self.table_path).replay(None)
            transform, part_cols = edit(st, st.schema.fields)
            complex_fields = [
                f.name
                for f in st.schema.fields
                if isinstance(
                    f.dataType, (T.StructType, T.ArrayType, T.MapType)
                )
            ]
            if complex_fields:
                raise DeltaProtocolError(
                    f"{self.table_path}: enabling column mapping with "
                    f"nested/complex fields {complex_fields} is not "
                    "implemented (the spec requires every nested field "
                    "to carry mapping metadata)"
                )
            used = [
                int((f.metadata or {}).get("delta.columnMapping.id", 0))
                for f in st.schema.fields
            ]
            next_id = max(used, default=0)
            fields = []
            for f in st.schema.fields:
                md = dict(f.metadata or {})
                md.setdefault(_CM_PHYS, f.name)
                if "delta.columnMapping.id" not in md:
                    next_id += 1
                    md["delta.columnMapping.id"] = next_id
                fields.append(T.StructField(f.name, f.dataType, f.nullable, md))
            config = dict(st.config)
            config.setdefault("delta.columnMapping.mode", "name")
            config["delta.columnMapping.maxColumnId"] = str(
                max(
                    int(config.get("delta.columnMapping.maxColumnId") or 0),
                    next_id,
                )
            )
            actions: list[dict] = []
            prot = st.protocol or {
                "minReaderVersion": 1,
                "minWriterVersion": 2,
            }
            rv = prot.get("minReaderVersion", 1)
            wv = prot.get("minWriterVersion", 2)
            rf = set(prot.get("readerFeatures") or [])
            wf = set(prot.get("writerFeatures") or [])
            if rv >= 3 or wf:
                # table-features protocol (reader and/or writer side):
                # UPGRADE only — keep every existing feature and add
                # columnMapping to both lists
                new_prot = {
                    "minReaderVersion": max(rv, 3),
                    "minWriterVersion": max(wv, 7),
                    "readerFeatures": sorted(rf | {"columnMapping"}),
                    "writerFeatures": sorted(wf | {"columnMapping"}),
                }
                if new_prot != prot:
                    actions.append({"protocol": new_prot})
            elif rv < 2 or wv < 5:
                actions.append(
                    {
                        "protocol": {
                            "minReaderVersion": max(rv, 2),
                            "minWriterVersion": max(wv, 5),
                        }
                    }
                )
            actions.append(
                self._metadata_action(
                    T.StructType(transform(fields)), part_cols, config
                )
            )
            try:
                return self._commit(self._next_version(), actions)
            except DeltaCommitConflict:
                continue  # re-replay: pick up the concurrent change
        raise DeltaCommitConflict(f"{self.table_path}: gave up after retries")

    def _schema_evolution_action(
        self, df, merge_schema: bool, st: DeltaState
    ) -> dict | None:
        """Validate df's schema against the table's; returns the
        metaData action recording an ADD-column evolution (or None when
        schemas match). Same rules as planktable._check_schema: adding
        columns needs merge_schema=True (old files read the new column
        as null); dropping or retyping existing columns is never
        allowed. `st` is the caller's replayed table.

        The evolution metaData action carries the CURRENT table
        configuration forward: metaData REPLACES the whole metadata,
        so omitting it silently dropped every table property —
        including CHECK constraints, whose enforcement vanished on
        the very next writer (caught by the round-8 review; pinned in
        tests/test_constraints_evolution.py)."""
        current = st.schema
        cur = {f.name: f.dataType for f in current.fields}
        inc = {f.name: f.dataType for f in df.schema.fields}
        missing = set(cur) - set(inc)
        added = set(inc) - set(cur)
        retyped = {n for n in set(cur) & set(inc) if cur[n] != inc[n]}
        if missing:
            raise ValueError(
                f"{self.table_path}: write source missing columns {sorted(missing)}"
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
        if added:
            evolved = T.StructType(
                current.fields
                + [f for f in df.schema.fields if f.name in added]
            )
            return self._metadata_action(evolved, st.part_cols, dict(st.config))
        return None

    # -- operations -----------------------------------------------------

    def create(
        self,
        df,
        partition_by: list[str] | None = None,
        generated: dict[str, str] | None = None,
        identity: dict[str, tuple[int, int]] | None = None,
        row_tracking: bool = False,
        change_data_feed: bool = False,
    ) -> int:
        """Create the table; `partition_by` lays data out hive-style
        (col=value dirs, values in each add's partitionValues) so the
        reader prunes whole partitions before opening any file — the
        directory-level analogue of the per-file stats skipping.

        `generated={"col": "<expr SQL>"}` declares GENERATED columns
        (the Delta `generatedColumns` feature, minWriterVersion 4):
        the writer computes and STORES each value at write time and
        records the expression as `delta.generationExpression` in the
        field's schemaString metadata; appends materialize a missing
        generated column and refuse caller-supplied values that
        contradict the expression (the spec's enforcement rule). Per
        Delta semantics, generated columns are declared at CREATE —
        they cannot be bolted onto existing rows whose files would
        then disagree with the expression.

        `row_tracking=True` enables the spec's ROW TRACKING writer
        feature (the Delta twin of Iceberg v3 row lineage): every add
        action carries `baseRowId` (fresh ids chain across commits)
        and `defaultRowCommitVersion`, the `delta.rowTracking` domain-
        metadata action tracks the rowIdHighWaterMark, and
        read_delta(with_row_ids=True) projects _row_id = baseRowId +
        physical row position (stable across DV deletes) and
        _row_commit_version. Ids live ONLY in the log — appends
        re-assign them per OCC retry with no file rewrite."""
        if os.path.isdir(self.log_dir) and _commit_versions(self.log_dir):
            raise FileExistsError(f"{self.table_path}: table already exists")
        wv = 2
        base_cfg: dict[str, str] = {}
        if change_data_feed:
            # CDF writer protocol (minWriterVersion 4): rewriting ops
            # emit `cdc` actions + _change_data files from now on
            base_cfg["delta.enableChangeDataFeed"] = "true"
            wv = 4
        id_hwm: dict[str, int | None] = {}
        if identity:
            for col, (start, step) in identity.items():
                if step == 0:
                    raise ValueError(f"{self.table_path}: identity step 0")
                if col in df.columns:
                    raise ValueError(
                        f"{self.table_path}: identity column {col!r} is "
                        "GENERATED ALWAYS — the writer allocates it"
                    )
                df, n = _allocate_identity(df, col, start, step)
                id_hwm[col] = (start + step * (n - 1)) if n else None
            wv = 6
        if generated:
            clash = sorted(set(generated) & set(df.columns))
            if clash:
                raise ValueError(
                    f"{self.table_path}: generated columns {clash} must "
                    "not be supplied at create — the writer computes them"
                )
            for col, expr in generated.items():
                df = df.withColumn(col, F.expr(expr))
            wv = max(wv, 4)
        missing = [c for c in (partition_by or []) if c not in df.columns]
        if missing:
            raise ValueError(f"partition_by columns not in df: {missing}")
        schema = df.schema
        if generated or identity:
            def _fmd(f):
                if generated and f.name in generated:
                    return {"delta.generationExpression": generated[f.name]}
                if identity and f.name in identity:
                    start, step = identity[f.name]
                    return _identity_field_metadata(
                        start, step, id_hwm.get(f.name)
                    )
                return f.metadata

            schema = T.StructType(
                [
                    T.StructField(f.name, f.dataType, f.nullable, _fmd(f))
                    for f in schema.fields
                ]
            )
        if _schema_has_ntz(schema):
            # TIMESTAMP_NTZ requires the timestampNtz table feature on
            # BOTH sides (a reader without it would reinterpret the
            # physical values in session-timezone terms); converting to
            # the features form carries the legacy-implied features
            wf: set[str] = set()
            for lv, feats in LEGACY_WRITER_FEATURES.items():
                if wv >= lv:
                    wf |= feats
            protocol = {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["timestampNtz"],
                    "writerFeatures": sorted(wf | {"timestampNtz"}),
                }
            }
        else:
            protocol = {
                "protocol": {"minReaderVersion": 1, "minWriterVersion": wv}
            }
        adds = self._stage(None, df, partition_by)
        if row_tracking:
            # table-features form: rowTracking (and its prerequisite
            # domainMetadata) are WRITER features — readers without
            # them read the data fine, they just can't see row ids
            prot = protocol["protocol"]
            wf = set(prot.get("writerFeatures") or [])
            for lv, feats in LEGACY_WRITER_FEATURES.items():
                if prot.get("minWriterVersion", wv) >= lv:
                    wf |= feats
            new_prot = {
                "minReaderVersion": prot.get("minReaderVersion", 1),
                "minWriterVersion": 7,
                "writerFeatures": sorted(
                    wf | {"rowTracking", "domainMetadata"}
                ),
            }
            if "readerFeatures" in prot:
                new_prot["readerFeatures"] = prot["readerFeatures"]
            protocol = {"protocol": new_prot}
            clash = sorted(
                {_MAT_ROW_ID_NAME, _MAT_ROW_CV_NAME}
                & {f.name for f in schema.fields}
            )
            if clash:
                raise ValueError(
                    f"{self.table_path}: row_tracking reserves the "
                    f"materialized column names {clash} — rename the "
                    "data columns"
                )
            # per the spec, delta.enableRowTracking=true in the
            # metaData configuration is what makes tracking ACTIVE
            # (the writer feature alone is merely 'supported' and
            # foreign writers could legally skip baseRowId); the
            # materialized column names are declared up front so the
            # first OPTIMIZE needs no metadata edit
            cfg = {
                **base_cfg,
                "delta.enableRowTracking": "true",
                _MAT_ROW_ID_KEY: _MAT_ROW_ID_NAME,
                _MAT_ROW_CV_KEY: _MAT_ROW_CV_NAME,
            }
            hwm = _assign_base_row_ids(adds, 0, commit_version=0)
            actions = [
                protocol,
                self._metadata_action(schema, partition_by, cfg),
            ]
            actions.append(_row_tracking_domain(hwm))
            return self._commit_with_retry(actions + adds)
        actions = [
            protocol,
            self._metadata_action(schema, partition_by, base_cfg),
        ]
        return self._commit_with_retry(actions + adds)

    def append(
        self,
        df,
        txn: tuple[str, int] | None = None,
        merge_schema: bool = False,
    ) -> int | None:
        """Append rows; with txn=(appId, version), replays of an
        already-committed (appId, version) are dropped — the Delta
        `txn` action's idempotence contract. The guard is re-validated
        INSIDE the retry loop after every commit conflict: two
        concurrent replays of one micro-batch race on the version file,
        and the loser must notice the winner already carried the same
        (appId, version) rather than blindly re-committing it.
        merge_schema=True allows ADD-column evolution (a new metaData
        action rides the same commit; old files read the column as
        null — parquet mergeSchema semantics)."""
        cm = None
        try:
            st = DeltaLog(self.table_path).replay(None)
            part_cols = st.part_cols
            cm = column_mapping(st.schema, st.config, self.table_path)
        except FileNotFoundError:
            st, part_cols = None, []
        if st is not None:
            # generated columns (delta.generationExpression field
            # metadata): materialize when absent, enforce when supplied
            # — caller values that contradict the expression must not
            # land (they'd silently diverge from every other writer's)
            for f in st.schema.fields:
                if not f.metadata or "delta.generationExpression" not in (
                    f.metadata
                ):
                    continue
                expr = f.metadata["delta.generationExpression"]
                if f.name not in df.columns:
                    df = df.withColumn(
                        f.name, F.expr(expr).cast(f.dataType)
                    )
                elif df.where(
                    ~F.col(f.name).eqNullSafe(F.expr(expr).cast(f.dataType))
                ).take(1):
                    raise ValueError(
                        f"{self.table_path}: supplied values for "
                        f"generated column {f.name!r} contradict its "
                        f"expression ({expr})"
                    )
            # column defaults (allowColumnDefaults): a write that
            # OMITS a defaulted column materializes CURRENT_DEFAULT at
            # staging time; supplied values — explicit NULL included —
            # always win (defaults are fallbacks, not invariants)
            for f in st.schema.fields:
                if (
                    f.metadata
                    and "CURRENT_DEFAULT" in f.metadata
                    and f.name not in df.columns
                ):
                    df = df.withColumn(
                        f.name,
                        F.expr(f.metadata["CURRENT_DEFAULT"]).cast(f.dataType),
                    )
        ident = _identity_info(st.schema) if st else {}
        if ident:
            present = sorted(set(ident) & set(df.columns))
            if present:
                raise DeltaProtocolError(
                    f"{self.table_path}: identity columns {present} are "
                    "GENERATED ALWAYS (allowExplicitInsert=false) — the "
                    "writer allocates them; drop them from the append df"
                )
            if txn is not None or merge_schema or cm:
                raise DeltaProtocolError(
                    f"{self.table_path}: identity allocation composes "
                    "with plain appends only (no txn idempotence, "
                    "schema evolution, or column mapping)"
                )
            return self._append_identity(st, df)
        if cm:
            # mapped table (rename_column): files store PHYSICAL names,
            # so staging renames df's logical columns; add-column
            # evolution would need new physicalName/id assignment —
            # refuse rather than guess
            if merge_schema:
                raise DeltaProtocolError(
                    f"{self.table_path}: schema evolution on a "
                    "column-mapped table is not implemented"
                )
            want = [(f.name, f.dataType) for f in st.schema.fields]
            got = [(f.name, f.dataType) for f in df.schema.fields]
            if want != got:
                raise ValueError(
                    f"{self.table_path}: append schema {got} != table "
                    f"schema {want}"
                )
            df = df.select(
                [F.col(n).alias(cm["phys"][n]) for n, _ in want]
            )
            part_cols = [cm["phys"][c] for c in part_cols]
        evolution = (
            self._schema_evolution_action(df, merge_schema, st)
            if st is not None and not cm
            else None
        )
        if evolution is not None:
            cur_names = set(st.schema.fieldNames())
            new_ntz = [
                f.name
                for f in df.schema.fields
                if f.name not in cur_names and _schema_has_ntz(f.dataType)
            ]
            if new_ntz:
                prot = st.protocol or {}
                feats = set(prot.get("readerFeatures") or []) | set(
                    prot.get("writerFeatures") or []
                )
                if "timestampNtz" not in feats:
                    raise DeltaProtocolError(
                        f"{self.table_path}: adding TIMESTAMP_NTZ "
                        f"columns {new_ntz} requires the timestampNtz "
                        "table feature, which this table's protocol "
                        "lacks — readers without the feature would "
                        "reinterpret the values; create the table with "
                        "an NTZ column (or upgrade the protocol) first"
                    )
        head: list[dict] = [evolution] if evolution is not None else []
        rt_enabled = st is not None and "rowTracking" in set(
            (st.protocol or {}).get("writerFeatures") or []
        )
        if rt_enabled:
            if txn is not None:
                raise DeltaProtocolError(
                    f"{self.table_path}: row tracking composes with "
                    "plain appends (and schema evolution) only — txn "
                    "idempotence would need the id-assignment and "
                    "guard loops merged"
                )
            return self._append_row_tracked(st, head, self._stage(st, df, part_cols))
        if txn is None:
            return self._commit_with_retry(head + self._stage(st, df, part_cols))
        last = self.last_txn_version(txn[0])
        if last is not None and txn[1] <= last:
            return None  # duplicate micro-batch replay
        actions: list[dict] = head + [{"txn": {"appId": txn[0], "version": txn[1]}}]
        actions += self._stage(st, df, part_cols)
        for _ in range(20):
            # ORDER MATTERS: pick the target version FIRST, then check
            # the guard. The check then observes every commit < v, so a
            # replay twin that landed at any earlier version is seen; if
            # it lands between our check and the link, the link hits
            # EEXIST and the next iteration re-checks. Checking before
            # picking v leaves a window where the twin commits and we
            # quietly claim the NEXT free version (no conflict raised).
            v = self._next_version()
            last = self.last_txn_version(txn[0])
            if last is not None and txn[1] <= last:
                return None  # duplicate replay committed concurrently
            try:
                v = self._commit(v, actions)
            except DeltaCommitConflict:
                continue
            if v > 0 and v % DELTA_CHECKPOINT_EVERY == 0:
                write_delta_checkpoint(self.table_path, version=v)
            return v
        raise DeltaCommitConflict(f"{self.table_path}: gave up after retries")

    def _append_row_tracked(
        self, st: DeltaState, head: list[dict], adds: list[dict]
    ) -> int:
        """Append to a row-tracked table: assign fresh baseRowIds from
        the CURRENT high-water mark (`st` advanced over the commits
        that landed since) and commit the advanced mark (the
        delta.rowTracking domain metadata) in the SAME commit as the
        adds. The whole sequence re-runs per OCC conflict — a
        concurrent row-tracked append advanced the mark, so ids must
        be re-assigned (the _append_identity shape; cheaper here
        because ids live only in the log, no re-staging)."""
        for _ in range(20):
            v = self._next_version()
            st, _removed = self._newer(st, v)
            new_hwm = _assign_base_row_ids(adds, _row_id_hwm(st) + 1, commit_version=v)
            actions = head + [_row_tracking_domain(new_hwm)] + adds
            try:
                v = self._commit(v, actions)
            except DeltaCommitConflict:
                continue
            if v > 0 and v % DELTA_CHECKPOINT_EVERY == 0:
                write_delta_checkpoint(self.table_path, version=v)
            return v
        raise DeltaCommitConflict(f"{self.table_path}: gave up after retries")

    def _append_identity(self, st: DeltaState, df) -> int:
        """Append to a table with identity columns: allocate ids from
        the CURRENT high-water mark (`st` advanced over the commits
        that landed since) and commit the advanced mark in the SAME
        commit, at the version right after the state it read. The
        whole sequence re-runs per OCC conflict — a concurrent
        identity append advanced the mark, so ids must be re-allocated
        and files re-staged (orphaned stage files are vacuum's
        problem, the id space is correctness: reusing the lost round's
        ids would collide)."""
        for _ in range(20):
            v = self._next_version()
            st, _removed = self._newer(st, v)
            schema, part_cols = st.schema, st.part_cols
            ident = _identity_info(schema)
            out = df
            new_hwm: dict[str, int | None] = {}
            for col, (start, step, hwm, _dtype) in sorted(ident.items()):
                next_id = start if hwm is None else hwm + step
                out, n = _allocate_identity(out, col, next_id, step)
                new_hwm[col] = (next_id + step * (n - 1)) if n else hwm
            out = out.select([f.name for f in schema.fields])

            def _fmd(f):
                if f.name in ident:
                    start, step, _h, _d = ident[f.name]
                    return _identity_field_metadata(
                        start, step, new_hwm[f.name]
                    )
                return f.metadata

            new_schema = T.StructType(
                [
                    T.StructField(f.name, f.dataType, f.nullable, _fmd(f))
                    for f in schema.fields
                ]
            )
            actions = [
                self._metadata_action(new_schema, part_cols, dict(st.config))
            ] + self._stage(st, out, part_cols)
            try:
                return self._commit(v, actions)
            except DeltaCommitConflict:
                continue  # newer commits → fresh mark → re-allocate
        raise DeltaCommitConflict(f"{self.table_path}: gave up after retries")

    def _rewrite(self, op, condition, assignments=None, insert=None) -> int:
        """The copy-on-write path delete_where, update_where and
        replace_where share. Refuses append-only tables (as `op`) and
        bad `assignments` or `insert` input, collects the live files
        holding a row where `condition` holds in one Spark job, then
        stages `insert` plus the hit files' rows: the survivors, or
        with `assignments` every row with the matched ones updated.
        The predicate is evaluated over the assembled view (partition
        columns re-attached as cast literals — the raw files would
        read NULL for them), and the rewrite re-stages through the
        hive layout. The hit files are read on their own (filtering
        the full view on input_file_name cannot prune at the scan).
        On a row-tracked table the read carries each row's id and
        commit version under the MATERIALIZED names, so the rewrite
        preserves identities (the same rule as OPTIMIZE) and the
        commit gives the staged files fresh baseRowIds. A change-feed
        table also stages the commit's change rows: matched rows as
        deletes, or update pre/postimage pairs, and `insert` as
        inserts. The commit is OCC-validated: a concurrent rewrite of
        a hit file aborts this one."""
        st = DeltaLog(self.table_path).replay(None)
        schema, part_cols = st.schema, st.part_cols
        files = _whole_files(self.table_path, st)
        self._refuse_if_append_only(st.config, op)
        if assignments is not None:
            exprs = rw.update_exprs(assignments, schema, part_cols, self.table_path)
        if insert is not None:
            rw.check_replacement(insert, condition, self.table_path, schema)
        rt_on, mat_id, mat_cv, mat_head = self._rt_rewrite_state(st)
        live = _assemble_view(
            self.spark, schema, part_cols, files, with_file=True,
            table_root=self.table_path,
        )
        hit_files = rw.hit_files(live, condition, files)
        hit_rel = sorted(rel_path(self.table_path, p) for p, _ in hit_files)
        cdf = self._cdf_enabled(st.config)
        adds = [] if insert is None else self._stage(st, insert, part_cols)
        tail: list[dict] = []
        changes = []
        if hit_rel:
            hot = (
                self._rt_subset_scan(
                    schema, part_cols, hit_files, st.active, mat_id, mat_cv
                )
                if rt_on
                else _assemble_view(
                    self.spark, schema, part_cols, hit_files,
                    table_root=self.table_path,
                )
            )
            if assignments is None:
                out = hot.where(rw.kept(condition))
            else:
                lineage = (mat_id, mat_cv) if rt_on else None
                out = hot.select(rw.updated(schema, exprs, condition, lineage))
            adds += self._stage(st, out, part_cols)
            tail += [{"remove": {"path": r, "dataChange": True}} for r in hit_rel]
            if cdf:
                pre = hot.where(rw.matched(condition)).select(schema.fieldNames())
                changes += (
                    [(pre, "delete")]
                    if assignments is None
                    else [
                        (pre, "update_preimage"),
                        (pre.select(rw.updated(schema, exprs)), "update_postimage"),
                    ]
                )
        if insert is not None:
            changes.append((insert, "insert"))
        if cdf and changes:
            tail += self._stage_cdc(rw.change_rows(changes), part_cols)
        if rt_on and (hit_rel or adds):
            return self._commit_rt_rewrite(
                st, mat_head, adds, tail, hit_rel, mat_id, mat_cv
            )
        return self._validate_then_commit(st, adds + tail, hit_rel)

    def delete_where(self, condition) -> int:
        """Row-level delete: rewrite only files containing matches;
        rows where `condition` evaluates to NULL are RETAINED (Delta
        DELETE semantics). Partitioned and row-tracked tables work
        too (see _rewrite)."""
        return self._rewrite("DELETE", condition)

    def update_where(self, assignments: dict, condition) -> int:
        """Row-level UPDATE ... SET: rewrite ONLY files containing
        matching rows — matched rows get `assignments` (column →
        Column/SQL-string expression, evaluated against the pre-update
        row like SQL UPDATE), unmatched rows in hit files restage
        verbatim, untouched files never move. NULL-evaluating rows are
        NOT updated (SQL semantics). OCC-validated like delete_where:
        a concurrent rewrite of a hit file aborts this update. The
        assignments must not target partition columns (that is a
        partition MOVE — delete + insert, a different operation) and
        must keep each column's type (UPDATE never retypes). On a
        row-tracked table every row KEEPS its _row_id; an updated
        row's commit version resets to this commit."""
        return self._rewrite("UPDATE", condition, assignments=assignments)

    def delete_where_dv(self, condition) -> int | None:
        """Row-level delete via DELETION VECTORS: instead of rewriting
        every hit file (delete_where — O(bytes of hit files)), write
        one DV per hit file marking the deleted ROW INDEXES
        (O(deleted rows), typically KBs of roaring bitmap vs GBs of
        parquet) and re-add the same file with the descriptor. The
        table's protocol upgrades to reader/writer feature
        `deletionVectors` in the same commit, so third-party readers
        that don't implement DVs refuse instead of resurrecting rows.

        DVs are authored ON EXECUTORS (applyInPandas per hit file);
        the driver only collects one descriptor per hit file (metadata
        scale). Existing DVs merge (union of indexes). NULL-predicate
        rows are retained, matching Delta DELETE semantics.
        Compaction purges DVs (optimize reads DV-aware and re-stages
        clean files); vacuum removes unreferenced DV files."""
        return self._dv_rewrite("DELETE", condition)

    def update_where_dv(self, assignments: dict, condition) -> int | None:
        """UPDATE ... SET via DELETION VECTORS — the O(changed-rows)
        fast path: matched rows are MASKED in place (one roaring DV
        per hit file, authored on executors) and their transformed
        copies append as new files, all in ONE commit. Cost is
        O(matched rows + DV bytes) instead of update_where's
        O(bytes of hit files) — at 100 TB, updating 0.1% of a file no
        longer rewrites the other 99.9%. Same semantics as
        update_where (NULL predicates retained, no partition-column
        targets, pre-update row visibility); OPTIMIZE later purges
        the DVs and compacts the appended fragments."""
        return self._dv_rewrite("UPDATE", condition, assignments)

    def _dv_rewrite(self, op, condition, assignments=None) -> int | None:
        """The deletion-vector path delete_where_dv and update_where_dv
        share. Refuses append-only (as `op (DV)`) and column-mapped
        tables and bad `assignments`. The predicate is evaluated over
        the LIVE rows — positions existing vectors mark are subtracted
        first, so matching an already-deleted row is a no-op, never a
        resurrection or a re-counted CDC row — and returns None when
        no live row matches. Each hit file gets one merged vector,
        authored on executors, and is re-added with it. With
        `assignments` the matched rows' updated copies (assignments
        see the pre-update row) are staged as new files in the same
        commit; on a row-tracked table each copy keeps its row's id
        (materialized value where its file was rewritten before,
        baseRowId + position otherwise) with its commit version reset,
        and the masked re-adds keep their copied baseRowIds. A
        change-feed table stages the matched rows as deletes or update
        pre/postimages. OCC-validated like the rewrite verbs."""
        st = DeltaLog(self.table_path).replay(None)
        schema, part_cols, active = st.schema, st.part_cols, st.active
        self._refuse_if_append_only(st.config, f"{op} (DV)")
        if column_mapping(schema, st.config, self.table_path):
            binds = "predicate" if assignments is None else "assignments"
            raise DeltaProtocolError(
                f"{self.table_path}: DV {op.lower()} on a column-mapped table "
                f"is not implemented ({binds} would bind logical names)"
            )
        if assignments is not None:
            exprs = rw.update_exprs(assignments, schema, part_cols, self.table_path)
        if not active:
            return None
        rt_on, mat_id, mat_cv, mat_head = (
            self._rt_rewrite_state(st)
            if assignments is not None
            else (False, None, None, [])
        )
        root = self.table_path
        rel_of = positions.basenames(active, _dv_refusal(root))
        prior = {
            os.path.join(root, rel): a["deletionVector"]
            for rel, a in active.items()
            if a.get("deletionVector")
        }
        deletes = [_dv_deletes(self.spark, root, prior)] if prior else []
        # a row-tracked update's copies carry their rows' ORIGINAL ids
        # materialized: the scan reads the materialized columns too
        # (NULL where a file was never rewritten)
        extra = [
            T.StructField(n, T.LongType(), True)
            for n in (mat_id, mat_cv)
            if rt_on and n not in schema.fieldNames()
        ]
        live = positions.live(
            _assemble_view(
                self.spark, T.StructType(list(schema.fields) + extra),
                part_cols,
                [(os.path.join(root, rel), a["partitionValues"]) for rel, a in active.items()],
                table_root=root, with_pos=True,
            ),
            deletes,
        )
        hits = positions.hits(live, condition, deletes[0][0] if deletes else None)

        def _write_dv(key, pdf):
            import pandas as pd

            desc = write_dv_file(root, pdf["__pd_ridx"].tolist())
            return pd.DataFrame({"f": [key[0]], "dv": [json.dumps(desc)]})

        descs = (
            hits.groupBy("__pd_file")
            .applyInPandas(_write_dv, "f string, dv string")
            .collect()  # one row per HIT FILE — metadata scale
        )
        if not descs:
            return None
        hit_rel = sorted(rel_of[r.f] for r in descs)
        actions: list[dict] = []
        prot = st.protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
        rf = set(prot.get("readerFeatures") or [])
        if prot.get("minReaderVersion", 1) < 3 or "deletionVectors" not in rf:
            wf = set(prot.get("writerFeatures") or [])
            if prot.get("minWriterVersion", 2) < 7:
                # legacy protocol: listing the implied legacy writer
                # features keeps delta-spec feature enumeration honest
                wf |= {"appendOnly", "invariants"}
            actions.append(
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": sorted(rf | {"deletionVectors"}),
                        "writerFeatures": sorted(wf | {"deletionVectors"}),
                    }
                }
            )
        for r in descs:
            rel = rel_of[r.f]
            new_add = {k: v for k, v in active[rel].items() if k != "deletionVector"}
            new_add["deletionVector"] = json.loads(r.dv)
            new_add["dataChange"] = True
            actions.append({"remove": {"path": rel, "dataChange": True}})
            actions.append({"add": new_add})
        matched = live.where(rw.matched(condition))
        pre = matched.select(schema.fieldNames())
        changes = [(pre, "delete")]
        adds: list[dict] = []
        if assignments is not None:
            upd = rw.updated(schema, exprs)
            changes = [(pre, "update_preimage"), (matched.select(upd), "update_postimage")]
            if rt_on:
                ids = {b: (int(active[rel]["baseRowId"]), None) for b, rel in rel_of.items()}
                copies = positions.with_row_ids(
                    self.spark, matched, ids, (mat_id, mat_cv), (mat_id, None)
                ).select(upd + [F.col(mat_id), F.col(mat_cv)])
            else:
                copies = matched.select(upd)
            adds = self._stage(st, copies, part_cols)
        if self._cdf_enabled(st.config):
            actions += self._stage_cdc(rw.change_rows(changes), part_cols)
        if rt_on:
            # masked re-adds keep their copied baseRowIds; only the
            # NEW files (updated copies) claim fresh ids
            return self._commit_rt_rewrite(
                st, mat_head, adds, actions, hit_rel, mat_id, mat_cv
            )
        return self._validate_then_commit(st, actions + adds, hit_rel)

    def _validate_then_commit(
        self, st: DeltaState, actions: list[dict], depends_on_rel
    ) -> int:
        """OCC commit for actions that REMOVE files of `st`: valid
        only while no commit after `st` removed one of them — a
        concurrent rewrite aborts with ConcurrentDeltaModification
        (committing the stale actions would silently undo that
        writer). Only the commits newer than `st` are read."""
        for _ in range(20):
            v = self._next_version()
            st, removed = self._newer(st, v)
            gone = [r for r in depends_on_rel if r in removed]
            if gone:
                raise ConcurrentDeltaModification(
                    f"{self.table_path}: files rewritten concurrently: {gone[:5]}"
                )
            try:
                return self._commit(v, actions)
            except DeltaCommitConflict:
                continue
        raise DeltaCommitConflict(f"{self.table_path}: gave up after retries")

    def optimize(
        self,
        num_files: int = 1,
        zorder_by: list[str] | None = None,
        sort_by: list[str] | None = None,
        target_file_mb: float | None = None,
    ) -> int:
        """OPTIMIZE (compaction): rewrite the current live file set into
        `num_files` larger files — the cure for streaming-sink small
        files, at planktable parity (table_format.py optimize),
        optionally clustered: 1-D range clustering on `sort_by` or
        multi-dimensional Z-ORDER on `zorder_by` (shared zvalue_column
        — bit-interleaved ranks keep every file narrow in ALL z-ordered
        dimensions, tightening the per-file stats the add actions
        carry, so data skipping prunes). Layout only: every add AND
        remove carries dataChange=false, so the streaming source skips
        the commit (no refuse, no duplicates) and CDC-style consumers
        see no row changes. OCC-validated like delete — a stale
        compaction must not resurrect concurrently rewritten data.
        Partitioned tables compact per hive directory (the re-stage
        goes through partitionBy, so `num_files` bounds files PER
        PARTITION, the same granularity Delta's own OPTIMIZE uses)."""
        if sort_by and zorder_by:
            raise ValueError("pass sort_by or zorder_by, not both")
        st = DeltaLog(self.table_path).replay(None)
        schema, part_cols, active = st.schema, st.part_cols, st.active
        if column_mapping(schema, st.config, self.table_path):
            raise DeltaProtocolError(
                f"{self.table_path}: OPTIMIZE on a column-mapped table "
                "would re-stage under logical names; not implemented"
            )
        if not active:
            return self._commit_with_retry([])
        files = [
            (os.path.join(self.table_path, rel), a["partitionValues"])
            for rel, a in active.items()
        ]
        # ROW TRACKING: a compaction must PRESERVE row ids (the spec's
        # materialized-column rule) — rewritten files carry each row's
        # original _row_id/_row_commit_version in hidden physical
        # columns named by the table configuration, and reads coalesce
        # them over the fresh baseRowId+position default. Taken only
        # when the snapshot is FULLY tracked: a partially-tracked
        # table (files rewritten by a non-preserving op) keeps today's
        # non-preserving rewrite, and its lineage reads keep refusing.
        rt_live, mat_id, mat_cv, mat_head = self._rt_rewrite_state(st)
        if rt_live:
            # the DV-aware row-id read: survivors keep their ids (DVs
            # are position-based) and the rewrite purges the DVs
            df = _read_state(self.spark, self.table_path, st, with_row_ids=True)
            if mat_id != "_row_id":
                df = df.withColumnRenamed("_row_id", mat_id)
            if mat_cv != "_row_commit_version":
                df = df.withColumnRenamed("_row_commit_version", mat_cv)
        elif any(a.get("deletionVector") for a in active.values()):
            # compaction PURGES deletion vectors: the DV-aware read
            # drops the marked rows, so the rewritten files are clean
            # and the re-adds carry no DV. Still layout-only
            # (dataChange=false): the logical row set is unchanged.
            df = _read_state(self.spark, self.table_path, st)
        else:
            df = _assemble_view(
                self.spark, schema, part_cols, files, table_root=self.table_path
            )
        # a size target bin-packs the add actions' recorded sizes
        # (O(log metadata), no file IO)
        sizes = (
            a.get("size") or os.path.getsize(os.path.join(self.table_path, rel))
            for rel, a in active.items()
        )
        df = rw.compacted(
            df, num_files, zorder_by, sort_by, target_file_mb, sizes,
            part_cols, [pv for _, pv in files],
        )
        adds = self._stage(st, df, part_cols)
        for a in adds:
            a["add"]["dataChange"] = False
        rel = sorted(rel_path(self.table_path, p) for p, _ in files)
        removes = [{"remove": {"path": r, "dataChange": False}} for r in rel]
        if rt_live:
            return self._commit_rt_rewrite(
                st, mat_head, adds, removes, rel, mat_id, mat_cv
            )
        return self._validate_then_commit(st, adds + removes, rel)

    def overwrite(self, df) -> int:
        """Replace the table's content atomically: stage the new rows,
        tombstone every file live at COMMIT time. OCC-validated on the
        snapshot read — if a concurrent writer rewrites one of the
        files this overwrite is replacing, the overwrite aborts rather
        than silently dropping that writer's result; plain concurrent
        APPENDs abort too (their rows would otherwise survive an
        operation that promised to replace everything).

        Schema: an overwrite REPLACES the table's schema when df's
        differs (Spark's overwrite + overwriteSchema semantics): a
        metaData action with df's schema rides the commit, so reads
        after the overwrite project the new columns instead of being
        silently governed by the stale schemaString."""
        # replay, not snapshot(): overwrite never READS existing files
        # — it tombstones them wholesale, which is exactly right for
        # DV'd files too (the DV dies with its add action)
        st = DeltaLog(self.table_path).replay(None)
        part_cols = st.part_cols
        self._refuse_if_append_only(st.config, "OVERWRITE")
        head: list[dict] = []
        if st.schema.jsonValue() != df.schema.jsonValue():
            # carry the table configuration forward (same rule as the
            # evolution path): metaData REPLACES all metadata, so an
            # action without it would silently drop CHECK constraints
            # and every property. A constraint referencing a column the
            # new schema lacks fails enforcement analysis loudly —
            # drop_constraint first, by design.
            head = [self._metadata_action(df.schema, part_cols, dict(st.config))]
        adds = self._stage(st, df, part_cols)
        for _ in range(20):
            v = self._next_version()
            st, _removed = self._newer(st, v)
            rel = sorted(st.active)
            actions = head + adds + [
                {"remove": {"path": r, "dataChange": True}} for r in rel
            ]
            try:
                return self._commit(v, actions)
            except DeltaCommitConflict:
                continue  # tombstone what is live NOW
        raise DeltaCommitConflict(f"{self.table_path}: gave up after retries")

    def replace_where(self, df, condition) -> int:
        """Selective atomic overwrite (Delta's
        `.option("replaceWhere", ...)`): ONE commit deletes every row
        matching `condition` and inserts `df` — the idempotent
        backfill primitive. Input rows violating the predicate raise
        up front (the spec's constraint: rows leaking outside the
        replaced region would corrupt other slices on re-runs). Only
        files containing matches are rewritten — on a hive-partitioned
        table with a partition predicate, the matching files drop
        whole (their survivors are empty), so the rewrite cost is the
        NEW data only. NULL-evaluating rows are retained
        (delete_where semantics), survivors keep their row ids, the
        input rows get fresh ones, and a change-feed table records
        the matched rows as deletes and `df` as inserts."""
        return self._rewrite("replaceWhere", condition, insert=df)

    def restore(self, version: int) -> int:
        """RESTORE TABLE ... TO VERSION AS OF semantics: one NEW commit
        whose net effect re-establishes the target version's live file
        set and table metadata. History is preserved (time travel
        still reads every version, including the pre-restore tip);
        the commit is metadata-only — no data file is read or
        rewritten, re-adds reuse the target's add actions verbatim
        (stats, partitionValues, deletionVector descriptors). The
        table PROTOCOL is never downgraded (spec rule: protocol is
        monotone), so a restore to a pre-deletionVectors version keeps
        the upgraded protocol while the metaData/config revert.
        Refuses when a target data file (or its on-disk DV) was
        vacuumed since — committing an unreadable snapshot would be
        silent corruption, the same guard planktable.restore and
        IcebergWriter.rollback_to apply."""
        from plankton_spark.sources.deletion_vectors import _decode_uuid_path

        log = DeltaLog(self.table_path)
        target, cur = log.replay(version), log.replay(None)
        t_schema, t_parts, t_active, t_cfg = target[:4]
        cur_schema, cur_parts, cur_active, cur_cfg = cur[:4]

        missing: list[str] = []
        for rel, add in sorted(t_active.items()):
            if not os.path.exists(os.path.join(self.table_path, rel)):
                missing.append(rel)
            dv = add.get("deletionVector")
            if dv and dv.get("storageType") == "u":
                dv_path = _decode_uuid_path(
                    self.table_path, dv["pathOrInlineDv"]
                )
                if not os.path.exists(dv_path):
                    missing.append(os.path.relpath(dv_path, self.table_path))
        if missing:
            raise FileNotFoundError(
                f"{self.table_path}: cannot RESTORE to version {version} "
                f"— {len(missing)} file(s) removed by vacuum: {missing[:5]}"
            )

        actions: list[dict] = []
        if (
            t_schema.jsonValue() != cur_schema.jsonValue()
            or t_parts != cur_parts
            or t_cfg != cur_cfg
        ):
            actions.append(self._metadata_action(t_schema, t_parts, t_cfg))
        for rel, add in sorted(t_active.items()):
            if cur_active.get(rel) != add:
                # new file for the current snapshot, or same path whose
                # DV/stats differ — the target's action wins wholesale
                re_add = dict(add)
                re_add["dataChange"] = True
                actions.append({"add": re_add})
        removed = sorted(rel for rel in cur_active if rel not in t_active)
        actions += [
            {"remove": {"path": r, "dataChange": True}} for r in removed
        ]
        return self._validate_then_commit(cur, actions, removed)

    def merge(self, source, key: str, merge_schema: bool = False) -> int:
        """Upsert (MERGE): rows in `source` update same-key rows,
        others insert — planktable.merge parity (table_format.py:410)
        on the Delta log. Only files whose key-range overlaps the
        source's [min, max] are rewritten — ranges come from the add
        actions' recorded stats (O(log metadata); parquet-footer
        fallback for externally written files): the file-stats
        pruning that keeps MERGE from rewriting 100 TB to change one
        partition's worth of keys. The rewrite itself is one anti-join
        (old rows whose key the source replaces drop out) + union, all
        distributed; commit is OCC-validated so a concurrent rewrite
        of an overlapping file aborts this merge instead of being
        silently undone.

        `merge_schema=True` allows MERGE WITH SCHEMA EVOLUTION:
        source-only columns widen the target schema in the same
        commit (a metaData action rides along, carrying the table
        configuration forward), survivors in rewritten files null-fill
        the new columns, and untouched files read them as null — the
        same ADD-column-only contract as append(merge_schema=True).
        New TIMESTAMP_NTZ columns still require the timestampNtz
        feature."""
        from pyspark.sql import functions as F

        raw_lo, raw_hi = source.agg(F.min(key), F.max(key)).first()
        if raw_lo is None:  # empty source → MERGE commits a no-op marker
            return self._commit_with_retry([])
        lo, hi = _stat_encode(raw_lo), _stat_encode(raw_hi)
        # ONE log replay feeds schema, partition values, stats and the
        # commit: a second replay (the old snapshot-then-live_stats
        # shape) could see a concurrent commit and KeyError instead of
        # the clean OCC conflict _validate_then_commit raises.
        st = DeltaLog(self.table_path).replay(None)
        schema, part_cols, active = st.schema, st.part_cols, st.active
        self._refuse_if_append_only(st.config, "MERGE")
        if any(a.get("deletionVector") for a in active.values()):
            # merge reads its hit files WHOLE; a DV'd file would feed
            # deleted rows back into the rewrite and resurrect them
            raise DeltaProtocolError(
                f"{self.table_path}: MERGE on a table with live deletion "
                "vectors would resurrect deleted rows — run optimize() "
                "first to purge the DVs"
            )
        if column_mapping(schema, st.config, self.table_path):
            raise DeltaProtocolError(
                f"{self.table_path}: MERGE on a column-mapped table "
                "would re-stage under logical names; not implemented"
            )
        if part_cols:
            missing = [c for c in part_cols if c not in source.columns]
            if missing:
                raise ValueError(
                    f"{self.table_path}: merge source missing partition "
                    f"columns {missing}"
                )
        evolution = self._schema_evolution_action(source, merge_schema, st)
        added_fields = []
        if evolution is not None:
            cur_names = {f.name for f in schema.fields}
            added_fields = [
                f for f in source.schema.fields if f.name not in cur_names
            ]
            ntz = [f.name for f in added_fields if _schema_has_ntz(f.dataType)]
            if ntz:
                prot = st.protocol or {}
                feats = set(prot.get("readerFeatures") or []) | set(
                    prot.get("writerFeatures") or []
                )
                if "timestampNtz" not in feats:
                    raise DeltaProtocolError(
                        f"{self.table_path}: merge-evolving TIMESTAMP_NTZ "
                        f"columns {ntz} requires the timestampNtz table "
                        "feature, which this table's protocol lacks"
                    )
        if key in part_cols:
            # partition-key merge: prune on partitionValues (the data
            # files don't even CONTAIN the key column), typed compare
            dtype = schema[key].dataType
            pv = {
                r: _pv_typed(a["partitionValues"].get(key), dtype)
                for r, a in active.items()
            }
            overlap_rel = rw.overlapping(active, raw_lo, raw_hi, lambda r: (pv[r],) * 2)
        else:
            # either bound missing (spec allows omitting untrusted
            # bounds, e.g. truncated long strings) → must rewrite
            stats = self.live_stats(active)
            overlap_rel = rw.overlapping(
                stats, lo, hi,
                lambda r: (stats[r]["minValues"].get(key), stats[r]["maxValues"].get(key)),
            )
        overlap_files = [
            (os.path.join(self.table_path, rel), active[rel]["partitionValues"])
            for rel in overlap_rel
        ]
        overlap = sorted(
            rel_path(self.table_path, p) for p, _ in overlap_files
        )
        rt_on, mat_id, mat_cv, mat_head = self._rt_rewrite_state(st)
        if rt_on and added_fields and mat_head:
            # evolution emits its own metaData (config carried
            # forward) — composing it with a SECOND metaData that
            # declares the materialized names would need a merge; our
            # tables declare the names at create, so this only trips
            # on foreign tracked tables evolving in the same MERGE
            raise DeltaProtocolError(
                f"{self.table_path}: MERGE schema evolution on a "
                "row-tracked table without declared materialized "
                "column names is not implemented — declare "
                "delta.rowTracking.materialized*ColumnName first"
            )
        hot = None
        if overlap:
            hot = (
                self._rt_subset_scan(
                    schema, part_cols, overlap_files, active, mat_id, mat_cv
                )
                if rt_on
                else _assemble_view(
                    self.spark, schema, part_cols, overlap_files,
                    table_root=self.table_path,
                )
            )
            for f in added_fields:
                # survivors predate the evolved columns: explicit nulls
                hot = hot.withColumn(f.name, F.lit(None).cast(f.dataType))
        # on a row-tracked table an updated row keeps the target's
        # _row_id with a reset commit version; inserts get fresh ids
        merged = rw.merged(hot, source, key, (mat_id, mat_cv) if rt_on else None)
        head = [evolution] if evolution is not None else []
        rw_adds = self._stage(st, merged, part_cols)
        tail = [
            {"remove": {"path": r, "dataChange": True}} for r in overlap
        ]
        if self._cdf_enabled(st.config):
            # MERGE change attribution: source rows whose key existed
            # become update pre/postimage pairs, the rest are inserts;
            # unmatched target rows restage verbatim and emit nothing
            changes = [(source, "insert")]
            if overlap:
                data_cols = schema.fieldNames() + [f.name for f in added_fields]
                keys = hot.select(key).distinct()
                pre = hot.select(data_cols).join(
                    source.select(key).distinct(), key, "semi"
                )
                changes = [
                    (pre, "update_preimage"),
                    (source.join(keys, key, "semi"), "update_postimage"),
                    (source.join(keys, key, "left_anti"), "insert"),
                ]
            tail += self._stage_cdc(rw.change_rows(changes), part_cols)
        if rt_on:
            # head (schema evolution) and mat_head are mutually
            # exclusive here (the guard above), so concatenation never
            # stacks two metaData actions in one commit
            return self._commit_rt_rewrite(
                st, head + mat_head, rw_adds, tail, overlap, mat_id, mat_cv
            )
        return self._validate_then_commit(st, head + rw_adds + tail, overlap)

    def vacuum(self, grace_seconds: float = 600.0) -> list[str]:
        """Delete data files referenced by NO commit (staging leftovers
        from crashed writers and OCC losers that staged files but then
        aborted in validate). Files referenced by ANY version — live or
        historic, JSON commit OR checkpoint (a compacted log may hold
        adds ONLY in the checkpoint parquet) — are kept, so time
        travel keeps working; this is the retention=infinite end of
        Delta's VACUUM spectrum.

        `grace_seconds` (default 10 min) skips files younger than the
        window: a concurrent writer stages data files BEFORE its
        commit lands, so an unreferenced-but-fresh file may belong to
        an in-flight transaction — deleting it would corrupt that
        writer's about-to-succeed commit. Same contract as Delta's
        retention check, applied at the staging granularity."""
        import time as _time

        referenced: set[str] = set()
        referenced_dv: set[str] = set()
        log = DeltaLog(self.table_path)

        def _dv_rel(add: dict) -> str | None:
            d = add.get("deletionVector")
            if not isinstance(d, dict):
                return None
            st = d.get("storageType")
            try:
                if st == "u":
                    from plankton_spark.sources.deletion_vectors import (
                        _decode_uuid_path,
                    )

                    return os.path.relpath(
                        _decode_uuid_path(
                            self.table_path, d["pathOrInlineDv"]
                        ),
                        self.table_path,
                    )
                if st == "p":
                    # absolute-path DV INSIDE the table dir must be
                    # kept too; outside refs aren't ours to manage
                    p = d["pathOrInlineDv"]
                    if os.path.commonpath(
                        [os.path.abspath(p), os.path.abspath(self.table_path)]
                    ) == os.path.abspath(self.table_path):
                        return os.path.relpath(p, self.table_path)
            except Exception:  # noqa: BLE001 — malformed foreign ref: keep
                return None
            return None

        for v in _commit_versions(self.log_dir):
            for a in _commit_actions(self.log_dir, v):
                if "add" in a:
                    referenced.add(a["add"]["path"])
                    dv = _dv_rel(a["add"])
                    if dv:
                        referenced_dv.add(dv)
        # checkpoints may be the ONLY record of pre-checkpoint adds
        # (their JSON commits can be cleaned up) — and time travel can
        # replay from ANY retained checkpoint, not just the newest, so
        # union the adds of every one (V2 sidecar references included:
        # the shared decoder follows them)
        for fnames in _checkpoint_versions(self.log_dir).values():
            for a in _decode_checkpoint_files(self.log_dir, fnames):
                add = a.get("add")
                if add is not None and add.get("path"):
                    referenced.add(add["path"])
                    dv = _dv_rel(add)
                    if dv:
                        referenced_dv.add(dv)
        now = _time.time()
        removed = []
        for dirpath, dirnames, filenames in os.walk(self.table_path):
            rel_dir = os.path.relpath(dirpath, self.table_path)
            if rel_dir.startswith("_"):  # _delta_log, _stage-*
                dirnames[:] = []
                continue
            for e in filenames:
                full = os.path.join(dirpath, e)
                rel = e if rel_dir == "." else os.path.join(rel_dir, e)
                is_orphan_data = (
                    e.endswith(".parquet")
                    and not e.startswith("_")
                    and rel not in referenced
                )
                # DV files referenced by NO commit (purged by OPTIMIZE,
                # or orphaned by a failed/retried DV-delete task)
                is_orphan_dv = (
                    e.startswith("deletion_vector_")
                    and e.endswith(".bin")
                    and rel not in referenced_dv
                )
                if (is_orphan_data or is_orphan_dv) and (
                    now - os.path.getmtime(full) > grace_seconds
                ):
                    os.remove(full)
                    removed.append(rel)
        # orphaned staging directories from crashed writers (same
        # grace window: a fresh _stage-* dir is an in-flight write)
        import shutil as _shutil

        for e in os.listdir(self.table_path):
            full = os.path.join(self.table_path, e)
            if (
                e.startswith("_stage-")
                and now - os.path.getmtime(full) > grace_seconds
            ):
                _shutil.rmtree(full, ignore_errors=True)
                removed.append(e)
        return sorted(removed)

    def cleanup_log(self, keep_versions: int | None = None) -> list[int]:
        """Log retention (the finite end of the VACUUM spectrum —
        vacuum alone keeps every historic reference forever): write a
        checkpoint at `latest - keep_versions + 1`, then delete the
        JSON commits and checkpoints below it. Versions at/after the
        cutoff keep replaying (checkpoint + tail, txn rows included,
        so exactly-once appends survive); older versions stop
        time-traveling with a clear error, and data files they
        exclusively referenced become vacuum-able orphans. Returns the
        expired commit versions."""
        if keep_versions is None:
            keep_versions = DELTA_CHECKPOINT_EVERY
        log = DeltaLog(self.table_path)
        latest = log.latest_version()
        cutoff = latest - keep_versions + 1
        if cutoff <= 0:
            return []
        write_delta_checkpoint(self.table_path, version=cutoff)
        expired: list[int] = []
        for f in sorted(os.listdir(log.log_dir)):
            stem = f.split(".", 1)[0]
            if not stem.isdigit() or int(stem) >= cutoff:
                continue
            os.remove(os.path.join(log.log_dir, f))
            if f.endswith(".json"):
                expired.append(int(stem))
        return expired

    def last_txn_version(self, app_id: str) -> int | None:
        """Highest committed txn version for app_id (None if none).
        Replays checkpoint + JSON tail (DeltaLog.txn_versions), so the
        answer stays correct after pre-checkpoint log cleanup."""
        if not os.path.isdir(self.log_dir):
            return None
        try:
            return DeltaLog(self.table_path).txn_versions().get(app_id)
        except FileNotFoundError:
            return None


class ConcurrentDeltaModification(Exception):
    """A conflicting writer rewrote files this delete depends on."""


# ---------------------------------------------------------------------
# Streaming source — the Delta changelog as a stream: each commit's
# `add` actions (with dataChange=true) are a micro-batch; offsets are
# {"version": N}. Mirrors the planktable streaming source.
# ---------------------------------------------------------------------

class DeltaLogStreamReader(VersionedStreamReader):
    """Options handled by DeltaLogDataSource.streamReader: path,
    ignoreChanges. Commits whose actions include `remove` are content
    rewrites — they raise unless ignoreChanges=true (matching the
    delta streaming source's semantics); pure-append commits stream
    exactly their added files."""

    def __init__(self, path: str, ignore_changes: bool):
        super().__init__(path, DeltaLog(path).snapshot(None)[0])
        self.ignore_changes = ignore_changes

    def latest(self) -> int:
        return DeltaLog(self.path).latest_version()

    def _added(self, v_from: int, v_to: int) -> list[FilePart]:
        out: list[FilePart] = []
        log_dir = os.path.join(self.path, "_delta_log")
        for v in range(v_from + 1, v_to + 1):
            adds: list[FilePart] = []
            has_remove = False
            for a in _commit_actions(log_dir, v):
                if "add" in a and a["add"].get("dataChange", True):
                    if a["add"].get("deletionVector"):
                        # a DV'd (re-)add is a row-level delete in
                        # disguise: streaming the file in full would
                        # resurrect deleted rows
                        has_remove = True
                    adds.append(
                        FilePart(
                            os.path.join(self.path, a["add"]["path"]),
                            a["add"].get("partitionValues"),
                        )
                    )
                elif "remove" in a and a["remove"].get("dataChange", True):
                    has_remove = True
            if has_remove and not self.ignore_changes:
                raise ValueError(
                    f"{self.path}: version {v} rewrites/removes data — cannot "
                    "stream without duplicates; set ignoreChanges=true to "
                    "stream added files anyway"
                )
            out.extend(adds)
        return out

    def partitions(self, start: dict, end: dict):
        return self._added(start["version"], end["version"])


_CDF_FIELDS = [
    T.StructField("_change_type", T.StringType()),
    T.StructField("_commit_version", T.LongType()),
]


def cdf_schema(table_path: str) -> T.StructType:
    """The deltacdf feed schema (table columns + _change_type +
    _commit_version). Shared by DataSource.schema() and callers
    passing an explicit readStream schema, which skips the
    Python-runner schema-probe round trip per load() (round 14)."""
    schema, _ = DeltaLog(table_path).schema_info(None)
    return T.StructType(schema.fields + _CDF_FIELDS)


class DeltaCdfDataSource(TableSource):
    """format("deltacdf"): the CHANGE DATA FEED as a STREAMING source —
    the CDC-to-downstream pattern (feed a materialized aggregate, sync
    a search index, drive an audit trail) without re-reading
    snapshots. Options: path, startingVersion (first commit whose
    changes stream; default 0 = full history — delta-spark's CDF
    contract). Output schema = table columns + _change_type +
    _commit_version."""

    NAME = "deltacdf"
    MISSING_PATH = "{} requires option 'path'"

    def schema(self):
        return cdf_schema(self.path)

    def streamReader(self, schema) -> "DeltaCdfStreamReader":
        return DeltaCdfStreamReader(self.path, self.int_option("startingVersion", 0))


class DeltaCdfStreamReader(VersionedStreamReader):
    """Offsets are commit versions; each micro-batch contributes the
    commits in (start, end] per the CDF reader algorithm: `cdc`
    actions' _change_data files VERBATIM where present, the DERIVED
    add(insert)/remove(delete) sets otherwise, layout-only commits
    nothing. An underivable foreign DV commit raises (this engine's
    own DV writes on CDF tables emit cdc actions). Rows project under
    the CURRENT table schema (pre-evolution files null-fill — the
    same serving-schema rule the batch reader applies per version is
    collapsed to the head here, documented); a column-mapped table's
    files and partitionValues resolve through its physical names."""

    def __init__(self, path: str, starting_version: int = 0):
        st = DeltaLog(path).replay(None)
        cm = column_mapping(st.schema, st.config, path)
        self.phys = cm["phys"] if cm else {}
        self.part_cols = st.part_cols
        # offsets are EXCLUSIVE lower bounds, so starting_version - 1
        # makes startingVersion the first commit whose changes stream
        super().__init__(
            path,
            T.StructType(st.schema.fields + _CDF_FIELDS),
            starting_version - 1,
            by_physical(self.phys) if cm else by_name,
        )

    def latest(self) -> int:
        return DeltaLog(self.path).latest_version()

    def _part(self, action: dict, v: int, change_type: str | None) -> FilePart:
        pv = action.get("partitionValues") or {}
        consts = {"_commit_version": v}
        if change_type is not None:  # None → the cdc file carries it
            consts["_change_type"] = change_type
        return FilePart(
            os.path.join(self.path, action["path"]),
            {c: pv.get(self.phys.get(c, c)) for c in self.part_cols},
            consts,
        )

    def partitions(self, start: dict, end: dict) -> list[FilePart]:
        out: list[FilePart] = []
        versions = range(start["version"] + 1, end["version"] + 1)
        for v, acts, prior, _st in _commit_states(self.path, versions):
            cdc = [a["cdc"] for a in acts if "cdc" in a]
            if cdc:
                out.extend(self._part(c, v, None) for c in cdc)
                continue
            adds = [
                a["add"]
                for a in acts
                if "add" in a and a["add"].get("dataChange", True)
            ]
            removes = [
                a["remove"]
                for a in acts
                if "remove" in a and a["remove"].get("dataChange", True)
            ]
            if not adds and not removes:
                continue
            if any(a.get("deletionVector") for a in adds):
                raise ValueError(
                    f"{self.path}: version {v} modifies deletion "
                    "vectors without cdc actions — the change stream "
                    "cannot be derived from whole files"
                )
            out.extend(self._part(a, v, "insert") for a in adds)
            if removes:
                prev = _prior(self.path, v, prior).active
                for r in removes:
                    before = prev.get(r["path"])
                    if before is None or before.get("deletionVector"):
                        raise ValueError(
                            f"{self.path}: version {v} removes "
                            f"{r['path']!r} that was not a clean live "
                            "file at the prior version — the change "
                            "stream cannot be derived"
                        )
                    out.append(self._part(before, v, "delete"))
        return out


DELTA_CHECKPOINT_EVERY = 10


def write_delta_checkpoint(
    table_path: str,
    version: int | None = None,
    *,
    style: str = "classic",
    parts: int = 2,
) -> str:
    """Compact the log at `version` (default latest) into a checkpoint
    + `_last_checkpoint`, per the spec's checkpoint layout: one row
    per live action with typed columns (partitionValues/configuration
    as map<string,string> — an empty STRUCT can't land in parquet).
    Readers then replay checkpoint + later JSON commits only.

    ``style`` selects the spec layout (all three are read back by
    `_checkpoint_versions` / `_decode_checkpoint_files`):

    - ``"classic"`` — one `<v>.checkpoint.parquet` (default).
    - ``"multipart"`` — `<v>.checkpoint.<n>.<m>.parquet` × ``parts``,
      non-file actions in part 1, add rows chunked across all parts.
      At 100 TB a single checkpoint parquet of 10^8 add rows is a
      driver-memory and single-writer bottleneck; parts bound each
      file.
    - ``"v2"`` — `<v>.checkpoint.<uniqueId>.parquet` whose file
      actions live in a `_delta_log/_sidecars/` parquet, plus the
      required checkpointMetadata row. Requires the table protocol to
      already declare the ``v2Checkpoint`` reader feature (the spec
      forbids v2 layouts on tables whose readers were never told);
      refuses otherwise — upgrade the protocol with a JSON commit
      first."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    log = DeltaLog(table_path)
    if version is None:
        version = log.latest_version()
    st = log.replay(version)
    str_map = pa.map_(pa.string(), pa.string())
    cp_schema = pa.schema(
        [
            pa.field(
                "metaData",
                pa.struct(
                    [
                        pa.field("id", pa.string()),
                        pa.field("schemaString", pa.string()),
                        pa.field("partitionColumns", pa.list_(pa.string())),
                        pa.field("configuration", str_map),
                    ]
                ),
            ),
            pa.field(
                "protocol",
                pa.struct(
                    [
                        pa.field("minReaderVersion", pa.int32()),
                        pa.field("minWriterVersion", pa.int32()),
                        pa.field("readerFeatures", pa.list_(pa.string())),
                        pa.field("writerFeatures", pa.list_(pa.string())),
                    ]
                ),
            ),
            pa.field(
                "add",
                pa.struct(
                    [
                        pa.field("path", pa.string()),
                        pa.field("partitionValues", str_map),
                        pa.field("size", pa.int64()),
                        # required for add actions by the Delta spec;
                        # external readers may reject a checkpoint
                        # whose add struct omits it (ADVICE r6 #1)
                        pa.field("modificationTime", pa.int64()),
                        pa.field("dataChange", pa.bool_()),
                        # carried through so MERGE's log-stats file
                        # pruning survives cleanup of pre-checkpoint
                        # JSON commits instead of silently degrading
                        # to per-file footer reads on the driver
                        pa.field("stats", pa.string()),
                        # foreign DV'd files must keep their deletion
                        # vectors across compaction — dropping the
                        # descriptor would resurrect deleted rows once
                        # the JSON commits are cleaned up
                        pa.field(
                            "deletionVector",
                            pa.struct(
                                [
                                    pa.field("storageType", pa.string()),
                                    pa.field("pathOrInlineDv", pa.string()),
                                    pa.field("offset", pa.int32()),
                                    pa.field("sizeInBytes", pa.int32()),
                                    pa.field("cardinality", pa.int64()),
                                ]
                            ),
                        ),
                        # ROW TRACKING survives compaction: dropping
                        # these would make the hwm fallback see no ids
                        # and a later append RESTART at 0 (id reuse)
                        pa.field("baseRowId", pa.int64()),
                        pa.field("defaultRowCommitVersion", pa.int64()),
                    ]
                ),
            ),
            pa.field(
                "txn",
                pa.struct(
                    [
                        pa.field("appId", pa.string()),
                        pa.field("version", pa.int64()),
                    ]
                ),
            ),
            # spec: checkpoints must carry live domain metadata — the
            # delta.rowTracking high-water mark lives here
            pa.field(
                "domainMetadata",
                pa.struct(
                    [
                        pa.field("domain", pa.string()),
                        pa.field("configuration", pa.string()),
                        pa.field("removed", pa.bool_()),
                    ]
                ),
            ),
        ]
    )
    rows: list[dict] = [
        {
            "metaData": {
                "id": f"plankton-delta-{os.path.basename(table_path)}",
                "schemaString": st.schema.json(),
                "partitionColumns": st.part_cols,
                # carry the table config (column-mapping mode lives
                # here) so compaction doesn't strip reader semantics
                "configuration": sorted((k, str(v)) for k, v in st.config.items()),
            },
            "protocol": None,
            "add": None,
        },
        {
            "metaData": None,
            # keep the table's real protocol: compaction must not widen
            # readability (a DV/mapped table checkpointed at v1 would
            # lose its reader gate for third-party readers)
            "protocol": (
                {
                    k: v
                    for k, v in st.protocol.items()
                    if k
                    in (
                        "minReaderVersion",
                        "minWriterVersion",
                        "readerFeatures",
                        "writerFeatures",
                    )
                }
                if st.protocol
                else {"minReaderVersion": 1, "minWriterVersion": 2}
            ),
            "add": None,
        },
    ]
    for rel, add in sorted(st.active.items()):
        abs_path = os.path.join(table_path, rel)
        mtime = add.get("modificationTime") or int(
            os.path.getmtime(abs_path) * 1000
        )
        stats = add.get("stats")
        rows.append(
            {
                "metaData": None,
                "protocol": None,
                "add": {
                    "path": rel,
                    "partitionValues": list(
                        (add.get("partitionValues") or {}).items()
                    ),
                    "size": add.get("size") or os.path.getsize(abs_path),
                    "modificationTime": mtime,
                    "dataChange": True,
                    "stats": stats if isinstance(stats, str) else None,
                    "deletionVector": add.get("deletionVector"),
                    "baseRowId": add.get("baseRowId"),
                    "defaultRowCommitVersion": add.get(
                        "defaultRowCommitVersion"
                    ),
                },
                "txn": None,
            }
        )
    for dom, dm in sorted(st.domains.items()):
        cfg = dm.get("configuration")
        rows.append(
            {
                "metaData": None,
                "protocol": None,
                "add": None,
                "txn": None,
                "domainMetadata": {
                    "domain": dom,
                    "configuration": cfg
                    if isinstance(cfg, str)
                    else json.dumps(cfg or {}),
                    "removed": False,
                },
            }
        )
    # spec self-containment: one txn row per (appId, max version), so
    # exactly-once dedup works from checkpoint + tail alone even after
    # pre-checkpoint JSON commits are cleaned up
    for app_id, tv in sorted(log.txn_versions(version).items()):
        rows.append(
            {
                "metaData": None,
                "protocol": None,
                "add": None,
                "txn": {"appId": app_id, "version": tv},
            }
        )
    log_dir = os.path.join(table_path, "_delta_log")
    if style == "classic":
        out = os.path.join(log_dir, f"{version:020d}.checkpoint.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema=cp_schema), out)
        with open(os.path.join(log_dir, "_last_checkpoint"), "w") as f:
            json.dump({"version": version, "size": len(rows)}, f)
        return out

    non_add = [r for r in rows if r.get("add") is None]
    add_rows = [r for r in rows if r.get("add") is not None]

    if style == "multipart":
        if parts < 1:
            raise ValueError(f"multipart checkpoint needs parts >= 1, got {parts}")
        chunk = -(-len(add_rows) // parts) if add_rows else 0
        out = None
        for n in range(1, parts + 1):
            body = add_rows[(n - 1) * chunk : n * chunk] if chunk else []
            part_rows = (non_add if n == 1 else []) + body
            out = os.path.join(
                log_dir,
                f"{version:020d}.checkpoint.{n:010d}.{parts:010d}.parquet",
            )
            pq.write_table(
                pa.Table.from_pylist(part_rows, schema=cp_schema), out
            )
        with open(os.path.join(log_dir, "_last_checkpoint"), "w") as f:
            json.dump(
                {"version": version, "size": len(rows), "parts": parts}, f
            )
        return out

    if style == "v2":
        import uuid as _uuid

        prot = next(r["protocol"] for r in rows if r.get("protocol"))
        if "v2Checkpoint" not in (prot.get("readerFeatures") or []):
            raise ValueError(
                f"{table_path}: v2 checkpoint refused — the table "
                "protocol does not declare the v2Checkpoint reader "
                "feature, so third-party readers would not know to "
                "look for sidecars; commit a protocol upgrade first"
            )
        uid = _uuid.uuid4().hex
        side_dir = os.path.join(log_dir, "_sidecars")
        os.makedirs(side_dir, exist_ok=True)
        side_name = f"{uid}-0.parquet"
        side_path = os.path.join(side_dir, side_name)
        add_field = cp_schema.field("add")
        pq.write_table(
            pa.Table.from_pylist(
                [{"add": r["add"]} for r in add_rows],
                schema=pa.schema([add_field]),
            ),
            side_path,
        )
        v2_schema = pa.schema(
            [
                pa.field(
                    "checkpointMetadata",
                    pa.struct([pa.field("version", pa.int64())]),
                ),
                pa.field(
                    "sidecar",
                    pa.struct(
                        [
                            pa.field("path", pa.string()),
                            pa.field("sizeInBytes", pa.int64()),
                            pa.field("modificationTime", pa.int64()),
                        ]
                    ),
                ),
                *cp_schema,
            ]
        )
        main_rows = (
            [{"checkpointMetadata": {"version": version}}]
            + non_add
            + [
                {
                    "sidecar": {
                        "path": side_name,
                        "sizeInBytes": os.path.getsize(side_path),
                        "modificationTime": int(
                            os.path.getmtime(side_path) * 1000
                        ),
                    }
                }
            ]
        )
        out = os.path.join(
            log_dir, f"{version:020d}.checkpoint.{uid}.parquet"
        )
        pq.write_table(pa.Table.from_pylist(main_rows, schema=v2_schema), out)
        with open(os.path.join(log_dir, "_last_checkpoint"), "w") as f:
            json.dump({"version": version, "size": len(rows)}, f)
        return out

    raise ValueError(f"unknown checkpoint style {style!r}")


def read_delta_changes(spark, table_path: str, v_from: int, v_to: int):
    """Change data feed between two versions via multiset snapshot
    diff (exceptAll both ways): rows present only in v_to are
    `insert`, rows present only in v_from are `delete`. Independent of
    WHICH files the intervening commits rewrote — byte-identical
    rewritten rows contribute nothing — so compaction/Z-order commits
    produce an empty feed. Same semantics as planktable.diff
    (table_format.py) and the q_table_cdc oracle."""
    from plankton_spark.sources.assemble import snapshot_changes

    return snapshot_changes(
        read_delta(spark, table_path, version=v_to),
        read_delta(spark, table_path, version=v_from),
    )


def read_delta_cdf(spark, table_path: str, v_from: int, v_to: int):
    """CHANGE DATA FEED read between versions [v_from, v_to], both
    inclusive (delta-spark's startingVersion/endingVersion contract):
    table columns + `_change_type` (insert / delete /
    update_preimage / update_postimage) + `_commit_version` +
    `_commit_timestamp`.

    Per the spec's reader algorithm, each commit contributes:
    - its `cdc` actions' _change_data files VERBATIM when present
      (they are the commit's complete change set — add/remove files
      are ignored for change capture, which is what makes per-row
      UPDATE attribution possible);
    - otherwise the DERIVED set: dataChange adds read as `insert`,
      dataChange removes read (from the still-on-disk tombstoned
      files, at the pre-commit snapshot's metadata) as `delete`.
      Layout-only commits (OPTIMIZE: dataChange false throughout)
      contribute nothing. A derived commit touching
      deletion-vector'd files refuses — whole-file derivation would
      mis-attribute the DV'd rows; DV writes on a CDF table must
      emit cdc actions.

    Every per-commit contribution is a native parquet scan unioned
    lazily — no collect, no per-row Python; the driver work is one
    log-JSON parse per commit (metadata scale). Commit schemas apply
    PER VERSION (schema evolution mid-range null-fills via
    unionByName allowMissingColumns). The snapshot-diff CDC
    (read_delta_changes) remains the layout-independent fallback for
    tables without the feed."""
    log_dir = os.path.join(table_path, "_delta_log")
    versions = [
        v for v in _commit_versions(log_dir) if v_from <= v <= v_to
    ]
    if not versions and not _commit_versions(log_dir):
        raise FileNotFoundError(f"{table_path}: not a Delta table")
    frames = []
    for v, acts, prior, st in _commit_states(table_path, versions):
        schema, part_cols = st.schema, st.part_cols
        ict = _ict(acts[0]) if acts else None
        ts_ms = (
            ict
            if ict is not None
            else int(
                os.path.getmtime(os.path.join(log_dir, f"{v:020d}.json"))
                * 1000
            )
        )
        cdc_schema = T.StructType(
            list(schema.fields)
            + [T.StructField("_change_type", T.StringType())]
        )

        def _stamp(df):
            return df.withColumn("_commit_version", F.lit(v)).withColumn(
                "_commit_timestamp", F.timestamp_millis(F.lit(ts_ms))
            )

        cdc = [a["cdc"] for a in acts if "cdc" in a]
        if cdc:
            files = [
                (os.path.join(table_path, c["path"]), c["partitionValues"])
                for c in cdc
            ]
            frames.append(
                _stamp(
                    _assemble_view(
                        spark, cdc_schema, part_cols, files,
                        table_root=table_path,
                    )
                )
            )
            continue
        adds = [
            a["add"]
            for a in acts
            if "add" in a and a["add"].get("dataChange", True)
        ]
        removes = [
            a["remove"]
            for a in acts
            if "remove" in a and a["remove"].get("dataChange", True)
        ]
        if not adds and not removes:
            continue  # metadata-only or layout-only commit
        if any(a.get("deletionVector") for a in adds):
            raise DeltaProtocolError(
                f"{table_path}: version {v} modifies deletion vectors "
                "without cdc actions — the change set cannot be "
                "derived from whole files; use read_delta_changes "
                "(snapshot diff) instead"
            )
        if adds:
            files = [
                (os.path.join(table_path, a["path"]), a["partitionValues"])
                for a in adds
            ]
            frames.append(
                _stamp(
                    _assemble_view(
                        spark, schema, part_cols, files,
                        table_root=table_path,
                    ).withColumn("_change_type", F.lit("insert"))
                )
            )
        if removes:
            p_schema, p_parts, p_active = _prior(table_path, v, prior)[:3]
            files = []
            for r in removes:
                prev = p_active.get(r["path"])
                if prev is None:
                    raise DeltaProtocolError(
                        f"{table_path}: version {v} removes "
                        f"{r['path']!r} which was not live at "
                        f"version {v - 1}"
                    )
                if prev.get("deletionVector"):
                    raise DeltaProtocolError(
                        f"{table_path}: version {v} removes a "
                        "deletion-vector'd file without cdc actions "
                        "— whole-file derivation would resurrect the "
                        "DV'd rows as deletes"
                    )
                files.append(
                    (
                        os.path.join(table_path, r["path"]),
                        prev["partitionValues"],
                    )
                )
            frames.append(
                _stamp(
                    _assemble_view(
                        spark, p_schema, p_parts, files,
                        table_root=table_path,
                    ).withColumn("_change_type", F.lit("delete"))
                )
            )
    if not frames:
        schema = DeltaLog(table_path).replay(None).schema
        empty = T.StructType(
            list(schema.fields)
            + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_commit_version", T.IntegerType()),
                T.StructField("_commit_timestamp", T.TimestampType()),
            ]
        )
        return local_frame(spark, [], empty)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def inventory(spark, table_path: str) -> Inventory:
    """The conversion inventory (`sources/convert.py`) of a Delta
    table's current snapshot. The log replay, not a directory walk,
    picks the live files, so tombstoned files and staging leftovers
    are invisible. Record counts come from each add's stats, deletion
    vectors decode to the file's deleted row indexes, and baseRowId
    becomes its first row id when every live file carries one (a
    partially tracked snapshot converts without ids rather than
    fabricating them). Refuses a column-mapped table: its files store
    physical names that the target's schema would not resolve."""
    st = DeltaLog(table_path).replay(None)
    if column_mapping(st.schema, st.config, table_path):
        raise DeltaProtocolError(
            f"{table_path}: column-mapped Delta tables cannot convert — "
            "files store physical names the target schema would not "
            "resolve"
        )
    tracked = bool(st.active) and all(
        a.get("baseRowId") is not None for a in st.active.values()
    )
    files = [
        LiveFile(
            os.path.join(table_path, rel),
            a["partitionValues"],
            _num_records(a),
            tuple(dv_row_indexes(table_path, a["deletionVector"]))
            if a.get("deletionVector")
            else (),
            int(a["baseRowId"]) if tracked else None,
        )
        for rel, a in sorted(st.active.items())
    ]
    return Inventory(
        "Delta", st.schema, st.part_cols, files,
        _row_id_hwm(st) + 1 if tracked else None,
    )


def author(spark, table_path: str, source) -> int:
    """Author version 0 of a ``_delta_log`` over the files of the
    inventory ``source(spark, table_path)`` returns, in place: CONVERT
    TO DELTA for a parquet directory (`convert.hive_inventory`) and the
    Delta arm of every other format's migration. Nothing is rewritten
    or moved; the cost is O(files) metadata. Each add carries its
    partition values and footer stats for the schema's columns; a
    file's deleted rows become a DV file (the roaring payloads share
    one codec, so the translation is exact); first row ids become
    baseRowId verbatim, with the high-water mark in the rowTracking
    domain and the materialized-column names of the Iceberg reserved
    ones, so ids an Iceberg compaction materialized keep winning. The
    protocol lists exactly the features those need. A schema that
    already holds the materialized names converts without ids.
    Refuses when a _delta_log exists, before the source is read."""
    log_dir = os.path.join(table_path, "_delta_log")
    if os.path.isdir(log_dir) and _commit_versions(log_dir):
        raise FileExistsError(f"{table_path}: already a Delta table")
    inv = source(spark, table_path)
    names = set(inv.schema.fieldNames())
    ids = inv.next_row_id is not None and not (
        {_MAT_ROW_ID_NAME, _MAT_ROW_CV_NAME} & names
    )
    readers = {"timestampNtz"} if _schema_has_ntz(inv.schema) else set()
    if any(f.deleted for f in inv.files):
        # a reader feature: readers without it would resurrect rows
        readers.add("deletionVectors")
    writers = readers | ({"rowTracking", "domainMetadata"} if ids else set())
    protocol: dict = {
        "minReaderVersion": 3 if readers else 1,
        "minWriterVersion": 7 if writers else 2,
    }
    if writers:
        protocol["writerFeatures"] = sorted(writers | LEGACY_WRITER_FEATURES[2])
    if readers:
        protocol["readerFeatures"] = sorted(readers)
    cfg = (
        {
            "delta.enableRowTracking": "true",
            _MAT_ROW_ID_KEY: _MAT_ROW_ID_NAME,
            _MAT_ROW_CV_KEY: _MAT_ROW_CV_NAME,
        }
        if ids
        else {}
    )
    w = DeltaLogWriter(spark, table_path)
    actions = [
        {"protocol": protocol},
        w._metadata_action(inv.schema, inv.part_cols, cfg),
    ]
    if ids:
        actions.append(_row_tracking_domain(inv.next_row_id - 1))
    for f in inv.files:
        st = _file_stats(f.path)
        for k in ("minValues", "maxValues", "nullCount"):
            st[k] = {c: v for c, v in st[k].items() if c.split(".")[0] in names}
        add = {
            "path": rel_path(table_path, f.path),
            "partitionValues": f.partition,
            "size": os.path.getsize(f.path),
            "modificationTime": int(os.path.getmtime(f.path) * 1000),
            "dataChange": True,
            "stats": json.dumps(st),
        }
        if ids:
            add.update(baseRowId=f.first_row_id, defaultRowCommitVersion=0)
        if f.deleted:
            add["deletionVector"] = write_dv_file(table_path, f.deleted)
        actions.append({"add": add})
    return w._commit(0, actions)


def clone_delta(spark, src_path: str, dst_path: str) -> int:
    """SHALLOW CLONE (the public `CREATE TABLE ... SHALLOW CLONE`):
    author version 0 of a NEW Delta table whose add actions reference
    the SOURCE table's current data files by ABSOLUTE path (the spec
    allows absolute add paths) — zero bytes copied, O(files) metadata.
    The clone then diverges freely: its commits tombstone/add its own
    files and never write the source; its vacuum cannot reclaim source
    files (they live outside its root, and rel_path keeps their
    action keys absolute so rewrites tombstone them correctly).
    Protocol, schema, partitioning, table config (column mapping
    included) and deletion vectors all carry over — on-disk 'u' DVs
    are re-anchored as absolute-path 'p' descriptors, since 'u'
    resolves relative to the table root and the clone's root differs."""
    from plankton_spark.sources.deletion_vectors import _decode_uuid_path

    dst_log = os.path.join(dst_path, "_delta_log")
    if os.path.isdir(dst_log) and _commit_versions(dst_log):
        raise FileExistsError(f"{dst_path}: already a Delta table")
    src = DeltaLog(src_path).replay(None)
    schema, part_cols, active, cfg = src[:4]
    proto = src.protocol or {
        "minReaderVersion": 1,
        "minWriterVersion": 2,
    }
    w = DeltaLogWriter(spark, dst_path)
    meta = w._metadata_action(schema, part_cols, cfg)
    actions: list[dict] = [{"protocol": proto}, meta]
    for rel, add in sorted(active.items()):
        a = dict(add)
        a["path"] = os.path.abspath(os.path.join(src_path, rel))
        dv = a.get("deletionVector")
        if dv and dv.get("storageType") == "u":
            a["deletionVector"] = dict(
                dv,
                storageType="p",
                pathOrInlineDv=_decode_uuid_path(
                    src_path, dv["pathOrInlineDv"]
                ),
            )
        a["dataChange"] = True
        actions.append({"add": a})
    return w._commit(0, actions)


def delta_history(table_path: str) -> list[dict]:
    """DESCRIBE HISTORY for a Delta table: one record per retained
    commit — version, timestamp (log-file mtime, the spec's commit
    time), action counts, and an operation label. The label comes
    from a commitInfo action when a foreign writer recorded one
    (commitInfo is OPTIONAL in the spec) and is otherwise derived
    from the action shape, which this engine's own commits determine
    unambiguously: metadata/protocol-only commits, blind appends
    (adds only), rewrites (adds+removes with dataChange), and
    layout-only OPTIMIZE (dataChange false throughout)."""
    log_dir = os.path.join(table_path, "_delta_log")
    out = []
    for v in _commit_versions(log_dir):
        actions = _commit_actions(log_dir, v)
        n_add = sum(1 for a in actions if "add" in a)
        n_remove = sum(1 for a in actions if "remove" in a)
        has_meta = any("metaData" in a for a in actions)
        has_proto = any("protocol" in a for a in actions)
        info = next(
            (a["commitInfo"] for a in actions if "commitInfo" in a), None
        )
        data_change = any(
            a["add"].get("dataChange", True)
            for a in actions
            if "add" in a
        ) or any(
            a["remove"].get("dataChange", True)
            for a in actions
            if "remove" in a
        )
        if info and info.get("operation"):
            op = info["operation"]
        elif n_add and n_remove and not data_change:
            op = "OPTIMIZE"
        elif n_add and n_remove:
            op = "REWRITE"
        elif n_add and has_meta and v == 0:
            op = "CREATE"
        elif n_add:
            op = "WRITE"
        elif n_remove:
            op = "DELETE"
        elif has_meta or has_proto:
            op = "SET METADATA"
        else:
            op = "EMPTY"
        ict = next(
            (
                int(a["commitInfo"]["inCommitTimestamp"])
                for a in actions
                if "commitInfo" in a
                and "inCommitTimestamp" in a["commitInfo"]
            ),
            None,
        )
        out.append(
            {
                "version": v,
                "timestamp_ms": (
                    ict
                    if ict is not None
                    else int(
                        os.path.getmtime(os.path.join(log_dir, f"{v:020d}.json"))
                        * 1000
                    )
                ),
                "operation": op,
                "n_added": n_add,
                "n_removed": n_remove,
                "metadata_changed": has_meta,
                "protocol_changed": has_proto,
            }
        )
    return out


def files_meta(spark, table_path: str, version: int | None = None):
    """Delta `files` metadata table: one row per LIVE data file at a
    version, built ENTIRELY from the log replay — no parquet footer or
    data IO when the add actions carry stats (this engine's writer
    always records them; foreign files without stats fall back to one
    footer read each).

    Columns: path, partition (map<string,string>, raw hive-encoded
    values), num_records (DV-corrected live rows: stats.numRecords
    minus deletionVector.cardinality), dv_cardinality, min_values /
    max_values (map<string,string>, stat_encode'd — for DV'd files
    these are bounds over the PRE-delete rows, i.e. conservative).

    Scale: this is driver-side over the active add list — the same
    O(files) metadata the replay already holds; aggregation over it
    happens in Spark after parallelize. At 100 TB an ANALYZE answered
    from here costs zero data IO (the point of the surface).
    """
    active = DeltaLog(table_path).replay(version).active
    rows = []
    for rel, add in sorted(active.items()):
        raw = add.get("stats")
        st = None
        if raw:
            try:
                st = json.loads(raw) if isinstance(raw, str) else dict(raw)
            except (ValueError, TypeError):
                st = None
        if not st or "numRecords" not in st:
            st = _file_stats(os.path.join(table_path, rel))
        dv = add.get("deletionVector") or {}
        dv_card = int(dv.get("cardinality") or 0)
        rows.append(
            (
                rel,
                {k: v for k, v in (add.get("partitionValues") or {}).items()},
                int(st["numRecords"]) - dv_card,
                dv_card,
                {k: str(v) for k, v in (st.get("minValues") or {}).items()},
                {k: str(v) for k, v in (st.get("maxValues") or {}).items()},
            )
        )
    out_schema = (
        "path string, partition map<string,string>, num_records long, "
        "dv_cardinality long, min_values map<string,string>, "
        "max_values map<string,string>"
    )
    return local_frame(spark, rows, out_schema)
