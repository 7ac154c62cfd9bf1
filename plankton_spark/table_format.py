"""planktable: a minimal log-structured transactional table format
(SURVEY.md §2.1/§2.12 — the "Delta-style ACID table" capability gap).

Public-knowledge design (the pattern published by the Delta Lake /
Iceberg papers): a table is a directory of immutable parquet data
files plus an append-only `_log/` of JSON commit files. Readers replay
the log to a version to get the exact file set (snapshot isolation —
a reader never sees a half-finished write); writers stage data files,
then publish ONE commit file atomically; version numbers are claimed
with O_EXCL file creation, so two concurrent writers cannot both
commit the same version (optimistic concurrency — the loser retries
on top of the winner's snapshot).

Scale posture:
- Data files are ordinary parquet: the 100 TB scan path is Spark's
  native vectorized reader over an explicit file list — the format
  adds zero read-path overhead beyond the (tiny) log replay. Commits
  that set or change the schema record it in the log (and the
  checkpoint carries it), so a read plans without a schema-inference
  job; only logs written before schemas were recorded still infer.
- Every `add` action carries per-column min/max stats collected from
  the parquet footers at commit time; `scan(predicate_ranges=...)`
  prunes whole files BEFORE Spark ever opens them — the same
  data-skipping shape Delta/Iceberg use to avoid listing+reading
  irrelevant terabytes.
- The log is checkpointed every CHECKPOINT_EVERY commits (a single
  JSON snapshot of the live file set), so replay cost is O(recent
  commits), not O(table lifetime).
- MERGE rewrites only the files whose key range overlaps the source
  (file-stats pruning again), not the whole table.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CHECKPOINT_EVERY = 10


class CommitConflict(Exception):
    """Another writer claimed this version first."""


class ConcurrentModification(Exception):
    """A conflicting writer rewrote/removed files this commit depends
    on (same rule Delta applies: blind appends always serialize;
    a DELETE/MERGE whose target files are no longer live must not
    commit stale actions)."""


def _log_dir(path: str) -> str:
    return os.path.join(path, "_log")


def _version_file(path: str, v: int) -> str:
    return os.path.join(_log_dir(path), f"{v:08d}.json")


def _checkpoint_file(path: str, v: int) -> str:
    return os.path.join(_log_dir(path), f"{v:08d}.checkpoint.json")


from plankton_spark.filestats import file_stats, footer_stats  # noqa: E402
from plankton_spark.filestats import stat_encode as _stat_value  # noqa: E402
from plankton_spark.sources import rewrite as rw  # noqa: E402
from plankton_spark.sources import stage  # noqa: E402
from plankton_spark.sources.assemble import local_frame  # noqa: E402
from plankton_spark.sources.convert import (  # noqa: E402
    Inventory,
    LiveFile,
    refuse_layout,
    rel_path,
)


def _minmax(st: dict) -> dict:
    """PlankTable's per-file stats, {col: {"min", "max"}}, from the
    Delta-spec footer stats of `filestats.footer_stats`."""
    return {
        c: {"min": lo, "max": st["maxValues"][c]}
        for c, lo in st["minValues"].items()
    }


class PlankTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # -- log replay ----------------------------------------------------

    def versions(self) -> list[int]:
        d = _log_dir(self.path)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(e.split(".")[0])
            for e in os.listdir(d)
            if e.endswith(".json") and not e.endswith(".checkpoint.json")
        )

    def latest_version(self) -> int:
        vs = self.versions()
        if not vs:
            raise FileNotFoundError(f"{self.path}: not a planktable (empty _log)")
        return vs[-1]

    def _state(self, version: int | None = None) -> tuple[dict, dict, dict | None]:
        """Replay log → (live {relative_file: stats}, properties,
        schema JSON or None) at `version`. Starts from the newest
        checkpoint ≤ version, if any; checkpoints carry the folded
        properties and schema, so both survive expire_log. Properties
        are `meta` actions (a {key: value} per commit; value None
        unsets); the schema is the latest `schema` action, and None
        for a log written before commits recorded it."""
        target = self.latest_version() if version is None else version
        d = _log_dir(self.path)
        ckpts = sorted(
            int(e.split(".")[0])
            for e in os.listdir(d)
            if e.endswith(".checkpoint.json") and int(e.split(".")[0]) <= target
        )
        live: dict[str, dict] = {}
        props: dict = {}
        schema = None
        start = 0
        if ckpts:
            with open(_checkpoint_file(self.path, ckpts[-1])) as f:
                ck = json.load(f)
            live, props = ck["live"], dict(ck.get("meta") or {})
            schema = ck.get("schema")
            start = ckpts[-1] + 1
        for v in range(start, target + 1):
            vf = _version_file(self.path, v)
            if not os.path.exists(vf):
                all_ck = [
                    int(e.split(".")[0])
                    for e in os.listdir(d)
                    if e.endswith(".checkpoint.json")
                ]
                if all_ck and min(all_ck) > target:
                    raise ValueError(
                        f"{self.path}: version {target} expired by "
                        f"expire_log (earliest retained: {min(all_ck)})"
                    )
                raise FileNotFoundError(f"{self.path}: missing log version {v}")
            with open(vf) as f:
                commit = json.load(f)
            for rm in commit.get("remove", []):
                live.pop(rm, None)
            for add in commit.get("add", []):
                live[add["file"]] = add.get("stats", {})
            for k, val in (commit.get("meta") or {}).items():
                if val is None:
                    props.pop(k, None)
                else:
                    props[k] = val
            schema = commit.get("schema", schema)
        return live, props, schema

    def _snapshot(self, version: int | None = None) -> dict[str, dict]:
        """Replay log → {relative_file: stats} live at `version`."""
        return self._state(version)[0]

    def history(self) -> list[dict]:
        out = []
        for v in self.versions():
            with open(_version_file(self.path, v)) as f:
                c = json.load(f)
            out.append(
                {
                    "version": v,
                    "operation": c.get("operation"),
                    "n_added": len(c.get("add", [])),
                    "n_removed": len(c.get("remove", [])),
                }
            )
        return out

    def properties(self, version: int | None = None) -> dict:
        """Table properties at `version` (see _state)."""
        return self._state(version)[1]

    def schema(self, version: int | None = None) -> T.StructType | None:
        """The table schema recorded in the log at `version`, or None
        when the log predates schema recording (reads then infer it
        from the data files)."""
        js = self._state(version)[2]
        return None if js is None else T.StructType.fromJson(js)

    def set_properties(self, updates: dict) -> int:
        """Set (value) / unset (None) table properties in one commit."""
        for _ in range(20):
            try:
                return self._commit(
                    self._next_version(),
                    operation="SETPROPERTIES",
                    add=[],
                    remove=[],
                    meta=dict(updates),
                )
            except CommitConflict:
                continue
        raise CommitConflict(f"{self.path}: gave up after retries")

    def constraints(self) -> dict[str, str]:
        """{name: sql_expr} CHECK constraints (stored as
        `constraints.<name>` properties — Delta-writer parity)."""
        try:
            props = self.properties()
        except FileNotFoundError:
            return {}
        pre = "constraints."
        return {
            k[len(pre):]: v for k, v in props.items() if k.startswith(pre)
        }

    def add_constraint(self, name: str, expr_sql: str) -> int:
        """ADD CONSTRAINT ... CHECK (expr), at DeltaLogWriter parity:
        existing rows are validated first; every staged write then
        refuses violating rows (SQL CHECK: NULL passes, only FALSE
        violates)."""
        bad = self.read().where(~F.coalesce(F.expr(expr_sql), F.lit(True)))
        if not bad.isEmpty():
            raise ValueError(
                f"{self.path}: existing rows violate CHECK ({expr_sql}) "
                "— constraint not added"
            )
        return self.set_properties({f"constraints.{name}": expr_sql})

    def drop_constraint(self, name: str) -> int:
        if name not in self.constraints():
            raise ValueError(f"{self.path}: no constraint {name!r}")
        return self.set_properties({f"constraints.{name}": None})

    def _enforce_constraints(self, df: DataFrame) -> None:
        cons = sorted(self.constraints().items())
        if not cons:
            return
        # ONE OR-combined violation predicate → a single validation
        # pass regardless of constraint count (review finding: a
        # per-constraint isEmpty re-executed the full input plan N
        # times — for merge, the whole join per constraint)
        viol = None
        for _, expr_sql in cons:
            term = ~F.coalesce(F.expr(expr_sql), F.lit(True))
            viol = term if viol is None else (viol | term)
        if not df.where(viol).isEmpty():
            names = ", ".join(n for n, _ in cons)
            raise ValueError(
                f"{self.path}: rows violate a CHECK constraint "
                f"(declared: {names}); write refused"
            )

    # -- read path -----------------------------------------------------

    def files(self, version: int | None = None) -> list[str]:
        return sorted(
            os.path.join(self.path, rel) for rel in self._snapshot(version)
        )

    def version_at(self, timestamp: float) -> int:
        """TIMESTAMP AS OF resolution: the latest version whose commit
        was recorded at or before the given epoch-seconds (commits
        carry their own `ts` in the log payload)."""
        eligible = [
            v
            for v in self.versions()
            if json.load(open(_version_file(self.path, v))).get("ts", 0)
            <= timestamp
        ]
        if not eligible:
            raise ValueError(
                f"{self.path}: no version at or before timestamp={timestamp}"
            )
        return max(eligible)

    def read(
        self,
        version: int | None = None,
        timestamp: float | None = None,
    ) -> DataFrame:
        """Snapshot read: `versionAsOf`-style (explicit version) or
        `timestampAsOf`-style (latest commit at or before the given
        epoch-seconds) time travel."""
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version or timestamp, not both")
            version = self.version_at(timestamp)
        live, _props, schema = self._state(version)
        return self._read_files(sorted(live), schema)

    def _read_files(self, rels, schema: dict | None) -> DataFrame:
        """Read the data files `rels` under the table schema (JSON, as
        `_state` returns it). The schema comes from the log, so the
        read plans without a Spark job; only logs that predate schema
        recording infer it from the files."""
        files = [os.path.join(self.path, rel) for rel in rels]
        if schema is not None:
            struct = T.StructType.fromJson(schema)
            if not files:
                return local_frame(self.spark, [], struct)
            return self.spark.read.schema(struct).parquet(*files)
        if not files:
            # empty snapshot: derive schema from any historic file
            any_file = next(
                (
                    os.path.join(self.path, a["file"])
                    for v in self.versions()
                    for a in json.load(open(_version_file(self.path, v))).get(
                        "add", []
                    )
                ),
                None,
            )
            if any_file is None:
                raise FileNotFoundError(f"{self.path}: table has no data files")
            return self.spark.read.parquet(any_file).limit(0)
        # mergeSchema: a snapshot may span a schema evolution (append
        # with merge_schema=True); files missing a column read as null
        return self.spark.read.option("mergeSchema", "true").parquet(*files)

    def scan(self, predicate_ranges: dict, version: int | None = None) -> DataFrame:
        """File-skipping read: `predicate_ranges={"col": (lo, hi)}`
        keeps only files whose footer min/max overlaps every range.
        The caller still applies the row-level filter; this prunes at
        FILE granularity before Spark opens anything."""
        snap, _props, schema = self._state(version)
        keep = []
        predicate_ranges = {
            col: (_stat_value(lo), _stat_value(hi))
            for col, (lo, hi) in predicate_ranges.items()
        }
        for rel, stats in snap.items():
            ok = True
            for col, (lo, hi) in predicate_ranges.items():
                s = stats.get(col)
                if s is None:
                    continue  # no stats → cannot prune, must keep
                if (hi is not None and s["min"] > hi) or (
                    lo is not None and s["max"] < lo
                ):
                    ok = False
                    break
            if ok:
                keep.append(rel)
        if not keep:
            return self.read(version).limit(0)
        return self._read_files(sorted(keep), schema)

    # -- write path ----------------------------------------------------

    def _stage(self, df: DataFrame) -> list[dict]:
        """Stage df as `data-<id>-part-*.parquet` files through the
        staging kernel (0-row files dropped); returns add-actions
        (file + stats). Files are invisible until a commit references
        them. Declared CHECK constraints are enforced on every staged
        frame."""
        self._enforce_constraints(df)
        sid = uuid.uuid4().hex
        return [
            {"file": s.path, "stats": _minmax(footer_stats(s.meta))}
            for s in stage.write(
                df,
                os.path.join(self.path, f".stage-{sid}"),
                self.path,
                lambda rel, _values: f"data-{sid}-{rel}",
            )
        ]

    def _commit(
        self,
        version: int,
        *,
        operation: str,
        add: list[dict],
        remove: list[str],
        txn: dict | None = None,
        meta: dict | None = None,
        schema: T.StructType | None = None,
    ) -> int:
        """Atomically claim `version`. O_EXCL creation is the lock: if
        the file exists, a concurrent writer won — raise
        CommitConflict so the caller can rebase and retry. `schema`
        records the table schema from this version on (commits that
        leave it unchanged omit it)."""
        os.makedirs(_log_dir(self.path), exist_ok=True)
        payload = {
            "version": version,
            "operation": operation,
            "ts": time.time(),
            "add": add,
            "remove": remove,
        }
        if txn is not None:
            payload["txn"] = txn
        if meta is not None:
            payload["meta"] = meta
        if schema is not None:
            payload["schema"] = schema.jsonValue()
        tmp = _version_file(self.path, version) + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(payload, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            # atomic publication: link the fully-written temp file into
            # place — EEXIST preserves the OCC claim, and a concurrent
            # reader can never observe a partially written commit (the
            # O_EXCL-create-then-copy pattern had that window)
            os.link(tmp, _version_file(self.path, version))
        except FileExistsError:
            raise CommitConflict(
                f"{self.path}: version {version} already committed"
            ) from None
        finally:
            os.remove(tmp)
        if version % CHECKPOINT_EVERY == 0 and version > 0:
            # snapshot BEFORE creating the file: an open("w") first
            # would leave an empty checkpoint visible to the very
            # _snapshot() call that builds it
            ck = self._checkpoint(version)
            ctmp = _checkpoint_file(self.path, version) + f".tmp-{uuid.uuid4().hex}"
            with open(ctmp, "w") as f:
                json.dump(ck, f)
            os.replace(ctmp, _checkpoint_file(self.path, version))
        return version

    def _checkpoint(self, version: int) -> dict:
        """The folded state at `version`: meta and schema ride the
        checkpoint, since they must survive expire_log dropping the
        commits that set them."""
        live, props, schema = self._state(version)
        out = {"live": live, "meta": props}
        if schema is not None:
            out["schema"] = schema
        return out

    def _next_version(self) -> int:
        vs = self.versions()
        return (vs[-1] + 1) if vs else 0

    def _commit_with_retry(
        self, operation, make_actions, max_retries=20, schema=None
    ) -> int:
        """Optimistic concurrency loop: try to claim the next version;
        on conflict, re-validate and retry. Claiming the version file
        (O_EXCL) is the serialization point, so a commit whose
        validation passed against version v-1 and then won v is
        correct. Validation rule (Delta's): actions that only ADD
        files serialize against anything; actions that REMOVE files
        are only valid while every removed file is still live — if a
        concurrent writer rewrote one of them, committing the stale
        rewrite would silently undo that writer, so raise
        ConcurrentModification instead. `schema`, when given, returns
        the schema to record, re-derived on every attempt so a
        concurrent schema change is never overwritten."""
        for _ in range(max_retries):
            v = self._next_version()
            add, remove = make_actions()
            new_schema = schema() if schema is not None else None
            if remove:
                live = self._snapshot()
                gone = sorted(r for r in remove if r not in live)
                if gone:
                    raise ConcurrentModification(
                        f"{self.path}: {operation} depends on files no longer "
                        f"live (rewritten by a concurrent commit): {gone[:5]}"
                    )
            try:
                return self._commit(
                    v, operation=operation, add=add, remove=remove,
                    schema=new_schema,
                )
            except CommitConflict:
                continue
        raise CommitConflict(f"{self.path}: gave up after {max_retries} retries")

    def _evolved(self, incoming: T.StructType) -> T.StructType | None:
        """The schema a commit adding files shaped like `incoming`
        records: `incoming` itself on an empty log, else the table
        schema merged with it by the rules parquet mergeSchema reads
        applied (Spark's StructType.merge: new columns appended,
        decimal precision widened, incompatible types refused), or
        None when that changes nothing. A log that predates schema
        recording stays unrecorded (reads infer)."""
        if not self.versions():
            return incoming
        cur = self.schema()
        if cur is None:
            return None
        parse = self.spark._jsparkSession.parseDataType
        merged = parse(cur.json()).merge(parse(incoming.json()), True)
        out = T.StructType.fromJson(json.loads(merged.json()))
        return None if out == cur else out

    def create(self, df: DataFrame) -> int:
        if self.versions():
            raise FileExistsError(f"{self.path}: table already exists")
        adds = self._stage(df)
        return self._commit_with_retry(
            "CREATE", lambda: (adds, []), schema=lambda: df.schema
        )

    def append(self, df: DataFrame, merge_schema: bool = False) -> int:
        """Append rows. Schema drift is rejected unless
        `merge_schema=True`, which allows ADDING columns (existing
        rows read the new column as null — parquet mergeSchema
        semantics); dropping or retyping existing columns is never
        allowed, matching the evolution rules transactional table
        formats enforce."""
        self._check_schema(df, merge_schema)
        adds = self._stage(df)
        return self._commit_with_retry(
            "APPEND", lambda: (adds, []), schema=lambda: self._evolved(df.schema)
        )

    def _check_schema(self, df: DataFrame, merge_schema: bool) -> None:
        if not self.versions():
            return
        current = {f.name: f.dataType for f in self.read().schema.fields}
        incoming = {f.name: f.dataType for f in df.schema.fields}
        missing = set(current) - set(incoming)
        added = set(incoming) - set(current)
        retyped = {
            n for n in set(current) & set(incoming) if current[n] != incoming[n]
        }
        if missing:
            raise ValueError(f"{self.path}: append missing columns {sorted(missing)}")
        if retyped:
            raise ValueError(f"{self.path}: cannot retype columns {sorted(retyped)}")
        if added and not merge_schema:
            raise ValueError(
                f"{self.path}: new columns {sorted(added)} need merge_schema=True"
            )

    def overwrite(self, df: DataFrame) -> int:
        adds = self._stage(df)
        return self._commit_with_retry(
            "OVERWRITE",
            lambda: (adds, sorted(self._snapshot())),
            schema=lambda: df.schema,
        )

    def restore(self, version: int) -> int:
        """RESTORE the table to an earlier version's file set as a NEW
        commit (Delta RESTORE semantics): history is preserved — time
        travel still sees every version, including the pre-restore
        tip — and the restore itself is one metadata-only commit
        (re-add the target version's files, tombstone everything
        else). No data file is read or written. Refuses when a target
        file was physically removed by vacuum() since then: committing
        a snapshot that cannot be read would be silent corruption."""
        target = self._snapshot(version)  # raises if expired
        missing = sorted(
            rel
            for rel in target
            if not os.path.exists(os.path.join(self.path, rel))
        )
        if missing:
            raise FileNotFoundError(
                f"{self.path}: cannot RESTORE to version {version} — "
                f"{len(missing)} file(s) removed by vacuum: {missing[:5]}"
            )

        def make_actions():
            live = self._snapshot()
            add = [
                {"file": rel, "stats": stats}
                for rel, stats in sorted(target.items())
                if rel not in live
            ]
            remove = sorted(rel for rel in live if rel not in target)
            return add, remove

        # the restored snapshot reads under its own version's schema
        schema = self.schema(version) or self.read(version).schema
        return self._commit_with_retry(
            "RESTORE", make_actions, schema=lambda: schema
        )

    def _rewrite_all(self, df: DataFrame, verb: str) -> int:
        """Commit `df`, a rewrite of the whole live snapshot under a
        new schema, as one OVERWRITE that records that schema. The
        commit validates the live file set is STILL the set the
        rewrite read, so a concurrent append's rows are never silently
        tombstoned."""
        read_set = set(self._snapshot())
        adds = self._stage(df)

        def make_actions():
            now = sorted(self._snapshot())
            if set(now) != read_set:
                raise ConcurrentModification(
                    f"{self.path}: files changed during {verb}_column "
                    f"(concurrent commit); rerun the {verb}"
                )
            return adds, now

        return self._commit_with_retry(
            "OVERWRITE", make_actions, schema=lambda: df.schema
        )

    def rename_column(self, old: str, new: str) -> int:
        """Rename by REWRITE (one OVERWRITE-shaped pass): planktable
        data files resolve columns by NAME, so a rename is a content
        rewrite — the deliberate design tradeoff vs the metadata-only
        renames of the Delta/Iceberg writers (stable-id mapping
        machinery that planktable omits). Historic snapshots keep
        reading the old name (time travel intact).

        Unlike a plain overwrite (which MEANS "replace whatever is
        live"), a rename must preserve content exactly (see
        _rewrite_all)."""
        cur = self.read()
        if old not in cur.columns:
            raise ValueError(f"{self.path}: no column {old!r}")
        if new in cur.columns:
            raise ValueError(f"{self.path}: column {new!r} exists")
        return self._rewrite_all(cur.withColumnRenamed(old, new), "rename")

    def drop_column(self, name: str) -> int:
        """DROP COLUMN by REWRITE (see rename_column), with the same
        read-set validation so a concurrent append is never silently
        tombstoned. Historic snapshots keep the column (time travel
        intact); Delta/Iceberg offer the metadata-only alternative."""
        cur = self.read()
        if name not in cur.columns:
            raise ValueError(f"{self.path}: no column {name!r}")
        if len(cur.columns) == 1:
            raise ValueError(f"{self.path}: cannot drop the only column")
        return self._rewrite_all(cur.drop(name), "drop")

    def widen_column(self, name: str, new_type: str) -> int:
        """Type promotion by REWRITE (see rename_column; Delta/Iceberg
        do this metadata-only): the cast
        must be a lossless widening — int→long, float→double, decimal
        precision growth at fixed scale — so content is preserved
        exactly; the same read-set validation protects against a
        concurrent append being tombstoned."""
        cur = self.read()
        if name not in cur.columns:
            raise ValueError(f"{self.path}: no column {name!r}")
        frm = dict(cur.dtypes)[name]
        to = new_type.strip().lower().replace("bigint", "long")
        allowed = {("int", "long"), ("int", "bigint"), ("float", "double")}
        ok = (frm, to) in allowed or (frm, new_type.strip().lower()) in allowed
        if frm.startswith("decimal(") and to.startswith("decimal("):
            import re as _re

            fm = _re.fullmatch(r"decimal\((\d+),(\d+)\)", frm)
            tm = _re.fullmatch(r"decimal\((\d+),(\d+)\)", to)
            ok = bool(
                fm
                and tm
                and tm.group(2) == fm.group(2)
                and int(tm.group(1)) > int(fm.group(1))
            )
        if not ok:
            raise ValueError(
                f"{self.path}: {frm!r} → {new_type!r} is not a lossless "
                "widening (int→long, float→double, decimal precision "
                "increase only)"
            )
        return self._rewrite_all(
            cur.withColumn(name, F.col(name).cast(new_type)), "widen"
        )

    def _rewrite(self, operation, condition, rewrite, insert=None) -> int:
        """The copy-on-write commit delete_where, update_where and
        replace_where share: stage `insert` (when given) and
        `rewrite(hot)` over the live files holding a row where
        `condition` holds — found in one Spark job — and commit them
        with those files removed. Untouched files stay live as-is."""
        snap, _props, schema = self._state()
        live = sorted(snap)
        hit = rw.hit_files(
            self._read_files(live, schema).withColumn("_pt_file", F.input_file_name()),
            condition, live, lambda rel: os.path.join(self.path, rel), "_pt_file",
        )
        adds = [] if insert is None else self._stage(insert)
        if hit:
            adds = adds + self._stage(rewrite(self._read_files(hit, schema)))
        return self._commit_with_retry(operation, lambda: (adds, hit))

    def delete_where(self, condition) -> int:
        """Row-level delete: rewrite only the files that contain
        matching rows; rows where `condition` is NULL are retained."""
        return self._rewrite(
            "DELETE", condition, lambda hot: hot.where(rw.kept(condition))
        )

    def update_where(self, assignments: dict, condition) -> int:
        """Row-level UPDATE ... SET (the Delta/Iceberg update_where on
        the planktable log): rewrite only hit files — matched rows get
        the assignments (evaluated against the pre-update row),
        unmatched rows restage verbatim, NULL-evaluating rows are NOT
        updated. Assignments must target existing columns and keep
        their types (UPDATE never retypes)."""
        exprs = rw.update_exprs(assignments, self.read().schema, [], self.path)
        return self._rewrite(
            "UPDATE", condition,
            lambda hot: hot.select(rw.updated(hot.schema, exprs, condition)),
        )

    def replace_where(self, df: DataFrame, condition) -> int:
        """Selective atomic overwrite (Delta's replaceWhere): ONE
        commit deletes every row matching `condition` and inserts
        `df` — the idempotent backfill primitive (re-materialize one
        day/source slice without touching the rest; a re-run replaces
        the same slice again instead of duplicating it). Every input
        row must satisfy the condition — rows leaking outside the
        replaced region would corrupt OTHER slices on re-runs, so
        violations raise up front. Only files containing matches are
        rewritten; rows whose predicate evaluates to NULL are
        retained (delete_where semantics)."""
        self._check_schema(df, merge_schema=False)
        rw.check_replacement(df, condition, self.path)
        return self._rewrite(
            "REPLACEWHERE", condition,
            lambda hot: hot.where(rw.kept(condition)), insert=df,
        )

    def merge(self, source: DataFrame, key: str) -> int:
        """Upsert (MERGE): update matching keys from `source`, insert
        the rest. Only files whose key-range overlaps the source's are
        rewritten — the file-stats pruning that keeps MERGE from
        rewriting 100 TB to change one partition's worth of rows."""
        lo, hi = source.agg(F.min(key), F.max(key)).first()
        if lo is None:  # empty source → MERGE is a no-op commit
            return self._commit_with_retry("MERGE", lambda: ([], []))
        snap, _props, schema = self._state()
        rng = {rel: stats.get(key) or {} for rel, stats in snap.items()}
        overlap = sorted(
            rw.overlapping(
                snap, lo, hi, lambda rel: (rng[rel].get("min"), rng[rel].get("max"))
            )
        )
        hot = self._read_files(overlap, schema) if overlap else None
        merged = rw.merged(hot, source, key)
        adds = self._stage(merged)
        return self._commit_with_retry(
            "MERGE",
            lambda: (adds, overlap),
            schema=lambda: self._evolved(merged.schema),
        )

    def optimize(
        self,
        sort_by: list[str] | None = None,
        num_files: int = 1,
        zorder_by: list[str] | None = None,
        target_file_mb: float | None = None,
    ) -> int:
        """Compaction (OPTIMIZE): rewrite the current snapshot into
        `num_files` files, optionally clustered — 1-D range clustering
        on `sort_by`, or multi-dimensional Z-ORDER on `zorder_by`.
        Clustering tightens footer min/max ranges so `scan()`
        file-skipping prunes; Z-order interleaves the bits of each
        key's rank so files stay simultaneously narrow in EVERY
        z-ordered dimension (range-clustering one key leaves the
        others spanning the full domain in each file). Data content is
        unchanged — only the physical layout; old versions still read
        their old files.

        100 TB posture: compaction is the cure for the small-files
        problem a streaming sink creates — thousands of per-batch
        files become a handful of large clustered ones, and the
        rewrite itself is one shuffle (repartitionByRange, on the
        z-value for Z-order) sized by `num_files`, not a driver-side
        merge. `target_file_mb` sizes the output from the live bytes
        instead (a fixed num_files that was right at 1 TB writes one
        giant file at 100 TB)."""
        if sort_by and zorder_by:
            raise ValueError("pass sort_by or zorder_by, not both")
        snap = sorted(self._snapshot())
        sizes = (os.path.getsize(os.path.join(self.path, rel)) for rel in snap)
        df = rw.compacted(
            self.read(), num_files, zorder_by, sort_by, target_file_mb, sizes
        )
        adds = self._stage(df)
        return self._commit_with_retry("OPTIMIZE", lambda: (adds, snap))

    # -- exactly-once streaming sink -----------------------------------

    def last_txn_batch(self, app_id: str) -> int | None:
        """Highest batch_id committed by `app_id`, or None."""
        latest = None
        for v in self.versions():
            with open(_version_file(self.path, v)) as f:
                c = json.load(f)
            txn = c.get("txn")
            if txn and txn.get("app_id") == app_id:
                b = txn["batch_id"]
                latest = b if latest is None else max(latest, b)
        return latest

    def append_txn(self, df: DataFrame, app_id: str, batch_id: int) -> int | None:
        """Idempotent append for streaming foreachBatch: the commit
        records (app_id, batch_id); a replayed micro-batch (restart
        after a crash between sink write and checkpoint advance) sees
        its batch_id already committed and becomes a no-op — the
        exactly-once txn pattern transactional table formats use.
        Returns the committed version, or None if already applied."""
        if (last := self.last_txn_batch(app_id)) is not None and batch_id <= last:
            return None
        adds = self._stage(df)
        for _ in range(20):
            # pick the target version BEFORE the duplicate re-check: the
            # check then covers every commit < v, and a twin landing
            # after it collides on v (CommitConflict → re-check next
            # loop). Checking first leaves a window where the twin
            # commits and we claim the next free version undetected.
            v = self._next_version()
            if (last := self.last_txn_batch(app_id)) is not None and batch_id <= last:
                return None
            payload_extra = {"app_id": app_id, "batch_id": batch_id}
            try:
                return self._commit(
                    v, operation="STREAM_APPEND", add=adds, remove=[],
                    txn=payload_extra, schema=self._evolved(df.schema),
                )
            except CommitConflict:
                continue
        raise CommitConflict(f"{self.path}: gave up appending batch {batch_id}")

    def foreach_batch_sink(self, app_id: str):
        """`writeStream.foreachBatch(t.foreach_batch_sink("job"))` —
        binds the exactly-once append above to the streaming API."""

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            self.append_txn(batch_df, app_id, batch_id)

        return _sink

    # -- change data feed (snapshot diff) ------------------------------

    def diff(self, v_from: int, v_to: int) -> DataFrame:
        """Net row-level changes between two versions: rows only in
        `v_to` are `insert`, rows only in `v_from` are `delete`
        (multiset semantics via exceptAll, so duplicates count).
        Layout-independent by construction — a MERGE that rewrites a
        file but leaves a row byte-identical contributes nothing.

        100 TB posture: two snapshot scans + one hash shuffle each;
        incremental consumers read |changes|, not |table|, downstream."""
        old, new = self.read(v_from), self.read(v_to)
        return new.exceptAll(old).withColumn(
            "_change_type", F.lit("insert")
        ).unionByName(
            old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
        )

    def vacuum(self) -> list[str]:
        """Delete data files referenced by NO log version (crash
        leftovers). Files referenced by historic versions are kept so
        time travel keeps working. Checkpoints count as references
        too: after expire_log removes pre-checkpoint version files,
        the checkpoint may be the ONLY record of a live file — the
        same rule the Delta writer's vacuum follows."""
        d = _log_dir(self.path)
        referenced: set[str] = set()
        for v in self.versions():
            with open(_version_file(self.path, v)) as f:
                for a in json.load(f).get("add", []):
                    referenced.add(a["file"])
        for e in os.listdir(d):
            if e.endswith(".checkpoint.json"):
                with open(os.path.join(d, e)) as f:
                    referenced.update(json.load(f)["live"])
        removed = []
        for e in os.listdir(self.path):
            if e.startswith("data-") and e not in referenced:
                os.remove(os.path.join(self.path, e))
                removed.append(e)
        return sorted(removed)

    def expire_log(self, keep_versions: int = CHECKPOINT_EVERY) -> list[int]:
        """Retention: drop log versions older than the newest
        `keep_versions` (the finite end of the VACUUM spectrum —
        vacuum alone is retention=infinite). A checkpoint is written
        at the cutoff first, so reads at/after the cutoff replay from
        it; versions BELOW the cutoff stop time-traveling (clear
        error) and their exclusively-referenced data files become
        vacuum-able orphans. Returns the expired version numbers."""
        latest = self.latest_version()
        cutoff = latest - keep_versions + 1
        if cutoff <= 0:
            return []
        ckpt = _checkpoint_file(self.path, cutoff)
        if not os.path.exists(ckpt):
            state = self._checkpoint(cutoff)
            tmp = ckpt + f".tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump(state, f)
            os.replace(tmp, ckpt)
        d = _log_dir(self.path)
        expired: list[int] = []
        for e in sorted(os.listdir(d)):
            stem = e.split(".")[0]
            if not stem.isdigit() or int(stem) >= cutoff:
                continue
            os.remove(os.path.join(d, e))
            if e.endswith(".checkpoint.json"):
                continue  # count data versions only
            expired.append(int(stem))
        return expired


def inventory(spark, path: str) -> Inventory:
    """The conversion inventory (`sources/convert.py`) of a planktable's
    current snapshot: the log replay picks the live files, so files a
    rewrite removed stay invisible. Planktable files carry their full
    columns (no hive layout, no column mapping, no deletes)."""
    t = PlankTable(spark, path)
    live = t._snapshot(None)  # raises if not a planktable
    files = [LiveFile(os.path.join(path, rel), {}) for rel in sorted(live)]
    return Inventory("planktable", t.read().schema, [], files)


def author(spark, path: str, source) -> int:
    """Author planktable version 0 (operation CONVERT) over the files of
    the inventory ``source(spark, path)`` returns, in place: metadata
    only, with each file's footer min/max as its stats and the
    source's schema recorded, so reads plan without inference and see
    only the logical columns. The source's own metadata stays behind
    for its time travel. Refuses an existing planktable before the
    source is read, then partitioned or deleted-from inventories
    (`convert.refuse_layout`: planktable's file-derived schema has no
    partition layout and no delete concept)."""
    t = PlankTable(spark, path)
    if t.versions():
        raise FileExistsError(f"{path}: already a planktable")
    inv = source(spark, path)
    refuse_layout(inv, path, "PlankTable")
    adds = [
        {"file": rel_path(path, f.path), "stats": _minmax(file_stats(f.path))}
        for f in inv.files
    ]
    return t._commit(
        0, operation="CONVERT", add=adds, remove=[], schema=inv.schema
    )


def files_meta(spark, path: str, version: int | None = None):
    """planktable `files` metadata view — the third format's twin of
    delta_log.files_meta / iceberg_meta.files_meta: one row per live
    file with key bounds straight from the LOG's recorded stats (zero
    IO) and row counts from each parquet FOOTER (metadata pages only —
    the planktable log predates per-file row counts; bounds were
    always logged, counts were not).

    Columns: path, num_records, min_values / max_values
    (map<string,string>, stat-encoded)."""
    t = PlankTable(spark, path)
    live = t._snapshot(version)
    rows = []
    for rel, stats in sorted(live.items()):
        n = pq.ParquetFile(os.path.join(path, rel)).metadata.num_rows
        rows.append(
            (
                rel,
                int(n),
                {c: str(v["min"]) for c, v in (stats or {}).items()},
                {c: str(v["max"]) for c, v in (stats or {}).items()},
            )
        )
    return local_frame(
        spark,
        rows,
        "path string, num_records long, min_values map<string,string>, "
        "max_values map<string,string>",
    )
