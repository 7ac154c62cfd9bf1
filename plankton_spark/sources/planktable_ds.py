"""`spark.read.format("planktable")` — Python DataSource wrapper over
the planktable transactional log (plankton_spark/table_format.py), so
the table format is reachable through the standard reader API
(options: `path`, optional `versionAsOf`).

Read path: the driver replays the commit log to a file list and the
schema the log records (tiny JSON work), then each data file becomes
one InputPartition, read executor-side as Arrow RecordBatches aligned
to that schema (missing columns → nulls, mirroring parquet
mergeSchema). Only a log written before commits recorded their schema
unions the file footers, once, on the driver.

NOTE the 100 TB hot path remains `PlankTable.read()` (native JVM
vectorized parquet over the explicit file list); this wrapper exists
for API parity and for consumers that only speak `spark.read.format`.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T

from plankton_spark.sources.pyread import FilePart, FileReader, TableSource, VersionedStreamReader
from plankton_spark.table_format import PlankTable, _version_file


def _footer_schema(files: list[str]) -> T.StructType:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    unified = pa.unify_schemas([pq.read_schema(f) for f in files])
    # Spark's historical parquet default writes timestamps as INT96,
    # which pyarrow surfaces as timestamp[ns] — but Spark's Python
    # DataSource Arrow bridge rejects NANOSECOND batches. µs is the
    # engine's timestamp resolution everywhere, so narrow here.
    return from_arrow_schema(
        pa.schema(
            [
                f.with_type(pa.timestamp("us", tz=f.type.tz)) if pa.types.is_timestamp(f.type) else f
                for f in unified
            ]
        )
    )


def _snapshot(path: str, version: int | None) -> tuple[list[str], T.StructType]:
    """(data files, schema) at `version`. Every column is nullable: a
    column added by schema evolution is null for every older file's
    rows."""
    live, _props, js = PlankTable(None, path)._state(version)
    files = sorted(os.path.join(path, rel) for rel in live)
    if not files:
        raise FileNotFoundError(f"{path}: empty snapshot")
    schema = _footer_schema(files) if js is None else T.StructType.fromJson(js)
    return files, T.StructType([T.StructField(f.name, f.dataType, True, f.metadata) for f in schema])


class PlankTableDataSource(TableSource):
    """Options: path (table root), versionAsOf (optional int)."""

    NAME = "planktable"

    def schema(self):
        return _snapshot(self.path, self.int_option("versionAsOf"))[1]

    def reader(self, schema) -> FileReader:
        files = PlankTable(None, self.path).files(self.int_option("versionAsOf"))
        return FileReader([FilePart(f) for f in files], schema)

    def streamReader(self, schema) -> "PlankTableStreamReader":
        return PlankTableStreamReader(self.path, self.ignore_changes())


def register(spark) -> None:
    """Idempotent registration of the planktable format."""
    spark.dataSource.register(PlankTableDataSource)


# -- streaming source -------------------------------------------------
#
# `spark.readStream.format("planktable")`: each micro-batch is the set
# of data files ADDED by the commits between the last checkpointed
# version and the current latest — i.e. the commit log doubles as a
# streaming changelog (the same design Delta's streaming source uses).
# Offsets are just {"version": N}, so checkpoint recovery replays from
# an exact log position. Append-style commits (CREATE/APPEND/
# STREAM_APPEND) stream through; OPTIMIZE is skipped (it rewrites
# bytes, not content — emitting its files would duplicate every row);
# content-changing rewrites (DELETE/MERGE/OVERWRITE) raise unless
# ignoreChanges=true, because their re-added files duplicate surviving
# rows — exactly the caveat public table formats document.

_APPEND_OPS = {"CREATE", "APPEND", "STREAM_APPEND"}
_SKIP_OPS = {"OPTIMIZE"}


class PlankTableStreamReader(VersionedStreamReader):
    def __init__(self, path: str, ignore_changes: bool):
        # the stream's schema is pinned at query start (latest
        # snapshot); every batch aligns to it
        super().__init__(path, _snapshot(path, None)[1])
        self.ignore_changes = ignore_changes

    def latest(self) -> int:
        return PlankTable(None, self.path).latest_version()

    def partitions(self, start: dict, end: dict):
        out: list[FilePart] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            with open(_version_file(self.path, v)) as f:
                commit = json.load(f)
            op = commit.get("operation")
            if op in _SKIP_OPS:
                continue
            if op not in _APPEND_OPS and not self.ignore_changes:
                raise ValueError(
                    f"{self.path}: version {v} is a {op} — a content rewrite "
                    "cannot stream without duplicates; set ignoreChanges=true "
                    "to stream re-added files anyway"
                )
            out.extend(FilePart(os.path.join(self.path, a["file"])) for a in commit.get("add", []))
        return out
