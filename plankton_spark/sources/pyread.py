"""The Python DataSource shell of the table formats (PlankTable, Delta,
Iceberg, Hudi): one file partition, one Arrow conform, one snapshot
reader, one versioned stream reader and one `DataSource` base. It
imports no format module; each format's source plans its partitions
from its own metadata and keeps its own offsets' legacy forms and
refusals. Every read is the same on the executors: a data file's Arrow
batches, each conformed to the source schema."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.pandas.types import to_arrow_schema

BATCH_ROWS = 65536


class FilePart(InputPartition):
    """One data file of a read: its path, its partition values (by
    table column, as strings or typed values) and the constant columns
    every row of it gets (`_change_type`, `_commit_version`, ...).
    `fields` are a format's own per-file payload."""

    def __init__(self, path: str, pv: dict | None = None, consts: dict | None = None, **fields):
        self.path = path
        self.pv = pv or {}
        self.consts = consts or {}
        self.__dict__.update(fields)


def by_name(schema: pa.Schema, name: str) -> int:
    """The index of column `name` in a file's schema, -1 when absent."""
    return schema.get_field_index(name)


def by_physical(phys: dict[str, str]):
    """Resolve through Delta column mapping's physical names."""
    return lambda schema, name: schema.get_field_index(phys.get(name, name))


def by_field_id(ids: dict[str, int]):
    """Resolve by Iceberg field id in a file that stores ids, by name
    in one that does not. An id-known column resolves by id only: a
    name fallback would mis-bind after renames that reuse an old name
    (a→tmp, b→a), and a missing id means the column did not exist
    yet."""

    def resolve(schema: pa.Schema, name: str) -> int:
        stored = [(f.metadata or {}).get(b"PARQUET:field_id") for f in schema]
        if name not in ids or not any(stored):
            return schema.get_field_index(name)
        key = str(ids[name]).encode()
        return stored.index(key) if key in stored else -1

    return resolve


def conform(batch, target: pa.Schema, resolve, part_values: dict, consts: dict, mask=None):
    """`batch` as a batch of `target`. Each column is a constant of
    `consts`, else the file's column that `resolve` finds, else the
    file's partition value cast from its string (or typed) form, else
    nulls: a partition value of None is the default partition, and a
    file written before a column was added reads it as null. `mask`
    keeps the rows where it is true."""
    if mask is not None:
        batch = batch.filter(mask)
    n = batch.num_rows
    cols = []
    for f in target:
        i = -1 if f.name in consts else resolve(batch.schema, f.name)
        value = consts.get(f.name, part_values.get(f.name))
        if i >= 0:
            cols.append(batch.column(i).cast(f.type))
        elif value is None:
            cols.append(pa.nulls(n, f.type))
        else:
            cols.append(pa.repeat(pa.array([value]).cast(f.type)[0], n))
    return pa.RecordBatch.from_arrays(cols, schema=target)


def file_batches(path: str):
    """A parquet data file as Arrow batches: the one batch-size rule."""
    return pq.ParquetFile(path).iter_batches(batch_size=BATCH_ROWS)


class _Conformed:
    """`read`: a partition's batches conformed to `self.target`."""

    def batches(self, part: FilePart):
        """(batch, row mask or None) pairs of the partition's file."""
        return ((b, None) for b in file_batches(part.path))

    def read(self, part: FilePart):
        for batch, mask in self.batches(part):
            out = conform(batch, self.target, self.resolve, part.pv, part.consts, mask)
            if out.num_rows:
                yield out


class FileReader(_Conformed, DataSourceReader):
    """A snapshot read: one partition per data file. The Arrow target
    is built once on the driver and ships with the reader."""

    def __init__(self, parts: list[FilePart], schema, resolve=by_name):
        self.parts = parts
        self.target = to_arrow_schema(schema)
        self.resolve = resolve

    def partitions(self):
        return self.parts


class VersionedStreamReader(_Conformed, DataSourceStreamReader):
    """A stream over a table's commits. An offset is `{key: the last
    version consumed}` and starts at `start`; a format supplies
    `latest()` and `partitions(start, end)`, the files the versions in
    (start, end] contribute."""

    key = "version"

    def __init__(self, path: str, schema, start=-1, resolve=by_name):
        self.path = path
        self.target = to_arrow_schema(schema)
        self.start = start
        self.resolve = resolve

    def initialOffset(self) -> dict:
        return {self.key: self.start}

    def latestOffset(self) -> dict:
        return {self.key: self.latest()}

    def commit(self, end: dict) -> None:
        pass


class TableSource(DataSource):
    """A table format's source, named `NAME`. Its `path` option is
    required; a missing one raises `MISSING_PATH`."""

    NAME = ""
    MISSING_PATH = "{}: 'path' option is required"

    @classmethod
    def name(cls) -> str:
        return cls.NAME

    @property
    def path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError(self.MISSING_PATH.format(self.NAME))
        return path

    def int_option(self, key: str, default: int | None = None) -> int | None:
        v = self.options.get(key)
        return default if v is None else int(v)

    def ignore_changes(self) -> bool:
        return str(self.options.get("ignoreChanges", "false")).lower() == "true"
