"""One in-place conversion path between the table formats: a source
reads its table into one `Inventory`, and a target authors its own
metadata over that inventory's files, which are never rewritten or
moved. Each format has ``inventory(spark, path)`` and ``author(spark,
path, source, **opts)``, so any source composes with any target:
``iceberg_meta.author(spark, root, delta_log.inventory)``. A plain
parquet directory is a source only (`hive_inventory`; bind its
``partition_schema`` with ``functools.partial``).

A source keeps its own refusals (what it cannot describe faithfully);
a target refuses an existing table of its own format before it reads
the source, and applies `refuse_layout` to an inventory it cannot
express. Like the other shared kernels, this module imports no format
module."""

from __future__ import annotations

import datetime
import glob
import os
from typing import NamedTuple

from pyspark.sql import types as T

from plankton_spark.sources.assemble import _hive_str
from plankton_spark.sources.stage import hive_values


class LiveFile(NamedTuple):
    path: str  # absolute
    partition: dict  # {column: Delta partitionValues string, or None}
    records: int | None = None  # from the source's metadata, if it has one
    deleted: tuple = ()  # sorted deleted row indexes
    first_row_id: int | None = None


class Inventory(NamedTuple):
    """A table's current snapshot as a conversion needs it: the logical
    schema, identity partition columns, the live files sorted by path
    and, when every file carries a first row id, the next row id."""

    format: str
    schema: T.StructType
    part_cols: list
    files: list  # [LiveFile]
    next_row_id: int | None = None


def pv_str(v) -> str | None:
    """A partition value in Delta's partitionValues string encoding:
    None stays None; dates and timestamps use their ISO form;
    everything else the shared hive encoding (`assemble._hive_str`:
    lowercase booleans), with floats, which it leaves out, as str."""
    if v is None:
        return None
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    s = _hive_str(v)
    return str(v) if s is None else s


def rel_path(root: str, path: str) -> str:
    """`path` relative to the table root; a file outside the root (a
    shallow clone's source reference) keeps its absolute path."""
    rel = os.path.relpath(path, root)
    return path if rel.split(os.sep, 1)[0] == ".." else rel


def refuse_layout(inv: Inventory, path: str, target: str, exc=ValueError):
    """Raise `exc` when `target` cannot express `inv`: a partitioned
    layout (hive staging keeps partition columns out of file content,
    which a file-derived schema cannot represent) or live row-level
    deletes (whole base files would resurrect the deleted rows)."""
    if inv.part_cols:
        raise exc(
            f"{path}: partitioned {inv.format} table (columns "
            f"{inv.part_cols}) cannot convert to {target} — the hive "
            "layout omits partition columns from file content, which a "
            "file-derived schema cannot represent"
        )
    deleted = sum(1 for f in inv.files if f.deleted)
    if deleted:
        raise exc(
            f"{path}: live row-level deletes on {deleted} {inv.format} "
            f"file(s) — {target} files cannot express them and a "
            "whole-file conversion would resurrect deleted rows; run "
            "OPTIMIZE first to purge them"
        )


_PARTITION_TYPES = {
    "int": T.IntegerType(),
    "integer": T.IntegerType(),
    "bigint": T.LongType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "boolean": T.BooleanType(),
    "date": T.DateType(),
}


def hive_inventory(spark, path: str, partition_schema: dict | None = None):
    """The inventory of an existing parquet directory. Hive ``key=value``
    segments decode in order through `stage.hive_values` (the default
    partition maps to None) and become partition columns, typed by
    Spark's partition discovery. ``partition_schema`` ({"grp": "long"})
    overrides the type of named partition columns: directory names
    erase types and discovery guesses the narrowest int. Refuses a
    directory with no parquet file, non-hive subdirectories, files that
    disagree on the partition keys, and unknown override columns or
    types."""
    files = sorted(
        p
        for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if not any(
            seg.startswith(("_", "."))
            for seg in os.path.relpath(p, path).split(os.sep)
        )
    )
    if not files:
        raise FileNotFoundError(f"{path}: no parquet files to convert")
    live, part_cols = [], None
    for p in files:
        rel = os.path.relpath(p, path)
        try:
            pv = hive_values(os.path.dirname(rel))
        except ValueError as e:
            raise ValueError(f"{path}: {e}") from None
        if part_cols is None:
            part_cols = list(pv)
        elif list(pv) != part_cols:
            raise ValueError(
                f"{path}: inconsistent partition layout — {list(pv)} "
                f"under {rel!r} vs {part_cols} elsewhere"
            )
        live.append(LiveFile(p, pv))
    # partition discovery types the key=value columns and appends them
    # after the file columns
    schema = spark.read.option("basePath", path).parquet(path).schema
    overrides = partition_schema or {}
    unknown = sorted(set(overrides) - set(schema.fieldNames()))
    bad = sorted(t for t in overrides.values() if t not in _PARTITION_TYPES)
    if unknown or bad:
        raise ValueError(
            f"{path}: partition_schema names {unknown} not in the inferred "
            f"schema {schema.fieldNames()}, or unsupported types {bad} "
            f"(supported: {sorted(_PARTITION_TYPES)})"
        )
    schema = T.StructType(
        [
            T.StructField(
                f.name,
                _PARTITION_TYPES.get(overrides.get(f.name), f.dataType),
                f.nullable,
                f.metadata,
            )
            for f in schema.fields
        ]
    )
    return Inventory("parquet", schema, part_cols, live)
