"""Parquet-footer statistics shared by the table formats: one value
encoder (`stat_encode`) and one footer reader (`footer_stats`, or
`file_stats` for a path), so a fix to either reaches every format.
Delta records the Delta-spec dict as is and PlankTable keeps its
min/max; files a commit writes are read once, in the staging kernel
(`sources/stage.py`). Also the partition-value guards and the
in-place conversion inventory the formats share.
"""

from __future__ import annotations


def stat_encode(v):
    """JSON-safe stat value: timestamps/dates become ISO-8601 strings
    (lexicographic == chronological, so range compares stay correct —
    callers comparing against these must encode their bounds the same
    way); bytes decode to str or drop to None (unusable as a stat)."""
    import datetime

    if isinstance(v, bytes):
        try:
            return v.decode()
        except UnicodeDecodeError:
            return None
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return v


def file_stats(path: str) -> dict:
    """`footer_stats` of the parquet file at `path` (no data IO)."""
    import pyarrow.parquet as pq

    return footer_stats(pq.ParquetFile(path).metadata)


def footer_stats(md) -> dict:
    """Delta-spec per-file stats from parquet footer metadata `md`:
    {"numRecords", "minValues", "maxValues", "nullCount"}. Columns
    whose min/max pyarrow cannot extract (DECIMAL) or that decode to
    None (binary) have no min/max."""
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            name = col.path_in_schema
            try:
                s = col.statistics
                if s is None:
                    continue
                nulls[name] = nulls.get(name, 0) + (s.null_count or 0)
                if not s.has_min_max:
                    continue
                mn, mx = stat_encode(s.min), stat_encode(s.max)
            except Exception:
                continue
            if mn is None or mx is None:
                continue
            mins[name] = mn if name not in mins else min(mins[name], mn)
            maxs[name] = mx if name not in maxs else max(maxs[name], mx)
    return {
        "numRecords": md.num_rows,
        "minValues": mins,
        "maxValues": maxs,
        "nullCount": nulls,
    }


def _reject_empty_string_partitions(df, part_cols, table_path: str) -> None:
    """Refuse empty-string partition values: hive-style staging writes
    both NULL and '' as __HIVE_DEFAULT_PARTITION__ directories, so an
    empty string would silently round-trip as NULL — wrong data and
    isNull-delete collateral. Costs one small aggregate, only on
    partitioned writes with string partition columns."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    str_cols = [
        c
        for c in part_cols
        if isinstance(df.schema[c].dataType, T.StringType)
    ]
    if not str_cols:
        return
    flags = df.agg(
        *[F.max(F.col(c) == "").alias(c) for c in str_cols]
    ).first()
    bad = [c for c in str_cols if flags[c]]
    if bad:
        raise ValueError(
            f"{table_path}: empty-string values in partition columns "
            f"{bad} are not representable (hive layout maps both '' "
            "and NULL to __HIVE_DEFAULT_PARTITION__); use NULL or a "
            "sentinel value"
        )


_PARTITION_TYPE_NAMES = None


def apply_partition_schema(schema, overrides, table_path):
    """Retype named partition columns of an INFERRED schema from
    {"col": "long"}-style simple type names — hive directory names
    erase types and Spark's partition discovery guesses the narrowest
    int, so in-place conversion (convert_to_delta / convert_to_iceberg)
    lets the caller pin the real types. Unknown column or type names
    raise rather than silently keeping the guess."""
    if not overrides:
        return schema
    from pyspark.sql import types as T

    global _PARTITION_TYPE_NAMES
    if _PARTITION_TYPE_NAMES is None:
        _PARTITION_TYPE_NAMES = {
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
    names = {f.name for f in schema.fields}
    unknown = sorted(set(overrides) - names)
    if unknown:
        raise ValueError(
            f"{table_path}: partition_schema names {unknown} not in the "
            f"inferred schema ({sorted(names)})"
        )
    bad_types = sorted(
        t for t in overrides.values() if t not in _PARTITION_TYPE_NAMES
    )
    if bad_types:
        raise ValueError(
            f"{table_path}: unsupported partition_schema types "
            f"{bad_types} (supported: {sorted(_PARTITION_TYPE_NAMES)})"
        )
    return T.StructType(
        [
            T.StructField(
                f.name,
                _PARTITION_TYPE_NAMES[overrides[f.name]]
                if f.name in overrides
                else f.dataType,
                f.nullable,
                f.metadata,
            )
            for f in schema.fields
        ]
    )


def inventory_hive_dir(table_path, type_for=None):
    """Inventory an existing parquet directory for IN-PLACE conversion
    (convert_to_delta / convert_to_iceberg share this — the two loops
    had already been written twice and would silently diverge on the
    next parsing fix): returns ([(rel_path, partition_values)],
    part_keys). Hive ``key=value`` segments decode in order through the
    staging kernel's `hive_values` (the default partition maps to
    None); ``type_for(key, raw_string)`` types each value (default:
    keep the string).
    Refuses non-hive subdirectories, inconsistent layouts, and
    directories with no parquet file."""
    import glob as _glob
    import os

    from plankton_spark.sources.stage import hive_values

    files = sorted(
        p
        for p in _glob.glob(
            os.path.join(table_path, "**", "*.parquet"), recursive=True
        )
        if not any(
            seg.startswith(("_", "."))
            for seg in os.path.relpath(p, table_path).split(os.sep)
        )
    )
    if not files:
        raise FileNotFoundError(f"{table_path}: no parquet files to convert")
    part_keys = None
    inventory = []
    for p in files:
        rel = os.path.relpath(p, table_path)
        try:
            raw = hive_values(os.path.dirname(rel))
        except ValueError as e:
            raise ValueError(f"{table_path}: {e}") from None
        keys = list(raw)
        pv = {
            k: v if v is None or type_for is None else type_for(k, v)
            for k, v in raw.items()
        }
        if part_keys is None:
            part_keys = keys
        elif keys != part_keys:
            raise ValueError(
                f"{table_path}: inconsistent partition layout — "
                f"{keys} under {rel!r} vs {part_keys} elsewhere"
            )
        inventory.append((rel, pv))
    return inventory, part_keys or []
