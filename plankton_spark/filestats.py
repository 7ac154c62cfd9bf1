"""Parquet-footer statistics shared by the table formats: one value
encoder (`stat_encode`) and one footer reader (`footer_stats`, or
`file_stats` for a path), so a fix to either reaches every format.
Delta records the Delta-spec dict as is and PlankTable keeps its
min/max; files a commit writes are read once, in the staging kernel
(`sources/stage.py`). Also the empty-string partition guard the
formats share.
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
