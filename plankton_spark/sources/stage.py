"""The staging kernel of the table formats (PlankTable, Delta, Iceberg,
Hudi): one write job into a temp directory, one footer read per part
file, 0-row files dropped, hive directories decoded, and each file
moved to the name its format chooses. It imports no format module;
each format keeps its own names, partition typing, refusals and
commit actions."""

from __future__ import annotations

import glob
import os
import shutil
import urllib.parse
import uuid
from typing import Callable, NamedTuple

import pyarrow.parquet as pq

DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


class Staged(NamedTuple):
    path: str  # relative to the table root
    values: dict  # hive partition values, as `hive_values` decodes them
    meta: pq.FileMetaData  # the footer, read once
    stat: os.stat_result  # after the move


def hive_values(rel_dir: str) -> dict:
    """{key: value} of a hive directory path ``k1=v1/k2=v2`` in path
    order: values URL-unquoted, the default partition None. A segment
    without ``=`` raises ValueError."""
    out: dict = {}
    for seg in [] if rel_dir in ("", ".") else rel_dir.split(os.sep):
        key, eq, raw = seg.partition("=")
        if not eq:
            raise ValueError(
                f"non-hive subdirectory {seg!r} — cannot infer a "
                "partition column from it"
            )
        value = urllib.parse.unquote(raw)
        out[key] = None if value == DEFAULT_PARTITION else value
    return out


def renamed(prefix: str, under: str = "") -> Callable[[str, dict], str]:
    """A `dest` for `write`: a fresh ``<prefix><uuid>.parquet`` in the
    file's hive directory, below `under`."""
    return lambda rel, _values: os.path.join(
        under, os.path.dirname(rel), f"{prefix}{uuid.uuid4().hex}.parquet"
    )


def write(df, tmp: str, root: str, dest, part_cols=None) -> list[Staged]:
    """Write `df` as parquet into `tmp` (hive-partitioned by
    `part_cols`, if any), move each part file with rows to
    ``root/dest(rel, values)`` — `rel` is its path under `tmp` — and
    remove `tmp`. Returns the staged files in part-file order."""
    writer = df.write.mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(tmp)
    out = []
    for src in sorted(
        glob.glob(os.path.join(tmp, "**", "part-*.parquet"), recursive=True)
    ):
        meta = pq.ParquetFile(src).metadata
        if meta.num_rows == 0:
            continue  # removed with tmp below
        rel = os.path.relpath(src, tmp)
        values = hive_values(os.path.dirname(rel))
        path = dest(rel, values)
        dst = os.path.join(root, path)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.replace(src, dst)
        out.append(Staged(path, values, meta, os.stat(dst)))
    shutil.rmtree(tmp, ignore_errors=True)
    return out
