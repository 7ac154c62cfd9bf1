"""Shared partitioned-read assembly for the table formats.

Both the Delta log and Iceberg writers lay partitioned data out
hive-style with the partition source columns omitted from file
content (Delta spec layout; Iceberg via the column-projection rule),
so both readers must re-attach the values recorded in table metadata.
One implementation lives here — the round-6 review caught the two
per-format copies already diverging on the empty-input guard.

Scale: when every file sits under the expected hive directories (this
engine's own layout, always), the read is ONE vectorized multi-path
scan with `basePath` — Spark derives the partition columns from the
directory names and casts them to the declared types, so plan size
and job count stay O(1) in partition cardinality. The per-tuple
union fallback only runs for EXTERNAL tables whose files aren't
hive-laid-out (e.g. a foreign Delta table with arbitrary file paths),
where metadata is the only source of partition values.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T


def local_frame(spark, rows, schema):
    """Driver-built rows (a list of tuples in `schema` order) as an
    Arrow-backed local relation. `createDataFrame(list, ...)` plans as
    `Scan ExistingRDD` over a pickled Python RDD, so every action on
    it (a broadcast included) runs Python-worker tasks; an Arrow table
    plans as `LocalTableScan`, which Spark evaluates and broadcasts on
    the driver without a job. `schema` is a StructType or a DDL
    string."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def file_key(path: str) -> str:
    """A data file's identity for exact matching: `input_file_name()`
    and `_metadata.file_path` give a percent-encoded URI
    (`file:/t/p=a%20b/x.parquet`), table metadata a plain path. Both
    map to the plain absolute path (scheme and host kept for non-local
    URIs), so files that share a basename in different directories
    stay distinct."""
    import os
    import urllib.parse as _url

    u = _url.urlsplit(path)
    if len(u.scheme) <= 1:  # plain path (or a drive letter)
        return os.path.abspath(path)
    local = os.path.normpath(_url.unquote(u.path))
    return local if u.scheme == "file" else f"{u.scheme}://{u.netloc}{local}"


def _hive_str(v) -> str | None:
    """A metadata partition value as the string hive-dir discovery
    would decode for it. Returns None for floats: Python's str() and
    Java's dir formatting disagree (1e-07 vs 1.0E-7, float32 roundtrip
    noise), so float-keyed files can't be dir-verified — callers must
    take the metadata fallback for them."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return None
    return str(v)


def _hive_base(table_root: str, files, part_cols: list[str]) -> str | None:
    """The basePath for the single-scan fast path, or None when the
    layout can't take it. Requirements: every file ends in EXACTLY the
    `col=value` directory run for `part_cols` (in order), the
    directory-encoded values agree with the metadata values (metadata
    is authoritative — an external table whose hive-looking dirs
    disagree must take the metadata fallback), and any directory
    segments ABOVE that run are IDENTICAL across all files (Spark's
    partition discovery rejects files whose partition dirs sit at
    different depths below one basePath — the converted-in-place +
    engine-staged mix, which therefore falls back)."""
    import os
    import urllib.parse as _url

    base: str | None = None
    for path, pv in files:
        rel = os.path.relpath(path, table_root)
        segs = rel.split(os.sep)[:-1]
        if len(segs) < len(part_cols):
            return None
        kv = segs[len(segs) - len(part_cols):]
        prefix = segs[: len(segs) - len(part_cols)]
        if any("=" in s for s in prefix):
            # kv-shaped dirs above the expected run would make
            # discovery infer extra partition columns
            return None
        for c, seg in zip(part_cols, kv):
            if not seg.startswith(f"{c}="):
                return None
            raw = _url.unquote(seg.partition("=")[2])
            v = pv.get(c)
            if v is None:
                if raw != "__HIVE_DEFAULT_PARTITION__":
                    return None
            else:
                expect = _hive_str(v)
                if expect is None or raw != expect:
                    # unverifiable (float formatting) or mismatched
                    return None
        b = os.path.join(table_root, *prefix) if prefix else table_root
        if base is None:
            base = b
        elif base != b:
            return None
    return base


def assemble_view(
    spark,
    table_root: str,
    schema: T.StructType,
    part_cols: list[str],
    files,
    lit_for,
    with_file: bool = False,
    with_pos: bool = False,
):
    """Read `files` ([(abs_path, partition_values_dict)]) as one
    DataFrame with `schema`, partition columns re-attached. `lit_for`
    is `(value, dtype) -> Column` — Delta stores string-encoded
    partitionValues, Iceberg typed Avro values, so each format casts
    its own way on the fallback path. `with_file` adds `_f` naming
    each row's source file (the rewrite ops' hit detection);
    `with_pos` adds `__pd_file`/`__pd_ridx` from the parquet reader's
    `_metadata` (file URI + stable in-file row index) — what the
    row-level-delete anti-joins key on."""
    pos_cols = ["__pd_file", "__pd_ridx"] if with_pos else []
    out_cols = (
        [f.name for f in schema.fields]
        + (["_f"] if with_file else [])
        + pos_cols
    )

    def _attach_pos(df):
        if not with_pos:
            return df
        return df.withColumn(
            "__pd_file", F.col("_metadata.file_path")
        ).withColumn("__pd_ridx", F.col("_metadata.row_index"))

    if not files:
        empty = local_frame(spark, [], schema)
        if with_file:
            empty = empty.withColumn("_f", F.lit(None).cast("string"))
        if with_pos:
            empty = empty.withColumn(
                "__pd_file", F.lit(None).cast("string")
            ).withColumn("__pd_ridx", F.lit(None).cast("long"))
        return empty
    base = _hive_base(table_root, files, part_cols) if part_cols else None
    if base is not None:
        df = (
            spark.read.schema(schema)
            .option("basePath", base)
            .parquet(*sorted(p for p, _ in files))
        )
        if with_file:
            df = df.withColumn("_f", F.input_file_name())
        df = _attach_pos(df)
        return df.select(out_cols)
    data_schema = T.StructType(
        [f for f in schema.fields if f.name not in part_cols]
    )
    by_pv: dict[tuple, list[str]] = {}
    for path, pv in files:
        key = tuple(pv.get(c) for c in part_cols)
        by_pv.setdefault(key, []).append(path)
    pieces = []
    for key, paths in sorted(by_pv.items(), key=lambda kv: str(kv[0])):
        df = spark.read.schema(data_schema).parquet(*paths)
        if with_file:
            df = df.withColumn("_f", F.input_file_name())
        df = _attach_pos(df)
        for c, v in zip(part_cols, key):
            df = df.withColumn(c, lit_for(v, schema[c].dataType))
        pieces.append(df.select(out_cols))
    out = pieces[0]
    for piece in pieces[1:]:
        out = out.unionByName(piece)
    return out


def snapshot_changes(newer, older):
    """Change data feed as a multiset snapshot diff (exceptAll both
    ways): rows only in `newer` are `insert`, rows only in `older`
    are `delete`. Independent of which files intervening commits
    rewrote — byte-identical rewritten rows contribute nothing, so
    compaction/Z-order produce an empty feed."""
    ins = newer.exceptAll(older).withColumn("_change_type", F.lit("insert"))
    dels = older.exceptAll(newer).withColumn("_change_type", F.lit("delete"))
    return ins.unionByName(dels)
