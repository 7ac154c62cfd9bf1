"""Copy-on-write row rewrites, shared by the table formats.

PlankTable, the Delta log writer and the Iceberg writer do row-level
DML the same way: find the live files holding a row the predicate
matches (one Spark job), restage those files' survivors (or their
UPDATE projection), and commit the restaged files together with a
tombstone for every hit file. MERGE picks its files by key range
instead of by predicate, and OPTIMIZE restages everything under a new
layout. The pieces of that algorithm that do not depend on a format's
metadata live here, as plain functions over frames and file lists.
Each format keeps its own snapshot, staging and OCC commit.

Row identity: Delta row tracking and Iceberg row lineage both keep a
row's id across rewrites by materializing it, with a sequence column
(Delta's row commit version, Iceberg's last-updated sequence number),
in hidden columns of the restaged files. The projection and merge
helpers take that `(row-id column, sequence column)` pair as
`lineage`; a NULL sequence value means "this commit".
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from plankton_spark.sources.assemble import file_key


def matched(condition) -> Column:
    """Rows a DML predicate selects: only rows where it is TRUE. A row
    where it evaluates to NULL is not matched (SQL DELETE/UPDATE)."""
    return F.coalesce(condition, F.lit(False))


def kept(condition) -> Column:
    """A DELETE's survivors: every row not `matched`. A bare
    ~condition would drop NULL-evaluating rows too (NOT NULL = NULL),
    which is silent data loss."""
    return ~matched(condition)


def hit_files(live, condition, files, path=lambda f: f[0], file_col="_f"):
    """The entries of `files` that hold a row where `condition` holds,
    in `files` order: one Spark job over `live`, whose `file_col`
    names each row's data file. Files match by exact path
    (`file_key`), so two files sharing a basename in different
    directories never stand in for each other."""
    hits = {
        file_key(r[0])
        for r in live.where(condition).select(file_col).distinct().collect()
    }
    return [f for f in files if file_key(path(f)) in hits]


def update_exprs(assignments: dict, schema, part_cols, table: str) -> dict:
    """UPDATE ... SET assignments as Columns (SQL strings parsed),
    refused when they target a partition column (a partition move is a
    delete + insert) or a column the table lacks."""
    bad_parts = sorted(set(assignments) & set(part_cols))
    if bad_parts:
        raise ValueError(
            f"{table}: UPDATE on partition columns "
            f"{bad_parts} would move rows across partitions — "
            "use delete + append"
        )
    unknown = sorted(set(assignments) - {f.name for f in schema.fields})
    if unknown:
        raise ValueError(f"{table}: UPDATE targets unknown columns {unknown}")
    return {
        c: (e if isinstance(e, Column) else F.expr(e))
        for c, e in assignments.items()
    }


def updated(schema, exprs: dict, condition=None, lineage=None) -> list[Column]:
    """The UPDATE projection over `schema`'s columns: assigned columns
    take their expression (cast to the column's type; UPDATE never
    retypes), evaluated against the pre-update row. With `condition`,
    only `matched` rows change and the rest pass through, and with
    `lineage` every row keeps its id while an updated row's sequence
    resets to NULL (this commit). Without `condition` every row is
    updated (a postimage)."""
    hit = None if condition is None else matched(condition)

    def assign(f):
        e = exprs[f.name].cast(f.dataType)
        if hit is not None:
            e = F.when(hit, e).otherwise(F.col(f.name))
        return e.alias(f.name)

    cols = [assign(f) if f.name in exprs else F.col(f.name) for f in schema.fields]
    if lineage:
        rid, seq = lineage
        cols += [
            F.col(rid),
            F.when(hit, F.lit(None).cast("long")).otherwise(F.col(seq)).alias(seq),
        ]
    return cols


def check_replacement(df, condition, table: str, schema=None) -> None:
    """replace_where's input checks, schema first (the predicate names
    table columns, so evaluating it over a mis-shaped frame would fail
    with a resolution error instead): `df` has the table's columns and
    types when `schema` is given, and every input row satisfies the
    predicate — a row outside the replaced region would corrupt
    another slice when the backfill re-runs."""
    if schema is not None and [(f.name, f.dataType) for f in df.schema.fields] != [
        (f.name, f.dataType) for f in schema.fields
    ]:
        raise ValueError(
            f"{table}: replace_where input schema differs from the table schema"
        )
    if not df.where(kept(condition)).isEmpty():
        raise ValueError(
            f"{table}: replace_where input has rows that do not "
            "satisfy the replacement predicate"
        )


def overlapping(files, lo, hi, bounds) -> list:
    """The entries of `files` a MERGE over source keys [lo, hi] must
    rewrite: those whose key range `bounds(f)` = (min, max) meets it.
    A missing bound (untracked, or left out as untrusted) means the
    file must be rewritten."""
    out = []
    for f in files:
        mn, mx = bounds(f)
        if mn is None or mx is None or not (mx < lo or mn > hi):
            out.append(f)
    return out


def merged(hot, source: DataFrame, key: str, lineage=None) -> DataFrame:
    """MERGE's staged frame: the overlapping files' rows `hot` (None
    when no file overlaps) whose key the source does not replace,
    plus every source row. With `lineage`, a source row that replaces
    a target keeps the target's id (the least, when keys repeat) with
    its sequence reset; inserts and the reset carry NULLs, which the
    commit resolves to fresh ids and this commit."""
    if lineage:
        rid, seq = lineage
        null = F.lit(None).cast("long")
        if hot is None:
            return source.withColumn(rid, null).withColumn(seq, null)
        ids = hot.groupBy(key).agg(F.min(rid).alias(rid))
        source_rows = source.join(ids, key, "left").withColumn(seq, null)
    elif hot is None:
        return source
    else:
        source_rows = source
    return hot.join(source, key, "left_anti").unionByName(source_rows)


def change_rows(frames: list[tuple[DataFrame, str]]) -> DataFrame:
    """Change-feed rows: each frame tagged with its `_change_type`,
    unioned by name (a column one frame lacks reads NULL)."""
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [df.withColumn("_change_type", F.lit(kind)) for df, kind in frames],
    )


def compacted(
    df, num_files, zorder_by, sort_by, target_file_mb, sizes, part_cols=(), pvs=()
) -> DataFrame:
    """OPTIMIZE's layout of `df`. With `target_file_mb`, the file count
    is the live bytes (`sizes`, consumed only then) over that target;
    else `num_files`. Z-ORDER range-partitions on the interleaved
    z-value, `sort_by` range-partitions on its columns, a size target
    repartitions (coalesce could never split one huge file), and the
    default coalesces. A partitioned table splits into directories at
    staging, so a size target salts each partition tuple (`part_cols`,
    whose distinct values are `pvs`) into its share of the files —
    a global round-robin would write about `num_files` files into
    every partition."""
    if target_file_mb is not None:
        num_files = max(1, -(-sum(sizes) // int(target_file_mb * 1024 * 1024)))
    if zorder_by:
        return (
            df.withColumn("__z", zvalue_column(df, zorder_by))
            .repartitionByRange(num_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
    if sort_by:
        return df.repartitionByRange(num_files, *sort_by).sortWithinPartitions(
            *sort_by
        )
    if target_file_mb is None:
        return df.coalesce(num_files)
    if not part_cols:
        return df.repartition(num_files)
    n_parts = max(1, len({tuple(sorted(pv.items())) for pv in pvs}))
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in df.columns]),
        F.lit(max(1, -(-num_files // n_parts))),
    )
    return (
        df.withColumn("__tsalt", salt)
        .repartition(num_files, *part_cols, "__tsalt")
        .drop("__tsalt")
    )


def zvalue_column(df: DataFrame, cols: list[str], bits: int = 21):
    """Interleaved-bit Z-value over numeric columns: each column is
    affinely mapped to a [0, 2^bits) rank from its global min/max
    (one tiny agg, broadcast as literals), then bit i of every
    rank is woven into the output. Monotone per dimension, so
    z-sorted files are narrow in all dimensions at once. Z-values
    use per-dimension min/max affine ranks rather than percent_rank:
    a monotone rank is all interleaving needs.

    Two silent-overflow guards: (a) bits shrinks so the interleaved
    value len(cols)*bits always fits a signed long (>3 columns at
    21 bits would wrap and scramble the layout); (b) the rank is
    computed in DOUBLE before the final cast — (col-mn)*(2^21-1) in
    long arithmetic wraps for columns spanning more than ~2^42."""
    bits = min(bits, 63 // max(len(cols), 1))
    stats = df.agg(
        *[F.min(c).alias(f"mn_{c}") for c in cols],
        *[F.max(c).alias(f"mx_{c}") for c in cols],
    ).first()
    ranks = []
    for c in cols:
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        span = max(float(mx) - float(mn), 1.0)
        ranks.append(
            F.least(
                F.lit((1 << bits) - 1),
                F.greatest(
                    F.lit(0).cast("long"),
                    (
                        (F.col(c).cast("double") - F.lit(float(mn)))
                        * F.lit(float((1 << bits) - 1))
                        / F.lit(span)
                    ).cast("long"),
                ),
            )
        )
    z = F.lit(0).cast("long")
    for bit in range(bits - 1, -1, -1):
        for r in ranks:
            z = z * 2 + F.shiftrightunsigned(r, bit) % 2
    return z
