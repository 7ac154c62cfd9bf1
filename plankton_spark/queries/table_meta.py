"""Metadata-table surfaces (SURVEY.md §2 round-8 continuation): the
`files`/`partitions` views every lakehouse engine exposes
(Delta DESCRIBE DETAIL / Iceberg's .files & .partitions), answered
ENTIRELY from commit-log / manifest metadata — zero data IO.

The oracle proves the metadata agrees with the DATA: partition-level
record counts and key bounds computed from add-action stats (Delta) or
manifest record counts (Iceberg) must equal the same aggregate computed
relationally over the source rows. At 100 TB this is the difference
between an ANALYZE that costs nothing and one that scans the lake.
"""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from plankton_spark.io import read_table
from plankton_spark.queries.scans import _scratch
from plankton_spark.registry import query


@query(
    "q_deltalog_partitions",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n_records,
           MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
    FROM orders WHERE o_orderkey < 2000
    GROUP BY o_orderstatus
    """,
)
def q_deltalog_partitions(spark, sf_dir):
    """Delta partitions metadata view: per-partition record counts AND
    o_orderkey bounds rolled up from the add actions' stats JSON — the
    log replay is the ONLY input (no parquet footer, no data scan; the
    files_meta docstring pins that contract). The oracle recomputes
    the same numbers from the raw rows, so a stats bug (wrong
    numRecords, stale bounds, missed DV correction) is a hash
    mismatch."""
    from plankton_spark.sources.delta_log import DeltaLogWriter, files_meta

    root = _scratch(sf_dir, "delta_meta_part")
    shutil.rmtree(root, ignore_errors=True)
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).where(F.col("o_orderkey") < 2000)
    DeltaLogWriter(spark, root).create(o, partition_by=["o_orderstatus"])
    fm = files_meta(spark, root)
    return (
        fm.select(
            F.col("partition")["o_orderstatus"].alias("o_orderstatus"),
            "num_records",
            F.col("min_values")["o_orderkey"].cast("long").alias("mn"),
            F.col("max_values")["o_orderkey"].cast("long").alias("mx"),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.sum("num_records").alias("n_records"),
            F.min("mn").alias("min_key"),
            F.max("mx").alias("max_key"),
        )
    )


@query(
    "q_iceberg_partitions",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n_records
    FROM orders WHERE o_orderkey < 2000
    GROUP BY o_orderstatus
    """,
)
def q_iceberg_partitions(spark, sf_dir):
    """Iceberg partitions metadata view: per-partition record counts
    rolled up from the Avro manifests' record_count fields — manifest
    metadata is the ONLY input (the identity partition tuple and the
    row count were committed by the writer; no data file is opened).
    The oracle recomputes from the raw rows."""
    from plankton_spark.sources.iceberg_meta import IcebergWriter, files_meta

    root = _scratch(sf_dir, "iceberg_meta_part")
    shutil.rmtree(root, ignore_errors=True)
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).where(F.col("o_orderkey") < 2000)
    IcebergWriter(spark, root).create(o, partition_by=["o_orderstatus"])
    fm = files_meta(spark, root)
    return (
        fm.where(F.col("content") == 0)
        .select(
            F.col("partition")["o_orderstatus"].alias("o_orderstatus"),
            "record_count",
        )
        .groupBy("o_orderstatus")
        .agg(F.sum("record_count").alias("n_records"))
    )


@query(
    "q_uniform_convert",
    oracle="""
    WITH live AS (
      SELECT * FROM orders
      WHERE o_orderkey < 2000 AND o_orderkey % 3 <> 0
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM live GROUP BY o_orderstatus
    """,
)
def q_uniform_convert(spark, sf_dir):
    """UniForm-style dual metadata: a Delta table (created, then
    row-level-deleted so tombstones exist) gains Iceberg metadata over
    its LIVE files via iceberg_meta.author(.., delta_log.inventory) —
    and the result read through the ICEBERG metadata chain must equal
    the relational truth (tombstoned files leaking into the manifest
    would be a hash mismatch, not just a row-count blip). Zero data
    movement: both logs reference the same parquet."""
    import shutil as _shutil

    from plankton_spark.sources.delta_log import DeltaLogWriter
    from plankton_spark.sources.iceberg_meta import read_iceberg
    from plankton_spark.sources import delta_log, iceberg_meta

    root = _scratch(sf_dir, "uniform_dual")
    _shutil.rmtree(root, ignore_errors=True)
    o = read_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    w = DeltaLogWriter(spark, root)
    w.create(o)
    w.delete_where(F.col("o_orderkey") % 3 == 0)
    iceberg_meta.author(spark, root, delta_log.inventory)
    return (
        read_iceberg(spark, root)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
    )


@query(
    "q_planktable_stats",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_records,
           MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
    FROM orders WHERE o_orderkey < 2000
    """,
)
def q_planktable_stats(spark, sf_dir):
    """planktable files metadata view (the trio's third format): row
    count + o_orderkey bounds rolled up from files_meta — bounds come
    from the LOG's recorded per-file stats (zero IO), counts from
    parquet footers (metadata pages only; the planktable log predates
    per-file row counts). Oracle recomputes from raw rows, so a stats
    or replay bug is a hash mismatch."""
    import shutil as _shutil

    from plankton_spark.table_format import PlankTable, files_meta

    root = _scratch(sf_dir, "planktable_meta")
    _shutil.rmtree(root, ignore_errors=True)
    o = read_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    PlankTable(spark, root).create(o)
    fm = files_meta(spark, root)
    return fm.agg(
        F.sum("num_records").alias("n_records"),
        F.min(F.col("min_values")["o_orderkey"].cast("long")).alias("min_key"),
        F.max(F.col("max_values")["o_orderkey"].cast("long")).alias("max_key"),
    )


@query(
    "q_ivm_agg",
    oracle="""
    WITH v2 AS (
      SELECT * FROM orders
      WHERE (o_orderkey < 1500 AND o_orderkey % 5 <> 0)
         OR (o_orderkey >= 2000 AND o_orderkey < 2500)
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM v2 GROUP BY o_orderstatus
    """,
)
def q_ivm_agg(spark, sf_dir):
    """Incremental view maintenance: a materialized per-status
    aggregate is UPDATED from a change batch (deletes retract with
    weight -1, inserts add with +1) instead of recomputed — the merge
    shuffles only |delta| + |groups| rows, the 100 TB alternative to
    re-aggregating the world on every batch. Exact integer cents make
    retraction lossless (a float-summed view would drift under
    retractions). Must equal the full recompute — the oracle IS the
    full recompute."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    v1 = o.where(F.col("o_orderkey") < 1500)
    deletes = v1.where(F.col("o_orderkey") % 5 == 0)
    inserts = o.where(
        (F.col("o_orderkey") >= 2000) & (F.col("o_orderkey") < 2500)
    )
    base = v1.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("total_cents"),
    )
    delta = (
        deletes.withColumn("w", F.lit(-1))
        .unionByName(inserts.withColumn("w", F.lit(1)))
        .groupBy("o_orderstatus")
        .agg(
            F.sum("w").alias("dn"),
            F.sum(F.col("w") * F.col("cents")).alias("dcents"),
        )
    )
    merged = base.join(delta, "o_orderstatus", "full_outer").select(
        "o_orderstatus",
        (F.coalesce(F.col("n_orders"), F.lit(0))
         + F.coalesce(F.col("dn"), F.lit(0))).cast("long").alias("n_orders"),
        (F.coalesce(F.col("total_cents"), F.lit(0))
         + F.coalesce(F.col("dcents"), F.lit(0))).cast("long")
        .alias("total_cents"),
    )
    return merged.where(F.col("n_orders") > 0)


@query(
    "q_deltalog_identity",
    oracle="""
    WITH c AS (SELECT COUNT(*) AS n FROM orders WHERE o_orderkey < 2000)
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(100 AS BIGINT) AS min_id,
           CAST(100 + 3 * (n - 1) AS BIGINT) AS max_id,
           CAST(100 * n + 3 * (n * (n - 1) / 2) AS BIGINT) AS id_sum
    FROM c
    """,
)
def q_deltalog_identity(spark, sf_dir):
    """Identity-column allocation pinned against the closed form: the
    writer's distributed allocator (per-partition row_number +
    broadcast offsets — no global window) must produce EXACTLY the
    arithmetic progression start, start+step, ... — so min/max/sum
    over the read-back ids equal the series formulas computed by the
    oracle from COUNT(*) alone. Any gap, duplicate, or off-by-one in
    the two-pass offset math is a hash mismatch."""
    import shutil as _shutil

    from plankton_spark.sources.delta_log import DeltaLogWriter, read_delta

    root = _scratch(sf_dir, "delta_identity")
    _shutil.rmtree(root, ignore_errors=True)
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    ).where(F.col("o_orderkey") < 2000)
    DeltaLogWriter(spark, root).create(o, identity={"row_id": (100, 3)})
    return read_delta(spark, root).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("row_id").alias("min_id"),
        F.max("row_id").alias("max_id"),
        F.sum("row_id").cast("long").alias("id_sum"),
    )


@query(
    "q_deltalog_generated",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS stored_cents
    FROM orders WHERE o_orderkey < 2000
    GROUP BY o_orderstatus
    """,
)
def q_deltalog_generated(spark, sf_dir):
    """Generated-column materialization pinned relationally: the
    aggregate runs over the STORED price_cents values the writer
    computed at create time (delta.generationExpression), and must
    equal the oracle's recomputation from the raw doubles — a
    materialization bug (stale expression, skipped row, double
    rounding drift) is a hash mismatch."""
    import shutil as _shutil

    from plankton_spark.sources.delta_log import DeltaLogWriter, read_delta

    root = _scratch(sf_dir, "delta_generated")
    _shutil.rmtree(root, ignore_errors=True)
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).where(F.col("o_orderkey") < 2000)
    DeltaLogWriter(spark, root).create(
        o,
        generated={"price_cents": "CAST(ROUND(o_totalprice * 100) AS BIGINT)"},
    )
    return (
        read_delta(spark, root)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("price_cents").cast("long").alias("stored_cents"),
        )
    )


@query(
    "q_table_trio",
    oracle="""
    WITH slice AS (
      SELECT o_orderstatus, o_orderkey FROM orders WHERE o_orderkey < 1500
    ),
    agg AS (
      SELECT o_orderstatus, COUNT(*) AS n_rows,
             CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
      FROM slice GROUP BY o_orderstatus
    )
    SELECT fmt, o_orderstatus, CAST(n_rows AS BIGINT) AS n_rows, key_sum
    FROM agg, (VALUES ('planktable'), ('delta'), ('iceberg')) f(fmt)
    """,
)
def q_table_trio(spark, sf_dir):
    """Cross-format differential AS A QUERY: the same slice written
    to all THREE formats (planktable log, Delta log, Iceberg
    metadata), each read back through its OWN metadata chain, union
    tagged by format — every format must produce the identical
    relational result (the oracle replicates one relational truth
    x3). A reader bug in any one format's chain is a hash mismatch
    naming the format."""
    import shutil as _shutil

    from plankton_spark.sources.delta_log import DeltaLogWriter, read_delta
    from plankton_spark.sources.iceberg_meta import IcebergWriter, read_iceberg
    from plankton_spark.table_format import PlankTable

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    ).where(F.col("o_orderkey") < 1500)
    roots = {f: _scratch(sf_dir, f"trio_{f}") for f in
             ("planktable", "delta", "iceberg")}
    for r in roots.values():
        _shutil.rmtree(r, ignore_errors=True)
    PlankTable(spark, roots["planktable"]).create(o)
    DeltaLogWriter(spark, roots["delta"]).create(o)
    IcebergWriter(spark, roots["iceberg"]).create(o)
    reads = {
        "planktable": PlankTable(spark, roots["planktable"]).read(),
        "delta": read_delta(spark, roots["delta"]),
        "iceberg": read_iceberg(spark, roots["iceberg"]),
    }
    parts = [
        df.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
        .withColumn("fmt", F.lit(fmt))
        for fmt, df in reads.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("fmt", "o_orderstatus", "n_rows", "key_sum")


@query(
    "q_uniform_dv",
    oracle="""
    WITH live AS (
      SELECT * FROM orders
      WHERE o_orderkey < 2000 AND o_orderkey % 5 <> 0
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM live GROUP BY o_orderstatus
    """,
)
def q_uniform_dv(spark, sf_dir):
    """UniForm WITH deletion vectors (round 9): a Delta table whose
    live files carry DVs converts by TRANSLATION — each Delta DV
    bitmap re-encodes as an Iceberg v3 Puffin deletion-vector-v1 blob
    (the two formats' roaring payloads share one codec, so the
    translation is exact and CRC-verified), the Iceberg metadata
    authors as format-version 3, and this query reads the converted
    table through the ICEBERG chain. The oracle re-derives the
    survivors relationally: a translation bug that resurrects or
    drops one row is a hash mismatch. Zero data movement end to end —
    the pre-round-9 engine refused this conversion (purge-first);
    now both ecosystems read one copy of a deleted-from table."""
    import shutil as _shutil

    from plankton_spark.sources.delta_log import DeltaLogWriter
    from plankton_spark.sources.iceberg_meta import read_iceberg
    from plankton_spark.sources import delta_log, iceberg_meta

    root = _scratch(sf_dir, "uniform_dv")
    _shutil.rmtree(root, ignore_errors=True)
    o = read_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    w = DeltaLogWriter(spark, root)
    w.create(o)
    w.delete_where_dv(F.col("o_orderkey") % 5 == 0)
    iceberg_meta.author(spark, root, delta_log.inventory)
    return (
        read_iceberg(spark, root)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
    )


@query(
    "q_uniform_rowlineage",
    oracle="""
    WITH base AS (
      SELECT o_orderkey,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
      FROM orders WHERE o_orderkey < 1500
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(rid) AS BIGINT) AS rid_sum,
           CAST(MIN(rid) AS BIGINT) AS rid_min,
           CAST(MAX(rid) AS BIGINT) AS rid_max,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM base
    WHERE o_orderkey % 7 <> 0
    """,
)
def q_uniform_rowlineage(spark, sf_dir):
    """UniForm ROW-LINEAGE translation: a row-tracked Delta table
    (two sorted commits chaining baseRowId 0.., then a DV delete of
    the %7 rows) converts in place to Iceberg v3 — baseRowId becomes
    each entry's first_row_id VERBATIM (identical semantics: file
    base + physical position, which the simultaneous DV translation
    preserves because positions are physical), next-row-id carries
    the Delta high-water mark. Read through the ICEBERG chain with
    with_lineage=True: every surviving row's _row_id must equal what
    the DELTA side assigned — the oracle recomputes the ids
    relationally from the deterministic layout, so a translation
    off-by-one, a DV/lineage interaction bug, or an id fabricated for
    a rewritten file is a hash mismatch. Zero data movement: both
    logs reference the same parquet + the translated Puffin DVs."""
    import shutil as _shutil

    from plankton_spark.sources.delta_log import DeltaLogWriter
    from plankton_spark.sources.iceberg_meta import read_iceberg
    from plankton_spark.sources import delta_log, iceberg_meta

    root = _scratch(sf_dir, "uniform_rowlineage")
    _shutil.rmtree(root, ignore_errors=True)
    o = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1500)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    w = DeltaLogWriter(spark, root)
    w.create(
        o.where(F.col("o_orderkey") < 750)
        .repartition(1)
        .sortWithinPartitions("o_orderkey"),
        row_tracking=True,
    )
    w.append(
        o.where(F.col("o_orderkey") >= 750)
        .repartition(1)
        .sortWithinPartitions("o_orderkey")
    )
    w.delete_where_dv(F.col("o_orderkey") % 7 == 0)
    iceberg_meta.author(spark, root, delta_log.inventory)
    t = read_iceberg(spark, root, with_lineage=True)
    return t.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("_row_id").cast("long").alias("rid_sum"),
        F.min("_row_id").alias("rid_min"),
        F.max("_row_id").alias("rid_max"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    )


@query(
    "q_uniform_rowlineage_compact",
    oracle="""
    WITH base AS (
      SELECT o_orderkey,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
      FROM orders WHERE o_orderkey < 1500
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(rid) AS BIGINT) AS rid_sum,
           CAST(MIN(rid) AS BIGINT) AS rid_min,
           CAST(MAX(rid) AS BIGINT) AS rid_max,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM base
    WHERE o_orderkey % 7 <> 0
    """,
)
def q_uniform_rowlineage_compact(spark, sf_dir):
    """UniForm lineage translation ACROSS A REWRITE: the
    q_uniform_rowlineage lifecycle plus a Delta OPTIMIZE before the
    conversion. The compaction materializes each survivor's original
    _row_id into the rewritten file under the configuration-declared
    hidden column — whose name this engine picks as the ICEBERG v3
    reserved name, so the Delta→Iceberg conversion needs no file rewrite
    or extra metadata: the translated table's lineage read resolves
    the SAME physical column (materialized values win) and falls back
    to first_row_id + position (the fresh post-rewrite ids) only
    where no materialization exists. Oracle is VERBATIM
    q_uniform_rowlineage's — ids must survive rewrite + format
    translation bit-for-bit, or the hash mismatches."""
    import shutil as _shutil

    from plankton_spark.sources.delta_log import DeltaLogWriter
    from plankton_spark.sources.iceberg_meta import read_iceberg
    from plankton_spark.sources import delta_log, iceberg_meta

    root = _scratch(sf_dir, "uniform_rowlineage_compact")
    _shutil.rmtree(root, ignore_errors=True)
    o = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1500)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    w = DeltaLogWriter(spark, root)
    w.create(
        o.where(F.col("o_orderkey") < 750)
        .repartition(1)
        .sortWithinPartitions("o_orderkey"),
        row_tracking=True,
    )
    w.append(
        o.where(F.col("o_orderkey") >= 750)
        .repartition(1)
        .sortWithinPartitions("o_orderkey")
    )
    w.delete_where_dv(F.col("o_orderkey") % 7 == 0)
    w.optimize(num_files=1)
    iceberg_meta.author(spark, root, delta_log.inventory)
    t = read_iceberg(spark, root, with_lineage=True)
    return t.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("_row_id").cast("long").alias("rid_sum"),
        F.min("_row_id").alias("rid_min"),
        F.max("_row_id").alias("rid_max"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    )
