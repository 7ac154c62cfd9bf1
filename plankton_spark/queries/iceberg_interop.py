"""Iceberg interop queries: a 3-snapshot Iceberg table authored BY
HAND against the published table spec (metadata.json chain + Avro
manifest lists + Avro manifests, written with the engine's own
nested-datum codec — no iceberg jar in this environment), then read
back through sources/iceberg_meta.py with snapshot time travel. The
oracle re-derives each snapshot's content from the source fixture, so
a wrong manifest replay (missed DELETED entry, wrong manifest list,
bad schema mapping) fails the value hash."""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F

from plankton_spark.io import read_table
from plankton_spark.queries.delta_interop import _write_data_file
from plankton_spark.queries.scans import _scratch
from plankton_spark.registry import query
from plankton_spark.sources.avro_ocf import write_ocf_generic
from plankton_spark.sources.iceberg_meta import read_iceberg

_DATA_FILE_SCHEMA = {
    "type": "record",
    "name": "r2",
    "fields": [
        {"name": "content", "type": "int"},
        {"name": "file_path", "type": "string"},
        {"name": "file_format", "type": "string"},
        {
            "name": "partition",
            "type": {"type": "record", "name": "r102", "fields": []},
        },
        {"name": "record_count", "type": "long"},
        {"name": "file_size_in_bytes", "type": "long"},
    ],
}

MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {"name": "data_file", "type": _DATA_FILE_SCHEMA},
    ],
}

MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "added_snapshot_id", "type": ["null", "long"]},
    ],
}

_ICE_SCHEMA = {
    "type": "struct",
    "schema-id": 0,
    "fields": [
        {"id": 1, "name": "o_orderkey", "required": False, "type": "long"},
        {"id": 2, "name": "o_orderstatus", "required": False, "type": "string"},
        {"id": 3, "name": "o_totalprice", "required": False, "type": "double"},
    ],
}


def author_iceberg_orders(spark, sf_dir: str, name: str = "iceberg_orders") -> str:
    """Author a 3-snapshot Iceberg table from `orders`:
      snap 1  data files A (o_orderkey < 500) + B (500..999)
      snap 2  + data file C (1000..1999)
      snap 3  file A marked DELETED (drops o_orderkey < 500)
    Returns the table root."""
    root = _scratch(sf_dir, name)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "metadata"))
    os.makedirs(os.path.join(root, "data"))
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )

    def data_file(lo: int, hi: int, tag: str) -> dict:
        part = o.where((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi))
        n = part.count()
        rel = _write_data_file(part, root, "data", f"{tag}.parquet")
        return {
            "content": 0,
            "file_path": rel,
            "file_format": "PARQUET",
            "partition": {},
            "record_count": n,
            "file_size_in_bytes": os.path.getsize(os.path.join(root, rel)),
        }

    fa = data_file(0, 500, "file-a")
    fb = data_file(500, 1000, "file-b")
    fc = data_file(1000, 2000, "file-c")

    def manifest(fname: str, entries: list[dict]) -> dict:
        path = os.path.join(root, "metadata", fname)
        write_ocf_generic(path, MANIFEST_ENTRY_SCHEMA, entries)
        return {
            "manifest_path": f"metadata/{fname}",
            "manifest_length": os.path.getsize(path),
            "partition_spec_id": 0,
            "added_snapshot_id": None,
        }

    def entry(status: int, snap: int, df: dict) -> dict:
        return {"status": status, "snapshot_id": snap, "data_file": df}

    m1 = manifest("m1.avro", [entry(1, 1, fa), entry(1, 1, fb)])
    m2 = manifest("m2.avro", [entry(1, 2, fc)])
    # snap 3 rewrites m1's live set: file A deleted, file B carried
    m3 = manifest("m3.avro", [entry(2, 3, fa), entry(0, 3, fb)])

    def manifest_list(fname: str, manifests: list[dict]) -> str:
        path = os.path.join(root, "metadata", fname)
        write_ocf_generic(path, MANIFEST_FILE_SCHEMA, manifests)
        return f"metadata/{fname}"

    snaps = [
        {
            "snapshot-id": 1,
            "timestamp-ms": 1,
            "manifest-list": manifest_list("snap-1.avro", [m1]),
        },
        {
            "snapshot-id": 2,
            "timestamp-ms": 2,
            "manifest-list": manifest_list("snap-2.avro", [m1, m2]),
        },
        {
            "snapshot-id": 3,
            "timestamp-ms": 3,
            "manifest-list": manifest_list("snap-3.avro", [m3, m2]),
        },
    ]
    metadata = {
        "format-version": 1,
        "table-uuid": "plankton-iceberg-interop-fixture",
        "location": root,
        "last-updated-ms": 3,
        "last-column-id": 3,
        "schema": _ICE_SCHEMA,
        "schemas": [_ICE_SCHEMA],
        "current-schema-id": 0,
        "partition-spec": [],
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "current-snapshot-id": 3,
        "snapshots": snaps,
    }
    with open(os.path.join(root, "metadata", "v1.metadata.json"), "w") as f:
        json.dump(metadata, f)
    with open(os.path.join(root, "metadata", "version-hint.text"), "w") as f:
        f.write("1")
    return root


@query(
    "q_iceberg_read",
    oracle="""
    WITH s1 AS (
      SELECT * FROM orders WHERE o_orderkey < 1000
    ),
    s2 AS (
      SELECT * FROM orders WHERE o_orderkey < 2000
    ),
    s3 AS (
      SELECT * FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 2000
    )
    SELECT 1 AS snapshot_id, COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS price_sum
    FROM s1
    UNION ALL
    SELECT 2, COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
    FROM s2
    UNION ALL
    SELECT 3, COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
    FROM s3
    """,
)
def q_iceberg_read(spark, sf_dir):
    """Author an Iceberg table by hand, read every snapshot through
    the metadata chain (manifest list → manifest → live files), and
    aggregate each — snapshot time travel incl. a DELETED manifest
    entry. Decimal price sums keep the hash order-independent."""
    root = author_iceberg_orders(spark, sf_dir)
    frames = [
        read_iceberg(spark, root, snapshot_id=sid)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 4
            ).alias("price_sum"),
        )
        .select(F.lit(sid).alias("snapshot_id"), "n_rows", "key_sum", "price_sum")
        for sid in (1, 2, 3)
    ]
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


@query(
    "q_iceberg_maintenance",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey < 1000
    ),
    src AS (
      SELECT o_orderkey, 'M' AS o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey >= 500 AND o_orderkey < 1500
    ),
    merged AS (
      SELECT b.* FROM base b WHERE NOT EXISTS (
        SELECT 1 FROM src s WHERE s.o_orderkey = b.o_orderkey)
      UNION ALL
      SELECT * FROM src
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CASE WHEN o_orderstatus = 'M' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_merged,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS price_sum,
           CAST(1 AS BIGINT) AS n_files_after_optimize
    FROM merged
    """,
)
def q_iceberg_maintenance(spark, sf_dir):
    """The Iceberg writer's full maintenance cycle as one
    oracle-checked query: CREATE (orders<500) + APPEND (500..999) →
    MERGE a [500,1500) source (update to 'M' / insert; stats-pruned
    rewrite) → OPTIMIZE to one file (content-identical compaction) →
    read the final snapshot through the metadata chain. The oracle
    recomputes the merge relationally; n_files_after_optimize pins
    that compaction really collapsed the layout without changing any
    aggregate."""
    from plankton_spark.sources.iceberg_meta import IcebergTable, IcebergWriter

    root = _scratch(sf_dir, "iceberg_maint")
    shutil.rmtree(root, ignore_errors=True)
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    w = IcebergWriter(spark, root)
    w.create(o.where(F.col("o_orderkey") < 500).coalesce(1))
    w.append(
        o.where((F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 1000)).coalesce(1)
    )
    src = (
        o.where((F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 1500))
        .withColumn("o_orderstatus", F.lit("M"))
    )
    w.merge(src, "o_orderkey")
    w.optimize(num_files=1)
    n_files = len(IcebergTable(root).data_files(None))
    return read_iceberg(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum((F.col("o_orderstatus") == "M").cast("int")).cast("long").alias("n_merged"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 4
        ).alias("price_sum"),
    ).withColumn("n_files_after_optimize", F.lit(n_files).cast("long"))


@query(
    "q_iceberg_rollback",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 2000
    ),
    v2 AS (
      SELECT * FROM v1 WHERE o_orderstatus <> 'F'
    )
    SELECT 'tip_before_rollback' AS phase, COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum FROM v2
    UNION ALL
    SELECT 'rolled_back', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT) FROM v1
    """,
)
def q_iceberg_rollback(spark, sf_dir):
    """Iceberg rollback: CREATE (orders<1000), APPEND (1000..1999),
    DELETE (status 'F'), then roll current-snapshot-id back to the
    pre-delete snapshot — one new metadata version, snapshot list
    untouched, nothing staged or rewritten. Reads BOTH the rolled-back
    current snapshot and (by snapshot id) the pre-rollback tip:
    rollback must preserve the full snapshot lineage."""
    from plankton_spark.sources.iceberg_meta import IcebergWriter

    root = _scratch(sf_dir, "iceberg_rollback")
    shutil.rmtree(root, ignore_errors=True)
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    w = IcebergWriter(spark, root)
    w.create(o.where(F.col("o_orderkey") < 1000).coalesce(1))
    s2 = w.append(
        o.where(
            (F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000)
        ).coalesce(1)
    )
    s3 = w.delete_where(F.col("o_orderstatus") == "F")
    w.rollback_to(s2)

    def _agg(df, phase):
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        ).select(F.lit(phase).alias("phase"), "n_rows", "key_sum")

    return _agg(
        read_iceberg(spark, root, snapshot_id=s3), "tip_before_rollback"
    ).unionByName(_agg(read_iceberg(spark, root), "rolled_back"))


@query(
    "q_iceberg_convert",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 2000
    ),
    appended AS (
      SELECT o_orderkey, o_orderstatus FROM orders
      WHERE o_orderkey >= 2000 AND o_orderkey < 2500
    ),
    final AS (SELECT * FROM base UNION ALL SELECT * FROM appended)
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST((SELECT COUNT(*) FROM base) AS BIGINT) AS n_at_convert
    FROM final
    """,
)
def q_iceberg_convert(spark, sf_dir):
    """In-place Iceberg migration (migrate/add_files): a plain
    hive-partitioned parquet directory becomes an Iceberg table by
    authoring metadata/ over the EXISTING files — snapshot 1's
    manifest references them where they lie, nothing rewritten. The
    converted table takes engine appends immediately (field-id
    stamping auto-suppressed so the spec's writer-consistency rule
    holds over the id-less originals), and the conversion snapshot
    still time-travels after the append."""
    from plankton_spark.sources.iceberg_meta import IcebergWriter
    from plankton_spark.sources import iceberg_meta
    from plankton_spark.sources.convert import hive_inventory

    root = _scratch(sf_dir, "iceberg_convert")
    shutil.rmtree(root, ignore_errors=True)
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    o.where(F.col("o_orderkey") < 2000).write.partitionBy(
        "o_orderstatus"
    ).parquet(root)
    s1 = iceberg_meta.author(spark, root, hive_inventory)
    w = IcebergWriter(spark, root)
    w.append(
        o.where(
            (F.col("o_orderkey") >= 2000) & (F.col("o_orderkey") < 2500)
        ).coalesce(1)
    )
    n_then = read_iceberg(spark, root, snapshot_id=s1).count()
    return read_iceberg(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    ).withColumn("n_at_convert", F.lit(n_then).cast("long"))


@query(
    "q_iceberg_tags",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 1000
    ),
    tip AS (
      SELECT o_orderkey, o_orderstatus FROM orders
      WHERE o_orderkey < 2000 AND o_orderstatus <> 'F'
    )
    SELECT 'tagged' AS phase, COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum FROM v1
    UNION ALL
    SELECT 'current', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT) FROM tip
    UNION ALL
    SELECT 'tagged_after_expire', COUNT(*),
           CAST(SUM(o_orderkey) AS BIGINT) FROM v1
    """,
)
def q_iceberg_tags(spark, sf_dir):
    """Iceberg named refs: tag the CREATE snapshot 'baseline', then
    append + delete move the tip, then expire_snapshots(keep_last=1)
    — the tag PINS its snapshot through expiry (the spec's refs
    retention rule), so the third phase re-reads the baseline AFTER
    an expiry that removed every other old snapshot. A tag that can
    expire is just a remembered integer; this proves ours isn't."""
    from plankton_spark.sources.iceberg_meta import IcebergWriter

    root = _scratch(sf_dir, "iceberg_tags")
    shutil.rmtree(root, ignore_errors=True)
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    w = IcebergWriter(spark, root)
    s1 = w.create(o.where(F.col("o_orderkey") < 1000).coalesce(1))
    w.set_ref("baseline", s1)
    w.append(
        o.where(
            (F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000)
        ).coalesce(1)
    )
    w.delete_where(F.col("o_orderstatus") == "F")

    def _agg(df, phase):
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        ).select(F.lit(phase).alias("phase"), "n_rows", "key_sum")

    tagged = _agg(read_iceberg(spark, root, ref="baseline"), "tagged")
    current = _agg(read_iceberg(spark, root), "current")
    w.expire_snapshots(keep_last=1)
    after = _agg(
        read_iceberg(spark, root, ref="baseline"), "tagged_after_expire"
    )
    return tagged.unionByName(current).unionByName(after)


@query(
    "q_iceberg_branch_wap",
    oracle="""
    WITH base AS (
      SELECT o_orderkey FROM orders WHERE o_orderkey < 1000
    ),
    branch AS (
      SELECT o_orderkey FROM orders WHERE o_orderkey < 1500
    )
    SELECT 'main_during_audit' AS phase, COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum FROM base
    UNION ALL
    SELECT 'branch', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT) FROM branch
    UNION ALL
    SELECT 'published', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT) FROM branch
    """,
)
def q_iceberg_branch_wap(spark, sf_dir):
    """Write-audit-publish on an Iceberg branch: staged appends extend
    the 'audit' branch head while MAIN serves the old snapshot
    untouched; publishing = fast-forwarding current to the audited
    head (rollback_to). The three phases read main-during-audit, the
    branch, and the published tip — the pattern that lets a pipeline
    validate a day's ingest before readers ever see it."""
    from plankton_spark.sources.iceberg_meta import IcebergWriter

    root = _scratch(sf_dir, "iceberg_wap")
    shutil.rmtree(root, ignore_errors=True)
    o = read_table(spark, sf_dir, "orders").select("o_orderkey")
    w = IcebergWriter(spark, root)
    w.create(o.where(F.col("o_orderkey") < 1000).coalesce(1))
    head = w.append(
        o.where(
            (F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 1500)
        ).coalesce(1),
        branch="audit",
    )

    def _agg(df, phase):
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        ).select(F.lit(phase).alias("phase"), "n_rows", "key_sum")

    during = _agg(read_iceberg(spark, root), "main_during_audit")
    branch = _agg(read_iceberg(spark, root, ref="audit"), "branch")
    w.rollback_to(head)  # publish: fast-forward main to the audited head
    published = _agg(read_iceberg(spark, root), "published")
    return during.unionByName(branch).unionByName(published)


@query(
    "q_iceberg_partitioned",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey < 2000
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS price_sum,
           CAST((SELECT COUNT(*) FROM base) AS BIGINT) AS n_rows_all
    FROM base WHERE o_orderstatus = 'F'
    """,
)
def q_iceberg_partitioned(spark, sf_dir):
    """Identity-partitioned Iceberg write + metadata-pruned read:
    orders lands with an identity partition spec (typed partition
    records in the manifests, source column omitted from files per
    the spec's column projection), then only the 'F' partition's
    entries are scanned — the prune is pure manifest metadata, no
    file IO. The full-count column pins the unpruned read."""
    from plankton_spark.sources.iceberg_meta import (
        IcebergTable,
        IcebergWriter,
        _assemble_iceberg,
    )

    root = _scratch(sf_dir, "iceberg_part")
    shutil.rmtree(root, ignore_errors=True)
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).where(F.col("o_orderkey") < 2000)
    w = IcebergWriter(spark, root)
    w.create(o, partition_by=["o_orderstatus"])
    t = IcebergTable(root)
    entries = [
        (p, pv)
        for p, pv in t.data_entries(None)
        if pv.get("o_orderstatus") == "F"
    ]
    pruned = _assemble_iceberg(spark, t.schema(), t.partition_fields(), entries)
    total = read_iceberg(spark, root).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows_all")
    )
    return pruned.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 4
        ).alias("price_sum"),
    ).crossJoin(total)


@query(
    "q_iceberg_daypruned",
    oracle="""
    WITH e AS (
      SELECT event_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts2, value
      FROM events
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS id_sum,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS value_sum,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_rows_all
    FROM e
    WHERE ts2 >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts2 <  TIMESTAMP '2024-01-13 00:00:00'
    """,
)
def q_iceberg_daypruned(spark, sf_dir):
    """The day(ts) transform's payoff as a query: events written with
    an Iceberg day-partition spec, then a 3-day range answered by
    selecting manifest entries on the typed days-since-epoch ints —
    pure metadata, no non-matching file is ever opened — while the
    raw timestamps stay in the files for the exact aggregate.
    ts is truncated to seconds on write (cross-engine-safe
    granularity, same policy as the streaming shadows)."""
    import datetime

    from plankton_spark.sources.iceberg_meta import (
        IcebergTable,
        IcebergWriter,
        _assemble_iceberg,
        read_iceberg,
    )

    root = _scratch(sf_dir, "iceberg_day")
    shutil.rmtree(root, ignore_errors=True)
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", F.date_trunc("second", "ts").alias("ts2"), "value"
    )
    w = IcebergWriter(spark, root)
    w.create(ev, partition_by=["day(ts2)"])
    t = IcebergTable(root)
    epoch = datetime.date(1970, 1, 1)
    lo = (datetime.date(2024, 1, 10) - epoch).days
    hi = (datetime.date(2024, 1, 13) - epoch).days  # exclusive
    entries = [
        (p, pv)
        for p, pv in t.data_entries(None)
        # NULL ts rows land in __HIVE_DEFAULT_PARTITION__ with value
        # None (and a foreign entry may omit the field entirely) —
        # a null day can never match the range predicate (ADVICE r6)
        if pv.get("ts2_day") is not None and lo <= pv["ts2_day"] < hi
    ]
    pruned = _assemble_iceberg(spark, t.schema(), [], entries)
    total = read_iceberg(spark, root).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows_all")
    )
    return pruned.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").cast("long").alias("id_sum"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4
        ).alias("value_sum"),
    ).crossJoin(total)


@query(
    "q_iceberg_bucketpruned",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
           ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS bal_sum,
           CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_rows_all
    FROM customer WHERE c_custkey IN (7, 421, 1188)
    """,
)
def q_iceberg_bucketpruned(spark, sf_dir):
    """The bucket(N, col) transform's payoff as a query: customer
    written with an Iceberg bucket[8] partition spec over c_custkey
    (spec murmur3 bucket ids in the manifest partition records), then
    a key-equality lookup answered by pruning manifest entries to the
    predicate literals' buckets — pure metadata, only matching-bucket
    files are opened — with the exact residual filter applied in-scan.
    The full-count column pins the unpruned read."""
    from pyspark.sql import types as T

    from plankton_spark.sources.iceberg_meta import (
        IcebergTable,
        IcebergWriter,
        _assemble_iceberg,
        iceberg_bucket,
        read_iceberg,
    )

    root = _scratch(sf_dir, "iceberg_bucket")
    shutil.rmtree(root, ignore_errors=True)
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    w = IcebergWriter(spark, root)
    w.create(c, partition_by=["bucket(8, c_custkey)"])
    keys = [7, 421, 1188]
    buckets = {iceberg_bucket(k, T.LongType(), 8) for k in keys}
    t = IcebergTable(root)
    entries = [
        (p, pv)
        for p, pv in t.data_entries(None)
        if pv.get("c_custkey_bucket") in buckets
    ]
    pruned = _assemble_iceberg(spark, t.schema(), [], entries).where(
        F.col("c_custkey").isin(keys)
    )
    total = read_iceberg(spark, root).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows_all")
    )
    return pruned.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("c_custkey").cast("long").alias("key_sum"),
        F.round(
            F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double"), 4
        ).alias("bal_sum"),
    ).crossJoin(total)


@query(
    "q_iceberg_posdelete",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS price_sum
    FROM orders
    WHERE o_orderkey < 1500 AND o_orderkey % 7 <> 0
    """,
)
def q_iceberg_posdelete(spark, sf_dir):
    """Iceberg format-v2 POSITION deletes as a query: a hand-authored
    v2 table whose delete manifest marks the rows with
    o_orderkey % 7 == 0 by (file_path, pos); read_iceberg drops
    exactly those rows via the _metadata.row_index anti-join (the
    delete set is itself a native parquet scan). Oracle re-derives the
    survivors relationally — same contract as q_deltalog_dv on the
    Delta side."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from plankton_spark.sources.iceberg_meta import (
        _entry_schema,
        read_iceberg,
    )

    root = _scratch(sf_dir, "iceberg_posdel")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "metadata"))
    os.makedirs(os.path.join(root, "data"))
    o = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1500)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
        .toPandas()
    )
    ice_schema = {
        "type": "struct",
        "schema-id": 0,
        "fields": [
            {"id": 1, "name": "o_orderkey", "required": False, "type": "long"},
            {"id": 2, "name": "o_orderstatus", "required": False, "type": "string"},
            {"id": 3, "name": "o_totalprice", "required": False, "type": "double"},
        ],
    }
    es = _entry_schema([])

    def entry(df_dict):
        return {"status": 1, "snapshot_id": 1, "data_file": df_dict}

    data_entries, del_entries = [], []
    halves = [o[o.o_orderkey < 750], o[o.o_orderkey >= 750]]
    for i, pdf in enumerate(halves):
        rel = f"data/d{i}.parquet"
        pq.write_table(
            pa.Table.from_pandas(pdf.reset_index(drop=True), preserve_index=False),
            os.path.join(root, rel),
        )
        data_entries.append(
            entry(
                {
                    "content": 0,
                    "file_path": rel,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": len(pdf),
                    "file_size_in_bytes": os.path.getsize(os.path.join(root, rel)),
                }
            )
        )
        deleted_pos = [
            j for j, k in enumerate(pdf.o_orderkey.tolist()) if k % 7 == 0
        ]
        drel = f"data/del{i}.parquet"
        pq.write_table(
            pa.table(
                {
                    "file_path": pa.array([rel] * len(deleted_pos)),
                    "pos": pa.array(deleted_pos, pa.int64()),
                }
            ),
            os.path.join(root, drel),
        )
        del_entries.append(
            entry(
                {
                    "content": 1,
                    "file_path": drel,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": len(deleted_pos),
                    "file_size_in_bytes": os.path.getsize(
                        os.path.join(root, drel)
                    ),
                }
            )
        )
    m_data = os.path.join(root, "metadata", "m-data.avro")
    write_ocf_generic(m_data, es, data_entries)
    m_del = os.path.join(root, "metadata", "m-del.avro")
    write_ocf_generic(m_del, es, del_entries)
    list_schema = {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "partition_spec_id", "type": "int"},
            {"name": "content", "type": "int"},
            {"name": "added_snapshot_id", "type": ["null", "long"]},
        ],
    }
    ml = os.path.join(root, "metadata", "snap-1.avro")
    write_ocf_generic(
        ml,
        list_schema,
        [
            {
                "manifest_path": "metadata/m-data.avro",
                "manifest_length": os.path.getsize(m_data),
                "partition_spec_id": 0,
                "content": 0,
                "added_snapshot_id": 1,
            },
            {
                "manifest_path": "metadata/m-del.avro",
                "manifest_length": os.path.getsize(m_del),
                "partition_spec_id": 0,
                "content": 1,
                "added_snapshot_id": 1,
            },
        ],
    )
    metadata = {
        "format-version": 2,
        "table-uuid": "plankton-iceberg-posdelete",
        "location": root,
        "last-updated-ms": 1,
        "last-column-id": 3,
        "schema": ice_schema,
        "schemas": [ice_schema],
        "current-schema-id": 0,
        "partition-spec": [],
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "current-snapshot-id": 1,
        "snapshots": [
            {
                "snapshot-id": 1,
                "timestamp-ms": 1,
                "manifest-list": "metadata/snap-1.avro",
            }
        ],
    }
    with open(os.path.join(root, "metadata", "v1.metadata.json"), "w") as f:
        json.dump(metadata, f)
    with open(os.path.join(root, "metadata", "version-hint.text"), "w") as f:
        f.write("1")
    return read_iceberg(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 4
        ).alias("price_sum"),
    )


@query(
    "q_iceberg_posdelete_write",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS price_sum
    FROM orders
    WHERE o_orderkey < 2000
      AND NOT (o_orderstatus = 'F' AND o_orderkey % 3 = 0)
    """,
)
def q_iceberg_posdelete_write(spark, sf_dir):
    """The engine's OWN v2 position-delete write path as a query:
    IcebergWriter.delete_where_pos stages one sorted (file_path, pos)
    parquet and a delete manifest (content=1) — O(deleted rows), no
    data-file rewrite — and the delete-aware read subtracts. Same
    contract as q_deltalog_dv_delete on the Delta side; oracle
    re-derives the survivors relationally."""
    from plankton_spark.sources.iceberg_meta import IcebergWriter

    root = _scratch(sf_dir, "iceberg_posdel_write")
    shutil.rmtree(root, ignore_errors=True)
    o = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    w = IcebergWriter(spark, root)
    w.create(o)
    w.delete_where_pos(
        (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 3 == 0)
    )
    return read_iceberg(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 4
        ).alias("price_sum"),
    )


_EQDEL_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {"name": "sequence_number", "type": ["null", "long"]},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {
                        "name": "partition",
                        "type": {
                            "type": "record",
                            "name": "r102",
                            "fields": [],
                        },
                    },
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {
                        "name": "equality_ids",
                        "type": ["null", {"type": "array", "items": "int"}],
                    },
                ],
            },
        },
    ],
}

_EQDEL_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": ["null", "long"]},
        {"name": "added_snapshot_id", "type": ["null", "long"]},
    ],
}


@query(
    "q_iceberg_eqdelete",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey < 1500
    ),
    survivors AS (
      SELECT * FROM base
      WHERE o_orderkey < 1000 AND o_orderkey % 5 <> 0
      UNION ALL
      SELECT * FROM base WHERE o_orderkey >= 1000
      UNION ALL
      SELECT * FROM base
      WHERE o_orderkey < 1000 AND o_orderkey % 10 = 0
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS price_sum
    FROM survivors
    """,
)
def q_iceberg_eqdelete(spark, sf_dir):
    """Iceberg format-v2 EQUALITY deletes as a query (the Flink-upsert
    interop gap the r7 verdict ranked #2): a hand-authored v2 table
    with explicit sequence numbers —

    - seq 1: data file with o_orderkey < 1000
    - seq 2: equality delete (equality_ids=[1] → o_orderkey) marking
      every key with o_orderkey % 5 == 0
    - seq 3: data file re-INSERTING the % 10 == 0 subset of those keys
      plus the o_orderkey >= 1000 rows

    read_iceberg applies the delete via a null-safe keyed anti-join
    gated on sequence order (delete_seq > data_seq), so the seq-3
    re-inserts SURVIVE while the seq-1 originals drop — the oracle
    re-derives exactly that survivor set relationally. Files resolve
    by field id; whole-file access paths refuse the snapshot
    (tests/test_iceberg_eqdeletes.py)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = _scratch(sf_dir, "iceberg_eqdel")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "metadata"))
    os.makedirs(os.path.join(root, "data"))
    o = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1500)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
        .toPandas()
    )
    ice_schema = {
        "type": "struct",
        "schema-id": 0,
        "fields": [
            {"id": 1, "name": "o_orderkey", "required": False, "type": "long"},
            {"id": 2, "name": "o_orderstatus", "required": False,
             "type": "string"},
            {"id": 3, "name": "o_totalprice", "required": False,
             "type": "double"},
        ],
    }
    d0 = o[o.o_orderkey < 1000]
    reinserts = d0[d0.o_orderkey % 10 == 0]
    d1 = pa.concat_tables(
        [
            pa.Table.from_pandas(
                o[o.o_orderkey >= 1000].reset_index(drop=True),
                preserve_index=False,
            ),
            pa.Table.from_pandas(
                reinserts.reset_index(drop=True), preserve_index=False
            ),
        ]
    )
    del_keys = sorted(set(d0[d0.o_orderkey % 5 == 0].o_orderkey.tolist()))
    pq.write_table(
        pa.Table.from_pandas(d0.reset_index(drop=True), preserve_index=False),
        os.path.join(root, "data", "d0.parquet"),
    )
    pq.write_table(d1, os.path.join(root, "data", "d1.parquet"))
    pq.write_table(
        pa.table({"o_orderkey": pa.array(del_keys, pa.int64())}),
        os.path.join(root, "data", "eqdel0.parquet"),
    )
    manifests = []
    for mname, seq, content, dfd in [
        ("m-d0.avro", 1, 0, {
            "content": 0, "file_path": "data/d0.parquet",
            "file_format": "PARQUET", "partition": {},
            "record_count": len(d0),
            "file_size_in_bytes": os.path.getsize(
                os.path.join(root, "data", "d0.parquet")),
            "equality_ids": None,
        }),
        ("m-eq.avro", 2, 1, {
            "content": 2, "file_path": "data/eqdel0.parquet",
            "file_format": "PARQUET", "partition": {},
            "record_count": len(del_keys),
            "file_size_in_bytes": os.path.getsize(
                os.path.join(root, "data", "eqdel0.parquet")),
            "equality_ids": [1],
        }),
        ("m-d1.avro", 3, 0, {
            "content": 0, "file_path": "data/d1.parquet",
            "file_format": "PARQUET", "partition": {},
            "record_count": d1.num_rows,
            "file_size_in_bytes": os.path.getsize(
                os.path.join(root, "data", "d1.parquet")),
            "equality_ids": None,
        }),
    ]:
        mp = os.path.join(root, "metadata", mname)
        write_ocf_generic(
            mp,
            _EQDEL_ENTRY_SCHEMA,
            [{"status": 1, "snapshot_id": 1, "sequence_number": seq,
              "data_file": dfd}],
        )
        manifests.append(
            {
                "manifest_path": f"metadata/{mname}",
                "manifest_length": os.path.getsize(mp),
                "partition_spec_id": 0,
                "content": content,
                "sequence_number": seq,
                "added_snapshot_id": 1,
            }
        )
    write_ocf_generic(
        os.path.join(root, "metadata", "snap-1.avro"),
        _EQDEL_LIST_SCHEMA,
        manifests,
    )
    metadata = {
        "format-version": 2,
        "table-uuid": "plankton-iceberg-eqdelete",
        "location": root,
        "last-updated-ms": 1,
        "last-column-id": 3,
        "schema": ice_schema,
        "schemas": [ice_schema],
        "current-schema-id": 0,
        "partition-spec": [],
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "current-snapshot-id": 1,
        "snapshots": [
            {
                "snapshot-id": 1,
                "timestamp-ms": 1,
                "manifest-list": "metadata/snap-1.avro",
            }
        ],
    }
    with open(os.path.join(root, "metadata", "v1.metadata.json"), "w") as f:
        json.dump(metadata, f)
    with open(os.path.join(root, "metadata", "version-hint.text"), "w") as f:
        f.write("1")
    return read_iceberg(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"),
            4,
        ).alias("price_sum"),
    )


@query(
    "q_iceberg_eqdelete_write",
    oracle="""
    WITH survivors AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE o_orderkey < 2000 AND o_custkey % 5 <> 0
      UNION ALL
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE o_orderkey >= 2000 AND o_orderkey < 2500
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS price_sum
    FROM survivors
    """,
)
def q_iceberg_eqdelete_write(spark, sf_dir):
    """The engine's OWN v2 equality-delete WRITE path as a query:
    IcebergWriter.delete_where_eq stages one key parquet + a delete
    manifest (content=2, equality_ids by field id) with the NEXT data
    sequence number — O(delete keys), no data file opened — and
    activates sequence tracking so the subsequent append's rows keep
    their keys even when they collide with deleted ones (the Flink
    upsert pattern, sequencing proven because the appended slice
    contains o_custkey % 5 == 0 rows that MUST survive). Oracle
    re-derives the survivor set relationally; same contract as
    q_iceberg_posdelete_write for position deletes."""
    from plankton_spark.sources.iceberg_meta import (
        IcebergWriter,
        read_iceberg,
    )

    root = _scratch(sf_dir, "iceberg_eqdel_write")
    shutil.rmtree(root, ignore_errors=True)
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    w = IcebergWriter(spark, root)
    w.create(o.where(F.col("o_orderkey") < 2000))
    w.delete_where_eq(
        o.where(F.col("o_custkey") % 5 == 0).select("o_custkey").distinct()
    )
    w.append(
        o.where((F.col("o_orderkey") >= 2000) & (F.col("o_orderkey") < 2500))
    )
    return read_iceberg(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"),
            4,
        ).alias("price_sum"),
    )


@query(
    "q_iceberg_spec_evolution",
    oracle="""
    WITH t AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey < 2000
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS price_sum
    FROM t GROUP BY o_orderstatus
    """,
)
def q_iceberg_spec_evolution(spark, sf_dir):
    """PARTITION EVOLUTION end-to-end: the first half of orders lands
    UNPARTITIONED (spec 0), evolve_spec makes o_orderstatus the
    default identity spec — a metadata-only commit, zero data files
    touched — and the second half lands hive-partitioned under spec 1.
    The read below spans both layouts: per-spec assembly unioned to
    the table schema, grouped to prove no row lost its partition
    value either way. At 100 TB this is how a table re-partitions:
    one metadata edit, new data migrates naturally, old data is never
    rewritten."""
    from plankton_spark.sources.iceberg_meta import IcebergWriter

    root = _scratch(sf_dir, "iceberg_evolve")
    shutil.rmtree(root, ignore_errors=True)
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    w = IcebergWriter(spark, root)
    w.create(o.where(F.col("o_orderkey") < 1000))
    w.evolve_spec(["o_orderstatus"])
    w.append(
        o.where((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000))
    )
    back = read_iceberg(spark, root)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 4
        ).alias("price_sum"),
    )


# ---------------------------------------------------------------------
# Iceberg v3: Puffin deletion vectors (round-8 verdict #5)
# ---------------------------------------------------------------------

_DV_DATA_FILE_SCHEMA = {
    "type": "record",
    "name": "r2v3",
    "fields": [
        {"name": "content", "type": "int"},
        {"name": "file_path", "type": "string"},
        {"name": "file_format", "type": "string"},
        {
            "name": "partition",
            "type": {"type": "record", "name": "r102v3", "fields": []},
        },
        {"name": "record_count", "type": "long"},
        {"name": "file_size_in_bytes", "type": "long"},
        # v3 deletion-vector fields (spec ids 143/144/145)
        {"name": "referenced_data_file", "type": ["null", "string"]},
        {"name": "content_offset", "type": ["null", "long"]},
        {"name": "content_size_in_bytes", "type": ["null", "long"]},
    ],
}

_DV_MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {"name": "data_file", "type": _DV_DATA_FILE_SCHEMA},
    ],
}


def author_iceberg_dv_orders(spark, sf_dir: str, name: str = "iceberg_dv") -> str:
    """Author a FOREIGN-STYLE Iceberg format-v3 table from `orders`
    (o_orderkey < 1500 in two data files) whose delete manifest
    carries two deletion-vector entries — one Puffin file, two
    deletion-vector-v1 blobs, each deleting that data file's rows
    with o_orderkey % 7 == 0 BY ROW INDEX — mirroring
    q_deltalog_dv's foreign-Delta fixture so the two formats' DV
    paths stay differential-testable. Returns the table root."""
    from plankton_spark.sources import puffin

    root = _scratch(sf_dir, name)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "metadata"))
    os.makedirs(os.path.join(root, "data"))
    o = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1500)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
        .toPandas()
    )

    halves = [o[o.o_orderkey < 750], o[o.o_orderkey >= 750]]
    data_entries, blobs = [], []
    for i, pdf in enumerate(halves):
        part = spark.createDataFrame(pdf)
        rel = _write_data_file(part, root, "data", f"file-{i}.parquet")
        data_entries.append(
            {
                "content": 0,
                "file_path": rel,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": len(pdf),
                "file_size_in_bytes": os.path.getsize(os.path.join(root, rel)),
                "referenced_data_file": None,
                "content_offset": None,
                "content_size_in_bytes": None,
            }
        )
        deleted = [
            j for j, k in enumerate(pdf.o_orderkey.tolist()) if k % 7 == 0
        ]
        blobs.append(
            {
                "type": "deletion-vector-v1",
                "data": puffin.dv_blob(deleted),
                "snapshot-id": 2,
                "sequence-number": 2,
                "properties": {
                    "referenced-data-file": rel,
                    "cardinality": str(len(deleted)),
                },
            }
        )

    puffin_rel = "data/deletes-1.puffin"
    metas = puffin.write_puffin(os.path.join(root, puffin_rel), blobs)
    dv_entries = [
        {
            "content": 1,
            "file_path": puffin_rel,
            "file_format": "PUFFIN",
            "partition": {},
            "record_count": int(b["properties"]["cardinality"]),
            "file_size_in_bytes": os.path.getsize(
                os.path.join(root, puffin_rel)
            ),
            "referenced_data_file": b["properties"]["referenced-data-file"],
            "content_offset": m["offset"],
            "content_size_in_bytes": m["length"],
        }
        for b, m in zip(blobs, metas)
    ]

    def manifest(fname: str, entries: list[dict]) -> dict:
        path = os.path.join(root, "metadata", fname)
        write_ocf_generic(
            path,
            _DV_MANIFEST_ENTRY_SCHEMA,
            [
                {"status": 1, "snapshot_id": 2, "data_file": e}
                for e in entries
            ],
        )
        return {
            "manifest_path": f"metadata/{fname}",
            "manifest_length": os.path.getsize(path),
            "partition_spec_id": 0,
            "added_snapshot_id": None,
        }

    m_data = manifest("m-data.avro", data_entries)
    m_dv = manifest("m-dv.avro", dv_entries)
    ml = os.path.join(root, "metadata", "snap-2.avro")
    write_ocf_generic(ml, MANIFEST_FILE_SCHEMA, [m_data, m_dv])

    metadata = {
        "format-version": 3,
        "table-uuid": "plankton-iceberg-dv-fixture",
        "location": root,
        "last-updated-ms": 2,
        "last-column-id": 3,
        "schema": _ICE_SCHEMA,
        "schemas": [_ICE_SCHEMA],
        "current-schema-id": 0,
        "partition-spec": [],
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "current-snapshot-id": 2,
        "snapshots": [
            {
                "snapshot-id": 2,
                "timestamp-ms": 2,
                "manifest-list": "metadata/snap-2.avro",
            }
        ],
    }
    with open(os.path.join(root, "metadata", "v1.metadata.json"), "w") as f:
        json.dump(metadata, f)
    with open(os.path.join(root, "metadata", "version-hint.text"), "w") as f:
        f.write("1")
    return root


@query(
    "q_iceberg_dv",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS price_sum
    FROM orders
    WHERE o_orderkey < 1500 AND o_orderkey % 7 <> 0
    """,
)
def q_iceberg_dv(spark, sf_dir):
    """Iceberg v3 Puffin deletion-vector reads as a query: a
    foreign-style format-v3 table whose delete manifest carries two
    deletion-vector-v1 entries (ONE Puffin file, TWO blobs —
    content_offset/content_size_in_bytes select each blob; the spec's
    magic+portable-roaring+CRC framing is validated on decode, see
    sources/puffin.py). read_iceberg must drop exactly the rows each
    DV marks by row index via the same (file-basename, row-index)
    anti-join the v2 parquet position deletes use. The oracle
    re-derives the survivors relationally — a framing/offset/codec/
    anti-join bug is a hash mismatch. Same aggregate contract as
    q_deltalog_dv, so Delta-vs-Iceberg DV behavior stays
    differential-testable."""
    root = author_iceberg_dv_orders(spark, sf_dir)
    t = read_iceberg(spark, root)
    return t.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 4
        ).alias("price_sum"),
    )


@query(
    "q_iceberg_dv_delete",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS price_sum
    FROM orders
    WHERE o_orderkey < 2000
      AND NOT (o_orderstatus = 'F' AND o_orderkey % 3 = 0)
      AND NOT (o_orderkey % 11 = 0)
    """,
)
def q_iceberg_dv_delete(spark, sf_dir):
    """DV-WRITING Iceberg v3 delete as a query (the write twin of
    q_iceberg_dv, and the cross-format mirror of q_deltalog_dv_delete
    with the SAME predicate shape): two successive
    IcebergWriter.delete_where_dv calls mark row indexes in Puffin
    deletion vectors — O(deleted rows), no data file rewritten, the
    second delete MERGING into one DV per file per the v3 invariant —
    and the DV-aware read subtracts them. Oracle re-derives the
    survivors relationally, so a merge/supersede bug (double DV per
    file, resurrection of first-round deletes) is a hash mismatch."""
    from plankton_spark.sources.iceberg_meta import IcebergWriter

    root = _scratch(sf_dir, "iceberg_dv_delete")
    shutil.rmtree(root, ignore_errors=True)
    o = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    w = IcebergWriter(spark, root)
    w.create(o)
    w.delete_where_dv(
        (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 3 == 0)
    )
    w.delete_where_dv(F.col("o_orderkey") % 11 == 0)
    return read_iceberg(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 4
        ).alias("price_sum"),
    )


def author_iceberg_lineage_orders(
    spark, sf_dir: str, name: str = "iceberg_lineage"
) -> str:
    """Author a FOREIGN-STYLE Iceberg format-v3 table from `orders`
    (o_orderkey < 1500) exercising ROW LINEAGE: two data files in two
    separate snapshots' manifests — file-0 (keys < 750) with
    first_row_id=0 at data sequence number 1, file-1 with
    first_row_id=len(file-0) at sequence 2 — plus a sequence-3 delete
    manifest whose Puffin DVs drop each file's o_orderkey % 7 == 0
    rows BY ROW INDEX (DVs never move surviving rows' _row_id, the
    lineage property under test). Metadata carries next-row-id and
    per-snapshot first-row-id per the v3 spec. Returns the table
    root."""
    from plankton_spark.sources import puffin
    from plankton_spark.sources.iceberg_meta import (
        _MANIFEST_FILE_SCHEMA_V2SEQ,
    )

    root = _scratch(sf_dir, name)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "metadata"))
    os.makedirs(os.path.join(root, "data"))
    o = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1500)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
        .toPandas()
    )
    halves = [o[o.o_orderkey < 750], o[o.o_orderkey >= 750]]

    lin_data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int"},
            {"name": "file_path", "type": "string"},
            {"name": "file_format", "type": "string"},
            {
                "name": "partition",
                "type": {"type": "record", "name": "r102", "fields": []},
            },
            {"name": "record_count", "type": "long"},
            {"name": "file_size_in_bytes", "type": "long"},
            {"name": "first_row_id", "type": ["null", "long"], "default": None},
        ],
    }
    lin_entry_schema = {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {"name": "data_file", "type": lin_data_file},
        ],
    }

    manifests, blobs, next_rid = [], [], 0
    for i, pdf in enumerate(halves):
        part = spark.createDataFrame(pdf)
        rel = _write_data_file(part, root, "data", f"file-{i}.parquet")
        entry = {
            "status": 1,
            "snapshot_id": i + 1,
            "data_file": {
                "content": 0,
                "file_path": rel,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": len(pdf),
                "file_size_in_bytes": os.path.getsize(
                    os.path.join(root, rel)
                ),
                "first_row_id": next_rid,
            },
        }
        next_rid += len(pdf)
        mname = f"m-data-{i}.avro"
        mpath = os.path.join(root, "metadata", mname)
        write_ocf_generic(mpath, lin_entry_schema, [entry])
        manifests.append(
            {
                "manifest_path": f"metadata/{mname}",
                "manifest_length": os.path.getsize(mpath),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": i + 1,
                "added_snapshot_id": i + 1,
            }
        )
        deleted = [
            j for j, k in enumerate(pdf.o_orderkey.tolist()) if k % 7 == 0
        ]
        blobs.append(
            {
                "type": "deletion-vector-v1",
                "data": puffin.dv_blob(deleted),
                "snapshot-id": 3,
                "sequence-number": 3,
                "properties": {
                    "referenced-data-file": rel,
                    "cardinality": str(len(deleted)),
                },
            }
        )

    puffin_rel = "data/deletes-lineage.puffin"
    metas = puffin.write_puffin(os.path.join(root, puffin_rel), blobs)
    dv_entries = [
        {
            "status": 1,
            "snapshot_id": 3,
            "data_file": {
                "content": 1,
                "file_path": puffin_rel,
                "file_format": "PUFFIN",
                "partition": {},
                "record_count": int(b["properties"]["cardinality"]),
                "file_size_in_bytes": os.path.getsize(
                    os.path.join(root, puffin_rel)
                ),
                "referenced_data_file": b["properties"][
                    "referenced-data-file"
                ],
                "content_offset": m["offset"],
                "content_size_in_bytes": m["length"],
            },
        }
        for b, m in zip(blobs, metas)
    ]
    mdv_path = os.path.join(root, "metadata", "m-dv.avro")
    write_ocf_generic(mdv_path, _DV_MANIFEST_ENTRY_SCHEMA, dv_entries)
    manifests.append(
        {
            "manifest_path": "metadata/m-dv.avro",
            "manifest_length": os.path.getsize(mdv_path),
            "partition_spec_id": 0,
            "content": 1,
            "sequence_number": 3,
            "added_snapshot_id": 3,
        }
    )
    ml = os.path.join(root, "metadata", "snap-3.avro")
    write_ocf_generic(ml, _MANIFEST_FILE_SCHEMA_V2SEQ, manifests)

    metadata = {
        "format-version": 3,
        "table-uuid": "plankton-iceberg-lineage-fixture",
        "location": root,
        "last-updated-ms": 3,
        "last-column-id": 3,
        "schema": _ICE_SCHEMA,
        "schemas": [_ICE_SCHEMA],
        "current-schema-id": 0,
        "partition-spec": [],
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "last-sequence-number": 3,
        "next-row-id": next_rid,
        "current-snapshot-id": 3,
        "snapshots": [
            {
                "snapshot-id": 3,
                "timestamp-ms": 3,
                "manifest-list": "metadata/snap-3.avro",
                # spec: a snapshot's first-row-id is the START of the
                # id range it assigns; this snapshot's entries claim
                # [0, next_rid), so 0 (an inheritance-based reader
                # would mis-derive from next_rid)
                "first-row-id": 0,
            }
        ],
    }
    with open(os.path.join(root, "metadata", "v1.metadata.json"), "w") as f:
        json.dump(metadata, f)
    with open(os.path.join(root, "metadata", "version-hint.text"), "w") as f:
        f.write("1")
    return root


@query(
    "q_iceberg_rowlineage",
    oracle="""
    WITH base AS (
      SELECT o_orderkey,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
      FROM orders WHERE o_orderkey < 1500
    )
    SELECT CAST(CASE WHEN o_orderkey < 750 THEN 1 ELSE 2 END AS BIGINT)
             AS seq,
           COUNT(*) AS n_rows,
           CAST(SUM(rid) AS BIGINT) AS rid_sum,
           CAST(MIN(rid) AS BIGINT) AS rid_min,
           CAST(MAX(rid) AS BIGINT) AS rid_max,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM base
    WHERE o_orderkey % 7 <> 0
    GROUP BY 1
    """,
)
def q_iceberg_rowlineage(spark, sf_dir):
    """Iceberg format-v3 ROW LINEAGE as a query: a foreign-style table
    whose manifests assign each data file a first_row_id (the v3
    inheritance chain — file N's ids start where file N-1's ended) at
    distinct data sequence numbers, then DV-delete some rows.
    read_iceberg(with_lineage=True) must project _row_id =
    first_row_id + physical row position — STABLE across the DV delete
    (DVs never rewrite data files, so survivors keep their ids; the
    deleted ids simply vanish) — and _last_updated_sequence_number =
    the file's data sequence number. The oracle re-derives both from
    the deterministic fixture layout (files split at o_orderkey=750,
    rows ordered by key), so an off-by-one in the id chain, a
    position shift after the DV anti-join, or a sequence-inheritance
    bug is a hash mismatch. Lineage is manifest metadata broadcast
    onto the scan — no extra data pass (see read_iceberg)."""
    root = author_iceberg_lineage_orders(spark, sf_dir)
    t = read_iceberg(spark, root, with_lineage=True)
    return t.groupBy(
        F.col("_last_updated_sequence_number").alias("seq")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("_row_id").cast("long").alias("rid_sum"),
        F.min("_row_id").alias("rid_min"),
        F.max("_row_id").alias("rid_max"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    )


@query(
    "q_iceberg_rowlineage_compact",
    oracle="""
    WITH base AS (
      SELECT o_orderkey,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
      FROM orders WHERE o_orderkey < 1500
    )
    SELECT CAST(CASE WHEN o_orderkey < 750 THEN 1 ELSE 2 END AS BIGINT)
             AS seq,
           COUNT(*) AS n_rows,
           CAST(SUM(rid) AS BIGINT) AS rid_sum,
           CAST(MIN(rid) AS BIGINT) AS rid_min,
           CAST(MAX(rid) AS BIGINT) AS rid_max,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM base
    WHERE o_orderkey % 7 <> 0
    GROUP BY 1
    """,
)
def q_iceberg_rowlineage_compact(spark, sf_dir):
    """Row lineage ACROSS A REWRITE (round-10 verdict #1): the same
    foreign-style v3 fixture as q_iceberg_rowlineage (two id-chained
    files at seq 1/2, DV-deleted %7 rows), then OPTIMIZE — which per
    the v3 spec must MATERIALIZE _row_id and
    _last_updated_sequence_number into the rewritten files (reserved
    names/field ids; inheritance would hand out new identities) while
    the re-staged files claim FRESH first_row_ids from next-row-id.
    The post-compaction lineage read must return IDENTICAL per-row
    ids and sequence attribution — the oracle is VERBATIM
    q_iceberg_rowlineage's, so any id drift, a survivor renumbered by
    the DV purge, or a sequence flattened to the rewrite's is a hash
    mismatch. The read path stays metadata + coalesce: materialized
    values win where present, manifest inheritance covers the rest
    (sources/iceberg_meta.py optimize/_posdelete_filtered_read)."""
    from plankton_spark.sources.iceberg_meta import IcebergWriter

    root = author_iceberg_lineage_orders(
        spark, sf_dir, name="iceberg_lineage_compact"
    )
    IcebergWriter(spark, root).optimize(num_files=1)
    t = read_iceberg(spark, root, with_lineage=True)
    return t.groupBy(
        F.col("_last_updated_sequence_number").alias("seq")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("_row_id").cast("long").alias("rid_sum"),
        F.min("_row_id").alias("rid_min"),
        F.max("_row_id").alias("rid_max"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    )


@query(
    "q_iceberg_convert_reverse",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
      FROM orders WHERE o_orderkey < 1500
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           CAST(SUM(rid) AS BIGINT) AS rid_sum,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM base
    WHERE o_orderkey % 7 <> 0
    GROUP BY o_orderstatus
    """,
)
def q_iceberg_convert_reverse(spark, sf_dir):
    """The migration matrix's REVERSE arrow (round-10 verdict #3):
    delta_log.author(.., iceberg_meta.inventory) authors a _delta_log
    over an Iceberg table's live files in place — manifest-chain
    inventory (rewritten files invisible), footer stats into add
    actions, zero data movement — and v3 row lineage TRANSLATES to
    Delta row tracking (first_row_id → baseRowId verbatim, next-row-id
    → hwm domain metadata, materialized-column config pointed at the
    Iceberg reserved names). The lifecycle compounds every
    preservation mechanism: id-chained create/append, a DV delete, an
    Iceberg OPTIMIZE (purges the DVs and MATERIALIZES survivor ids
    into the rewritten file), then conversion — and the DELTA-chain
    row-id read must still see the ORIGINAL per-row ids, now resolved
    through the materialized column the Iceberg compaction wrote. The
    oracle recomputes ids relationally from the deterministic layout;
    DV'd / eq-deleted / transform-partitioned / multi-spec sources
    refuse (sources/iceberg_meta.py:inventory)."""
    from plankton_spark.sources.delta_log import read_delta
    from plankton_spark.sources.iceberg_meta import IcebergWriter
    from plankton_spark.sources import delta_log, iceberg_meta

    root = _scratch(sf_dir, "iceberg_convert_reverse")
    shutil.rmtree(root, ignore_errors=True)
    o = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1500)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    w = IcebergWriter(spark, root)
    w.create(
        o.where(F.col("o_orderkey") < 750)
        .repartition(1)
        .sortWithinPartitions("o_orderkey")
    )
    w.append(
        o.where(F.col("o_orderkey") >= 750)
        .repartition(1)
        .sortWithinPartitions("o_orderkey")
    )
    w.delete_where_dv(F.col("o_orderkey") % 7 == 0)
    w.optimize(num_files=1)
    delta_log.author(spark, root, iceberg_meta.inventory)
    t = read_delta(spark, root, with_row_ids=True)
    return t.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("_row_id").cast("long").alias("rid_sum"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    )


@query(
    "q_iceberg_changelog",
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS k, o_custkey AS c FROM orders
      WHERE o_orderkey < 1500
    ),
    live3 AS (SELECT k, c FROM o WHERE k % 10 <> 3),
    ch AS (
      SELECT CAST(1 AS BIGINT) AS sid, 'insert' AS ct, k, c
      FROM o WHERE k < 1200
      UNION ALL
      SELECT 2, 'insert', k, c FROM o WHERE k >= 1200
      UNION ALL
      SELECT 3, 'delete', k, c FROM o WHERE k % 10 = 3
      UNION ALL
      SELECT 5, 'delete', k, c FROM live3
      UNION ALL
      SELECT 5, 'insert', k, c FROM live3
      WHERE NOT (k % 10 = 7 AND k < 1200)
    )
    SELECT sid, ct AS change_type,
           COUNT(*) AS n_rows,
           CAST(SUM(k) AS BIGINT) AS key_sum,
           CAST(SUM(c) AS BIGINT) AS cust_sum
    FROM ch GROUP BY sid, ct
    """,
)
def q_iceberg_changelog(spark, sf_dir):
    """Iceberg CHANGELOG SCAN (the spec's incremental-changes
    semantics — the Iceberg twin of q_deltalog_cdf): per snapshot,
    ADDED files' rows emit as inserts, REMOVED files' pre-snapshot
    rows as deletes, and DV GROWTH on carried files emits EXACTLY the
    newly-marked positions (a superseding Puffin blob is a union —
    previously-deleted rows never re-emit); `replace` snapshots
    (OPTIMIZE, snapshot 4 here) are layout-only and contribute
    NOTHING. The lifecycle compounds every attribution mode: two
    append snapshots, a DV delete across both files, a silent
    compaction, then a rewrite delete whose change set derives as
    delete-all + insert-survivors. The oracle recomputes each
    snapshot's change set relationally, so a re-emitted DV row, a
    compaction leaking into the feed, or a survivor misattributed is
    a hash mismatch. All row emission is native parquet scans with
    broadcast (file, position) joins
    (sources/iceberg_meta.py:read_iceberg_changelog)."""
    from plankton_spark.sources.iceberg_meta import (
        IcebergWriter,
        read_iceberg_changelog,
    )

    root = _scratch(sf_dir, "iceberg_changelog")
    shutil.rmtree(root, ignore_errors=True)
    o = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1500)
        .select("o_orderkey", "o_custkey")
    )
    k = F.col("o_orderkey")
    w = IcebergWriter(spark, root)
    w.create(o.where(k < 1200).repartition(1).sortWithinPartitions("o_orderkey"))
    w.append(o.where(k >= 1200).repartition(1).sortWithinPartitions("o_orderkey"))
    w.delete_where_dv(F.col("o_orderkey") % 10 == 3)
    w.optimize(num_files=1)  # layout-only: must not leak into the feed
    w.delete_where(
        (F.col("o_orderkey") % 10 == 7) & (F.col("o_orderkey") < 1200)
    )
    cl = read_iceberg_changelog(spark, root, 1, 5)
    return cl.groupBy(
        F.col("_snapshot_id").alias("sid"),
        F.col("_change_type").alias("change_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum("o_custkey").cast("long").alias("cust_sum"),
    )


@query(
    "q_stream_iceberg_cdf",
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS k, o_custkey AS c FROM orders
      WHERE o_orderkey < 1500
    ),
    live3 AS (SELECT k, c FROM o WHERE k % 10 <> 3),
    ch AS (
      SELECT CAST(1 AS BIGINT) AS sid, 'insert' AS ct, k, c
      FROM o WHERE k < 1200
      UNION ALL
      SELECT 2, 'insert', k, c FROM o WHERE k >= 1200
      UNION ALL
      SELECT 3, 'delete', k, c FROM o WHERE k % 10 = 3
      UNION ALL
      SELECT 5, 'delete', k, c FROM live3
      UNION ALL
      SELECT 5, 'insert', k, c FROM live3
      WHERE NOT (k % 10 = 7 AND k < 1200)
    )
    SELECT sid, ct AS change_type,
           COUNT(*) AS n_rows,
           CAST(SUM(k) AS BIGINT) AS key_sum,
           CAST(SUM(c) AS BIGINT) AS cust_sum
    FROM ch GROUP BY sid, ct
    """,
)
def q_stream_iceberg_cdf(spark, sf_dir):
    """The Iceberg changelog as a REAL STREAMING source
    (format("icebergcdf"), offsets = snapshot ORDINALS) with a
    mid-stream restart — the cross-format twin of q_stream_cdf: the
    two append snapshots drain first; a DV delete, a compaction, and
    a rewrite delete land while the consumer is down; the resumed
    query must emit EXACTLY the down-time snapshots' change rows (DV
    growth as the newly-marked positions only, the `replace`
    compaction contributing NOTHING, the rewrite as delete-all +
    insert-survivors) and never replay the initial inserts. Oracle =
    q_iceberg_changelog's relational recompute; each partition is one
    self-contained parquet scan + position filter
    (sources/iceberg_meta.py:IcebergCdfStreamReader)."""
    import uuid as _uuid

    root = _scratch(sf_dir, "stream_iceberg_cdf")
    shutil.rmtree(root, ignore_errors=True)
    sink = root + "_sink"
    ckpt = root + "_ckpt"
    shutil.rmtree(sink, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    from plankton_spark.sources.iceberg_meta import IcebergWriter, register

    register(spark)
    o = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1500)
        .select("o_orderkey", "o_custkey")
    )
    k = F.col("o_orderkey")
    w = IcebergWriter(spark, root)
    w.create(o.where(k < 1200).repartition(1).sortWithinPartitions("o_orderkey"))
    w.append(o.where(k >= 1200).repartition(1).sortWithinPartitions("o_orderkey"))

    from plankton_spark.sources.iceberg_meta import cdf_schema

    feed_schema = cdf_schema(root)  # skip the per-load schema probe

    def drain():
        q = (
            spark.readStream.format("icebergcdf")
            .option("path", root)
            .schema(feed_schema)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .queryName(f"icdf_{_uuid.uuid4().hex[:8]}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()  # snapshots 1-2
    w.delete_where_dv(F.col("o_orderkey") % 10 == 3)   # s3
    w.optimize(num_files=1)                             # s4: silent
    w.delete_where(
        (F.col("o_orderkey") % 10 == 7) & (F.col("o_orderkey") < 1200)
    )                                                   # s5
    drain()  # restart: snapshots 3-5 only
    feed = spark.read.parquet(sink)
    return feed.groupBy(
        F.col("_snapshot_id").alias("sid"),
        F.col("_change_type").alias("change_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum("o_custkey").cast("long").alias("cust_sum"),
    )


@query(
    "q_iceberg_changelog_eq",
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS k, o_custkey AS c FROM orders
      WHERE o_orderkey < 1200
    ),
    ch AS (
      SELECT CAST(1 AS BIGINT) AS sid, 'insert' AS ct, k, c
      FROM o WHERE k < 1000
      UNION ALL
      SELECT 2, 'insert', k, c FROM o WHERE k >= 1000
      UNION ALL
      SELECT 3, 'delete', k, c FROM o WHERE k < 1000 AND k % 5 = 0
      UNION ALL
      SELECT 4, 'insert', k, c FROM o WHERE k < 1000 AND k % 10 = 0
    )
    SELECT sid, ct AS change_type,
           COUNT(*) AS n_rows,
           CAST(SUM(k) AS BIGINT) AS key_sum,
           CAST(SUM(c) AS BIGINT) AS cust_sum
    FROM ch GROUP BY sid, ct
    """,
)
def q_iceberg_changelog_eq(spark, sf_dir):
    """Changelog scan over an EQUALITY-DELETED range (closes the
    refusal q_iceberg_changelog declared): value-keyed deletes are
    not position-attributable per mechanism, so the boundary diffs
    LIVE-ROW SETS — prev/cur live scans of the carried files (each
    applying its snapshot's eq deletes through the read path's
    seq-gated null-safe anti-join) anti-joined on position identity.
    The lifecycle pins the sequence rule end-to-end: an eq delete at
    seq 3 kills matching rows in BOTH earlier files (emitted as sid-3
    deletes, exactly once, by the set diff), then a seq-4 append
    RE-INSERTS a subset of the deleted keys — those rows outrank the
    delete (strictly-greater gate) and emit as sid-4 inserts while
    the sid-4 carried-file diff stays EMPTY (the eq delete does not
    re-fire on rows it already killed). The oracle recomputes all
    four change sets relationally
    (sources/iceberg_meta.py:read_iceberg_changelog)."""
    from plankton_spark.sources.iceberg_meta import (
        IcebergWriter,
        read_iceberg_changelog,
    )

    root = _scratch(sf_dir, "iceberg_changelog_eq")
    shutil.rmtree(root, ignore_errors=True)
    o = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1200)
        .select("o_orderkey", "o_custkey")
    )
    k = F.col("o_orderkey")
    w = IcebergWriter(spark, root)
    w.create(o.where(k < 1000).repartition(1).sortWithinPartitions("o_orderkey"))
    w.append(o.where(k >= 1000).repartition(1).sortWithinPartitions("o_orderkey"))
    w.delete_where_eq(
        o.where((k < 1000) & (k % 5 == 0)).select("o_orderkey")
    )
    w.append(
        o.where((k < 1000) & (k % 10 == 0))
        .repartition(1)
        .sortWithinPartitions("o_orderkey")
    )
    cl = read_iceberg_changelog(spark, root, 1, 4)
    return cl.groupBy(
        F.col("_snapshot_id").alias("sid"),
        F.col("_change_type").alias("change_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum("o_custkey").cast("long").alias("cust_sum"),
    )


@query(
    "q_iceberg_defaults",
    oracle="""
    WITH f AS (
      SELECT o_orderkey AS k, CAST(5 AS BIGINT) AS priority
      FROM orders WHERE o_orderkey < 1000
      UNION ALL
      SELECT o_orderkey, CAST(7 AS BIGINT) FROM orders
      WHERE o_orderkey >= 1000 AND o_orderkey < 1200
      UNION ALL
      SELECT o_orderkey, CAST(o_orderkey % 3 AS BIGINT) FROM orders
      WHERE o_orderkey >= 1200 AND o_orderkey < 1300
    )
    SELECT priority, COUNT(*) AS n_rows,
           CAST(SUM(k) AS BIGINT) AS key_sum
    FROM f GROUP BY priority
    """,
)
def q_iceberg_defaults(spark, sf_dir):
    """Iceberg v3 DEFAULT VALUES (the cross-format contrast to
    q_deltalog_defaults): ADD COLUMN carries BOTH defaults —
    ``initial-default`` (5) is a READ-TIME fill for files written
    BEFORE the column existed (exactly what Delta's protocol cannot
    represent, which is why its ADD-with-default refuses), and
    ``write-default`` (7) materializes on writes that omit the
    column. The read groups live files by footer presence of the
    defaulted field (id-resolved) and fills per group — files
    carrying the column keep their values. Three populations pin the
    semantics: pre-ALTER rows read 5, a post-ALTER append omitting
    the column lands 7, an append supplying values keeps them. The
    metadata bumps to format-version 3 per the spec."""
    from plankton_spark.sources.iceberg_meta import IcebergWriter, read_iceberg

    root = _scratch(sf_dir, "iceberg_defaults")
    shutil.rmtree(root, ignore_errors=True)
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    k = F.col("o_orderkey")
    w = IcebergWriter(spark, root)
    w.create(o.where(k < 1000).coalesce(1))
    w.add_column("priority", "long", initial_default=5, write_default=7)
    w.append(o.where((k >= 1000) & (k < 1200)).coalesce(1))
    w.append(
        o.where((k >= 1200) & (k < 1300))
        .withColumn("priority", (k % 3).cast("long"))
        .coalesce(1)
    )
    return read_iceberg(spark, root).groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    )


@query(
    "q_iceberg_changelog_multispec",
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS k, o_orderstatus AS s FROM orders
      WHERE o_orderkey < 1500
    ),
    ch AS (
      SELECT CAST(1 AS BIGINT) AS sid, 'insert' AS ct, k, s
      FROM o WHERE k < 1200
      UNION ALL
      SELECT 2, 'insert', k, s FROM o WHERE k >= 1200
      UNION ALL
      SELECT 3, 'delete', k, s FROM o
      WHERE k < 1200 OR s = 'F'
      UNION ALL
      SELECT 3, 'insert', k, s FROM o
      WHERE k < 1200 AND s <> 'F'
    )
    SELECT sid, ct AS change_type,
           COUNT(*) AS n_rows,
           CAST(SUM(k) AS BIGINT) AS key_sum
    FROM ch GROUP BY sid, ct
    """,
)
def q_iceberg_changelog_multispec(spark, sf_dir):
    """Iceberg CHANGELOG over a PARTITION-EVOLVED range (the last
    changelog refusal, lifted): snapshot 1 lands UNPARTITIONED
    (spec 0), evolve_spec makes o_orderstatus the identity spec —
    metadata-only, no snapshot — snapshot 2 lands hive-partitioned
    under spec 1, snapshot 3 is a rewrite DELETE of status 'F' whose
    hit set SPANS BOTH SPECS (the spec-0 file contains F rows in
    content; spec-1's F partition drops whole), and snapshot 4 is the
    multi-spec OPTIMIZE that resolves the evolution — a `replace`
    snapshot the feed must silence. Every boundary assembles PER SPEC
    and unions (read_iceberg's partition-evolution rule applied
    inside the changelog), so spec-0 rows keep their content columns
    and spec-1 rows their attached identity values; the oracle
    recomputes all four snapshots' change sets relationally — a
    NULLed partition column, a mis-attributed spec, or a compaction
    leak is a hash mismatch. This round also fixed the DML side:
    delete_where / update_where / replace_where / merge / optimize
    previously attached the DEFAULT spec's columns to old-spec files,
    silently NULLing content columns on partition-evolved tables
    (verified live; per-spec _assemble_multispec now feeds them
    all)."""
    from plankton_spark.sources.iceberg_meta import (
        IcebergWriter,
        read_iceberg_changelog,
    )

    root = _scratch(sf_dir, "iceberg_changelog_ms")
    shutil.rmtree(root, ignore_errors=True)
    o = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1500)
        .select("o_orderkey", "o_orderstatus")
    )
    k = F.col("o_orderkey")
    w = IcebergWriter(spark, root)
    w.create(o.where(k < 1200).repartition(1).sortWithinPartitions("o_orderkey"))
    w.evolve_spec(["o_orderstatus"])
    w.append(o.where(k >= 1200).repartition(1).sortWithinPartitions("o_orderkey"))
    s3 = w.delete_where(F.col("o_orderstatus") == "F")
    s4 = w.optimize(num_files=1)  # resolves the evolution; must stay silent
    cl = read_iceberg_changelog(spark, root, 1, s4)
    return cl.groupBy(
        F.col("_snapshot_id").alias("sid"),
        F.col("_change_type").alias("change_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    )


@query(
    "q_stream_iceberg_cdf_eq",
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS k, o_custkey AS c FROM orders
      WHERE o_orderkey < 1200
    ),
    ch AS (
      SELECT CAST(1 AS BIGINT) AS sid, 'insert' AS ct, k, c
      FROM o WHERE k < 1000
      UNION ALL
      SELECT 2, 'insert', k, c FROM o WHERE k >= 1000
      UNION ALL
      SELECT 3, 'delete', k, c FROM o WHERE k < 1000 AND k % 5 = 0
      UNION ALL
      SELECT 4, 'insert', k, c FROM o WHERE k < 1000 AND k % 10 = 0
      UNION ALL
      SELECT 5, 'delete', k, c FROM o WHERE k % 20 = 0
    )
    SELECT sid, ct AS change_type,
           COUNT(*) AS n_rows,
           CAST(SUM(k) AS BIGINT) AS key_sum,
           CAST(SUM(c) AS BIGINT) AS cust_sum
    FROM ch GROUP BY sid, ct
    """,
)
def q_stream_iceberg_cdf_eq(spark, sf_dir):
    """The STREAMING Iceberg changelog over EQUALITY-DELETED ranges
    (round-12 verdict item 3 — the last icebergcdf refusal,
    deleted): planning folds each eq delete file into a
    {key_tuple: max_delete_seq} payload (driver IO bounded by delete
    rows, the DV precedent) and ships it INSIDE the partitions, so
    the batch path's live-set diff evaluates per file with the
    reader join-free. The lifecycle is the sequence-rule gauntlet
    with a MID-STREAM RESTART on top: the appends drain; then an eq
    delete (s3), a re-insert of a subset of the deleted keys (s4 —
    those rows outrank the s3 delete and must NOT re-die), and a
    SECOND eq delete (s5) land while the consumer is down. s5's
    carried-file diff must kill k%20==0 rows in the s4 file (seq 4 <
    5) and in the s2 file, but NOT re-emit deletes for rows s3
    already killed in the s1 files — exactly the prev-live ∧
    cur-dead mask. Oracle = the relational recompute of all five
    change sets (the batch q_iceberg_changelog_eq contract, extended
    one boundary)."""
    import uuid as _uuid

    root = _scratch(sf_dir, "stream_iceberg_cdf_eq")
    shutil.rmtree(root, ignore_errors=True)
    sink = root + "_sink"
    ckpt = root + "_ckpt"
    shutil.rmtree(sink, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    from plankton_spark.sources.iceberg_meta import IcebergWriter, register

    register(spark)
    o = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1200)
        .select("o_orderkey", "o_custkey")
    )
    k = F.col("o_orderkey")
    w = IcebergWriter(spark, root)
    w.create(o.where(k < 1000).repartition(1).sortWithinPartitions("o_orderkey"))
    w.append(o.where(k >= 1000).repartition(1).sortWithinPartitions("o_orderkey"))

    from plankton_spark.sources.iceberg_meta import cdf_schema

    feed_schema = cdf_schema(root)  # skip the per-load schema probe

    def drain():
        q = (
            spark.readStream.format("icebergcdf")
            .option("path", root)
            .schema(feed_schema)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .queryName(f"icdfeq_{_uuid.uuid4().hex[:8]}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()  # snapshots 1-2
    w.delete_where_eq(
        o.where((k < 1000) & (k % 5 == 0)).select("o_orderkey")
    )                                                   # s3: eq delete
    w.append(
        o.where((k < 1000) & (k % 10 == 0))
        .repartition(1)
        .sortWithinPartitions("o_orderkey")
    )                                                   # s4: re-insert
    w.delete_where_eq(
        o.where(k % 20 == 0).select("o_orderkey")
    )                                                   # s5: second eq
    drain()  # restart: snapshots 3-5 only
    feed = spark.read.parquet(sink)
    return feed.groupBy(
        F.col("_snapshot_id").alias("sid"),
        F.col("_change_type").alias("change_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum("o_custkey").cast("long").alias("cust_sum"),
    )


@query(
    "q_iceberg_rowlineage_multispec",
    oracle="""
    WITH base AS (
      SELECT o_orderkey,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
      FROM orders WHERE o_orderkey < 1500
    ),
    app AS (
      SELECT o_orderkey,
             (SELECT COUNT(*) FROM base)
               + ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
      FROM orders WHERE o_orderkey >= 1500 AND o_orderkey < 1700
    ),
    surv AS (
      SELECT CAST(CASE WHEN o_orderkey < 750 THEN 1 ELSE 2 END AS BIGINT)
               AS seq,
             o_orderkey, rid
      FROM base WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 0
      UNION ALL
      SELECT CAST(4 AS BIGINT), o_orderkey, rid FROM app
    )
    SELECT seq, COUNT(*) AS n_rows,
           CAST(SUM(rid) AS BIGINT) AS rid_sum,
           CAST(MIN(rid) AS BIGINT) AS rid_min,
           CAST(MAX(rid) AS BIGINT) AS rid_max,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM surv GROUP BY seq
    """,
)
def q_iceberg_rowlineage_multispec(spark, sf_dir):
    """Row lineage over a MULTI-SPEC snapshot WITH row-level deletes
    (round-12 verdict item 4 — the last multi-spec refusal,
    deleted): lineage is spec-agnostic — a per-file (first_row_id,
    data_seq) broadcast map joined on basename — so the per-spec
    union scan (round 12's delete composition) feeds the single-spec
    lineage tail unchanged, materialized columns included in every
    spec group's read schema. The lifecycle: the foreign v3 fixture
    (two id-chained files at seq 1/2, Puffin DVs killing %7 rows),
    PARTITION EVOLUTION to identity(o_orderstatus), an engine append
    in the NEW spec (claims ids after next-row-id), then an ENGINE
    DV delete (%11, old files) evaluated per spec over the evolved
    snapshot — so the read crosses two specs, fixture DVs AND engine
    DVs at once. Also pinned by the fix it forced:
    delete_where_pos/_dv now preserve carried manifest sequence
    numbers (_write_manifest_list) — re-listing with the seq-less
    record shape zeroed every file's data sequence (found live).
    Oracle re-derives ids and sequence attribution relationally; the
    appended block's aggregates are assignment-order invariant (a
    contiguous id block with no deletions)."""
    from plankton_spark.sources.iceberg_meta import IcebergWriter

    root = author_iceberg_lineage_orders(
        spark, sf_dir, name="iceberg_lineage_multispec"
    )
    w = IcebergWriter(spark, root)
    w.evolve_spec(["o_orderstatus"])
    k = F.col("o_orderkey")
    o = (
        read_table(spark, sf_dir, "orders")
        .where((k >= 1500) & (k < 1700))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    w.append(o.repartition(1).sortWithinPartitions("o_orderkey"))
    w.delete_where_dv((k % 11 == 0) & (k < 1500))
    t = read_iceberg(spark, root, with_lineage=True)
    return t.groupBy(
        F.col("_last_updated_sequence_number").alias("seq")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("_row_id").cast("long").alias("rid_sum"),
        F.min("_row_id").alias("rid_min"),
        F.max("_row_id").alias("rid_max"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    )
