"""Delta Lake log interop queries (VERDICT r2 #5): a tiny Delta table
is authored BY HAND (data files via Spark's parquet writer, the
`_delta_log` JSON commits written directly — no delta jar exists in
this environment), then read back through
plankton_spark/sources/delta_log.py with versionAsOf semantics. The
oracle re-derives each version's content from the source fixture, so
a wrong log replay (missed remove, stale metaData, partition-value
mix-up) fails the value hash."""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F

from plankton_spark.io import read_table
from plankton_spark.queries.scans import _scratch
from plankton_spark.registry import query
from plankton_spark.sources import stage
from plankton_spark.sources.delta_log import read_delta


def _write_data_file(df, root: str, rel_dir: str, name: str) -> str:
    """Write `df` as a single parquet file at `<root>/<rel_dir>/<name>`
    (Delta data files exclude partition columns; caller drops them)."""
    rel = f"{rel_dir}/{name}" if rel_dir else name
    tmp = os.path.join(root, "_tmp_write")
    if not stage.write(df.coalesce(1), tmp, root, lambda _rel, _values: rel):
        raise ValueError(f"{rel}: no rows to write")
    return rel


def _commit(root: str, version: int, actions: list[dict]) -> None:
    with open(
        os.path.join(root, "_delta_log", f"{version:020d}.json"), "w"
    ) as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


def author_delta_orders(spark, sf_dir: str, name: str = "delta_orders") -> str:
    """Author a 3-version Delta table from `orders`, partitioned by
    o_orderstatus:
      v0  adds  o_orderkey < 1000
      v1  adds  1000 <= o_orderkey < 2000
      v2  removes every 'F'-partition file  (partition delete)
    Returns the table root."""
    root = _scratch(sf_dir, name)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "_delta_log"))
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    statuses = [
        r["o_orderstatus"]
        for r in o.select("o_orderstatus").distinct().orderBy("o_orderstatus").collect()
    ]
    meta = {
        "metaData": {
            "id": "plankton-delta-interop-fixture",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": o.schema.json(),
            "partitionColumns": ["o_orderstatus"],
            "configuration": {},
        }
    }
    protocol = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}

    def adds(lo: int, hi: int, tag: str) -> list[dict]:
        out = []
        for s in statuses:
            part = o.where(
                (F.col("o_orderkey") >= lo)
                & (F.col("o_orderkey") < hi)
                & (F.col("o_orderstatus") == s)
            ).drop("o_orderstatus")
            rel = _write_data_file(
                part, root, f"o_orderstatus={s}", f"{tag}-{s}.parquet"
            )
            out.append(
                {
                    "add": {
                        "path": rel,
                        "partitionValues": {"o_orderstatus": s},
                        "size": os.path.getsize(os.path.join(root, rel)),
                        "modificationTime": 0,
                        "dataChange": True,
                    }
                }
            )
        return out

    v0_adds = adds(0, 1000, "v0")
    _commit(root, 0, [protocol, meta] + v0_adds)
    v1_adds = adds(1000, 2000, "v1")
    _commit(root, 1, v1_adds)
    removes = [
        {"remove": {"path": a["add"]["path"], "dataChange": True}}
        for a in v0_adds + v1_adds
        if a["add"]["partitionValues"]["o_orderstatus"] == "F"
    ]
    _commit(root, 2, removes)
    return root


@query(
    "q_deltalog_read",
    oracle="""
    WITH v0 AS (
      SELECT * FROM orders WHERE o_orderkey < 1000
    ),
    v1 AS (
      SELECT * FROM orders WHERE o_orderkey < 2000
    ),
    v2 AS (
      SELECT * FROM orders WHERE o_orderkey < 2000 AND o_orderstatus <> 'F'
    )
    SELECT 0 AS version, COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           COUNT(DISTINCT o_orderstatus) AS n_status FROM v0
    UNION ALL
    SELECT 1, COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
           COUNT(DISTINCT o_orderstatus) FROM v1
    UNION ALL
    SELECT 2, COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
           COUNT(DISTINCT o_orderstatus) FROM v2
    """,
)
def q_deltalog_read(spark, sf_dir):
    """Author a Delta table by hand, then read all three versions via
    the pure-Python log replay + native parquet scan. The partition
    column comes back from `partitionValues` (it is absent from the
    data files), so n_status also checks the re-attachment path."""
    root = author_delta_orders(spark, sf_dir)
    frames = [
        read_delta(spark, root, version=v)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            F.countDistinct("o_orderstatus").alias("n_status"),
        )
        .select(F.lit(v).alias("version"), "n_rows", "key_sum", "n_status")
        for v in (0, 1, 2)
    ]
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


@query(
    "q_deltalog_roundtrip",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey < 2000
    ),
    final AS (
      SELECT * FROM base WHERE o_orderstatus <> 'F'
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS price_sum,
           CAST((SELECT COUNT(*) FROM base) AS BIGINT) AS n_rows_v1
    FROM final
    """,
)
def q_deltalog_roundtrip(spark, sf_dir):
    """Full write→read Delta roundtrip through the engine's own
    writer: CREATE (orders < 1000), APPEND (1000..1999), DELETE
    (status 'F'), then read the final snapshot AND time-travel to the
    pre-delete version — the log this writes is spec-shaped JSON any
    Delta reader can replay."""
    from plankton_spark.sources.delta_log import DeltaLogWriter, read_delta

    root = _scratch(sf_dir, "delta_rt")
    shutil.rmtree(root, ignore_errors=True)
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    w = DeltaLogWriter(spark, root)
    w.create(o.where(F.col("o_orderkey") < 1000))
    v1 = w.append(o.where((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000)))
    w.delete_where(F.col("o_orderstatus") == "F")
    final = read_delta(spark, root)
    pre_delete = read_delta(spark, root, version=v1)
    agg = final.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 4
        ).alias("price_sum"),
    )
    v1_count = pre_delete.agg(F.count(F.lit(1)).cast("long").alias("n_rows_v1"))
    return agg.crossJoin(v1_count)


@query(
    "q_deltalog_merge",
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
             AS price_sum
    FROM merged
    """,
)
def q_deltalog_merge(spark, sf_dir):
    """MERGE through the engine's Delta writer: CREATE orders<1000
    (two files, key-disjoint), upsert a source spanning [500,1500) —
    existing keys update to status 'M', new keys insert — then read
    the final snapshot back through the Delta log. File-stats pruning
    means only the file overlapping [500,1500) is rewritten; the
    oracle recomputes the anti-join + union semantics relationally."""
    from plankton_spark.sources.delta_log import DeltaLogWriter, read_delta

    root = _scratch(sf_dir, "delta_merge")
    shutil.rmtree(root, ignore_errors=True)
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    w = DeltaLogWriter(spark, root)
    w.create(o.where(F.col("o_orderkey") < 500).coalesce(1))
    w.append(
        o.where((F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 1000)).coalesce(1)
    )
    src = (
        o.where((F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 1500))
        .withColumn("o_orderstatus", F.lit("M"))
    )
    w.merge(src, "o_orderkey")
    return read_delta(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum((F.col("o_orderstatus") == "M").cast("int")).cast("long").alias("n_merged"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 4
        ).alias("price_sum"),
    )


@query(
    "q_deltalog_restore",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 2000
    ),
    v2 AS (
      SELECT * FROM v1 WHERE o_orderstatus <> 'F'
    )
    SELECT 'tip_before_restore' AS phase, COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum FROM v2
    UNION ALL
    SELECT 'restored', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT) FROM v1
    """,
)
def q_deltalog_restore(spark, sf_dir):
    """Delta RESTORE TO VERSION AS OF: CREATE (orders<1000), APPEND
    (1000..1999), DELETE (status 'F'), then restore to the pre-delete
    version — one metadata-only commit re-adds v1's add actions
    verbatim (stats and partitionValues included), tombstones the
    delete's rewrites, and never touches a data file. Reads BOTH the
    restored tip and (time travel) the pre-restore tip: restore must
    preserve history."""
    from plankton_spark.sources.delta_log import DeltaLogWriter, read_delta

    root = _scratch(sf_dir, "delta_restore")
    shutil.rmtree(root, ignore_errors=True)
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    w = DeltaLogWriter(spark, root)
    w.create(o.where(F.col("o_orderkey") < 1000).coalesce(1))
    w.append(
        o.where(
            (F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000)
        ).coalesce(1)
    )
    w.delete_where(F.col("o_orderstatus") == "F")
    w.restore(1)

    def _agg(df, phase):
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        ).select(F.lit(phase).alias("phase"), "n_rows", "key_sum")

    return _agg(read_delta(spark, root, version=2), "tip_before_restore").unionByName(
        _agg(read_delta(spark, root), "restored")
    )


@query(
    "q_deltalog_replacewhere",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 2000
    ),
    repl AS (
      SELECT * FROM base WHERE o_orderstatus = 'F' AND o_orderkey % 2 = 0
    ),
    final AS (
      SELECT * FROM base WHERE o_orderstatus <> 'F'
      UNION ALL SELECT * FROM repl
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_f
    FROM final
    """,
)
def q_deltalog_replacewhere(spark, sf_dir):
    """Delta replaceWhere on a hive-partitioned table: the
    o_orderstatus='F' PARTITION is atomically replaced with its
    even-keyed subset — a partition predicate means the matching files
    drop whole (cost = new data only; other partitions carry forward
    by reference, tests/test_replace_where.py pins the file identity).
    Runs TWICE to pin the idempotent-backfill contract."""
    from plankton_spark.sources.delta_log import DeltaLogWriter, read_delta

    root = _scratch(sf_dir, "delta_replwhere")
    shutil.rmtree(root, ignore_errors=True)
    o = (
        read_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus")
        .where(F.col("o_orderkey") < 2000)
    )
    w = DeltaLogWriter(spark, root)
    w.create(o, partition_by=["o_orderstatus"])
    repl = o.where(
        (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 2 == 0)
    )
    w.replace_where(repl, F.col("o_orderstatus") == "F")
    w.replace_where(repl, F.col("o_orderstatus") == "F")  # idempotent re-run
    return read_delta(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum((F.col("o_orderstatus") == "F").cast("int")).cast("long").alias("n_f"),
    )


@query(
    "q_deltalog_constraints",
    oracle="""
    WITH final AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 2000
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(1 AS BIGINT) AS n_constraints,
           CAST(TRUE AS BOOLEAN) AS violation_refused
    FROM final
    """,
)
def q_deltalog_constraints(spark, sf_dir):
    """Delta CHECK constraints: ADD CONSTRAINT positive_price CHECK
    (o_totalprice > 0) — stored as the spec's delta.constraints.*
    config with a minWriterVersion-3 bump so non-enforcing writers
    refuse the table. A valid append passes; an append of negated
    prices is REFUSED and the final state proves the bad rows never
    landed (the oracle's row set contains only the two valid
    batches). SQL CHECK semantics: NULL passes, only FALSE violates."""
    from plankton_spark.sources.delta_log import DeltaLogWriter, read_delta

    root = _scratch(sf_dir, "delta_constraints")
    shutil.rmtree(root, ignore_errors=True)
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    w = DeltaLogWriter(spark, root)
    w.create(o.where(F.col("o_orderkey") < 1000).coalesce(1))
    w.add_constraint("positive_price", "o_totalprice > 0")
    w.append(
        o.where(
            (F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000)
        ).coalesce(1)
    )
    refused = False
    try:
        w.append(
            o.where(F.col("o_orderkey") < 100)
            .withColumn("o_totalprice", -F.col("o_totalprice"))
            .coalesce(1)
        )
    except ValueError:
        refused = True
    return (
        read_delta(spark, root)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
        .withColumn(
            "n_constraints", F.lit(len(w.constraints())).cast("long")
        )
        .withColumn("violation_refused", F.lit(refused))
    )


@query(
    "q_deltalog_clone",
    oracle="""
    WITH src AS (
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 1000
    ),
    clone AS (
      SELECT o_orderkey, o_orderstatus FROM orders
      WHERE o_orderkey < 1500 AND o_orderstatus <> 'F'
    )
    SELECT 'clone' AS phase, COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum FROM clone
    UNION ALL
    SELECT 'source', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT) FROM src
    """,
)
def q_deltalog_clone(spark, sf_dir):
    """Delta SHALLOW CLONE: the clone's version 0 references the
    source's files by absolute path (zero bytes copied), then
    DIVERGES — an append and a DELETE rewrite run on the clone while
    the source must read back byte-identical (its log never moves).
    The delete tombstones source-referenced files in the CLONE's log
    only (absolute action keys, rel_path), which is the correctness
    heart of cloning."""
    from plankton_spark.sources.delta_log import (
        DeltaLogWriter,
        clone_delta,
        read_delta,
    )

    src = _scratch(sf_dir, "delta_clone_src")
    dst = _scratch(sf_dir, "delta_clone_dst")
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(dst, ignore_errors=True)
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    w = DeltaLogWriter(spark, src)
    w.create(o.where(F.col("o_orderkey") < 1000).coalesce(1))
    clone_delta(spark, src, dst)
    cw = DeltaLogWriter(spark, dst)
    cw.append(
        o.where(
            (F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 1500)
        ).coalesce(1)
    )
    cw.delete_where(F.col("o_orderstatus") == "F")

    def _agg(df, phase):
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        ).select(F.lit(phase).alias("phase"), "n_rows", "key_sum")

    return _agg(read_delta(spark, dst), "clone").unionByName(
        _agg(read_delta(spark, src), "source")
    )


@query(
    "q_delta_convert",
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
           CAST((SELECT COUNT(*) FROM final WHERE o_orderstatus = 'F')
                AS BIGINT) AS n_f_pruned
    FROM final
    """,
)
def q_delta_convert(spark, sf_dir):
    """CONVERT TO DELTA (in-place migration): a plain hive-partitioned
    parquet directory (written by vanilla Spark, no log) becomes a
    Delta table by authoring version 0 over the EXISTING files —
    O(files) metadata, zero data rewritten. The converted table
    immediately takes engine writes (an append rides on top) and
    partition-pruned reads (the 'F' count reads only that partition's
    files via the file-list prune)."""
    from plankton_spark.sources.delta_log import (
        DeltaLogWriter,
        read_delta,
    )
    from plankton_spark.sources import delta_log
    from plankton_spark.sources.convert import hive_inventory

    root = _scratch(sf_dir, "delta_convert")
    shutil.rmtree(root, ignore_errors=True)
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    o.where(F.col("o_orderkey") < 2000).write.partitionBy(
        "o_orderstatus"
    ).parquet(root)
    delta_log.author(spark, root, hive_inventory)
    w = DeltaLogWriter(spark, root)
    w.append(
        o.where(
            (F.col("o_orderkey") >= 2000) & (F.col("o_orderkey") < 2500)
        ).coalesce(1)
    )
    n_f = (
        read_delta(spark, root, partitions={"o_orderstatus": "F"})
        .count()
    )
    return read_delta(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    ).withColumn("n_f_pruned", F.lit(n_f).cast("long"))


@query(
    "q_deltalog_partitioned",
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
def q_deltalog_partitioned(spark, sf_dir):
    """Hive-partitioned Delta write + partition-pruned read: orders
    lands partitioned by o_orderstatus (source column dropped from
    file content per the spec, values in partitionValues), then the
    'F' partition is read via the FILE-LIST prune — non-matching
    files never reach Spark. The full-count column pins that the
    unpruned read still sees everything."""
    from plankton_spark.sources.delta_log import DeltaLogWriter, read_delta

    root = _scratch(sf_dir, "delta_part")
    shutil.rmtree(root, ignore_errors=True)
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).where(F.col("o_orderkey") < 2000)
    w = DeltaLogWriter(spark, root)
    w.create(o, partition_by=["o_orderstatus"])
    pruned = read_delta(spark, root, partitions={"o_orderstatus": "F"})
    total = read_delta(spark, root).agg(
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
    "q_deltalog_cdc",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 2000
    ),
    v2 AS (
      SELECT o_orderkey, o_orderstatus FROM orders
      WHERE o_orderkey < 2000 AND o_orderstatus <> 'F'
    ),
    changes AS (
      SELECT *, 'insert' AS _change_type FROM (
        SELECT * FROM v2 EXCEPT ALL SELECT * FROM v1)
      UNION ALL
      SELECT *, 'delete' AS _change_type FROM (
        SELECT * FROM v1 EXCEPT ALL SELECT * FROM v2)
    )
    SELECT _change_type, COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM changes GROUP BY _change_type
    """,
)
def q_deltalog_cdc(spark, sf_dir):
    """Change data feed across Delta versions: create + append build
    v0..v1, a row-level delete makes v2, and read_delta_changes
    diffs the snapshots as multisets — independent of which files the
    delete rewrote, matching the relational diff the oracle computes
    (same contract as planktable's q_table_cdc)."""
    from plankton_spark.sources.delta_log import (
        DeltaLogWriter,
        read_delta_changes,
    )

    root = _scratch(sf_dir, "delta_cdc")
    shutil.rmtree(root, ignore_errors=True)
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    w = DeltaLogWriter(spark, root)
    w.create(o.where(F.col("o_orderkey") < 1000))
    w.append(o.where((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000)))
    v2 = w.delete_where(F.col("o_orderstatus") == "F")
    return (
        read_delta_changes(spark, root, 1, v2)
        .groupBy("_change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
    )


@query(
    "q_deltalog_dv",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS price_sum
    FROM orders
    WHERE o_orderkey < 1500 AND o_orderkey % 7 <> 0
    """,
)
def q_deltalog_dv(spark, sf_dir):
    """Deletion-vector reads as a query: a foreign-style Delta table
    (minReaderVersion 3, readerFeatures ["deletionVectors"]) whose two
    data files carry DVs deleting the rows with o_orderkey % 7 == 0 by
    ROW INDEX (the spec's RoaringBitmapArray, one on-disk uuid DV file
    and one inline Base85 DV). read_delta must drop exactly those rows
    via the _metadata.row_index anti-join; the oracle re-derives the
    survivors relationally, so a codec/offset/anti-join bug fails the
    value hash."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from plankton_spark.sources import deletion_vectors as dvmod

    root = _scratch(sf_dir, "delta_dv")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "_delta_log"))
    o = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1500)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
        .toPandas()
    )
    schema_str = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "o_orderkey", "type": "long", "nullable": True, "metadata": {}},
                {"name": "o_orderstatus", "type": "string", "nullable": True, "metadata": {}},
                {"name": "o_totalprice", "type": "double", "nullable": True, "metadata": {}},
            ],
        }
    )
    actions = [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": ["deletionVectors"],
            }
        },
        {
            "metaData": {
                "id": "delta-dv-query",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_str,
                "partitionColumns": [],
                "configuration": {},
            }
        },
    ]
    halves = [o[o.o_orderkey < 750], o[o.o_orderkey >= 750]]
    for i, pdf in enumerate(halves):
        rel = f"part-{i}.parquet"
        pq.write_table(
            pa.Table.from_pandas(pdf.reset_index(drop=True), preserve_index=False),
            os.path.join(root, rel),
        )
        deleted_pos = [
            j for j, k in enumerate(pdf.o_orderkey.tolist()) if k % 7 == 0
        ]
        # one on-disk uuid DV, one inline — both spec encodings live
        desc = (
            dvmod.write_dv_file(root, deleted_pos)
            if i == 0
            else dvmod.inline_dv_descriptor(deleted_pos)
        )
        actions.append(
            {
                "add": {
                    "path": rel,
                    "partitionValues": {},
                    "size": os.path.getsize(os.path.join(root, rel)),
                    "modificationTime": 0,
                    "dataChange": True,
                    "deletionVector": desc,
                }
            }
        )
    _commit(root, 0, actions)
    return read_delta(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 4
        ).alias("price_sum"),
    )


@query(
    "q_deltalog_dv_delete",
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
def q_deltalog_dv_delete(spark, sf_dir):
    """DV-WRITING row-level delete as a query: the engine's own
    DeltaLogWriter.delete_where_dv marks deleted row indexes in
    per-file deletion vectors (O(deleted rows) of roaring bitmap —
    no data file is rewritten; the writer upgrades the protocol to
    the deletionVectors feature in the same commit) and the DV-aware
    read subtracts them. Oracle re-derives the survivors
    relationally."""
    from plankton_spark.sources.delta_log import DeltaLogWriter

    root = _scratch(sf_dir, "delta_dv_delete")
    shutil.rmtree(root, ignore_errors=True)
    o = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    w = DeltaLogWriter(spark, root)
    w.create(o)
    w.delete_where_dv(
        (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 3 == 0)
    )
    return read_delta(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 4
        ).alias("price_sum"),
    )


@query(
    "q_deltalog_v2checkpoint",
    oracle="""
    WITH t AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey < 2000
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS price_sum
    FROM t
    """,
)
def q_deltalog_v2checkpoint(spark, sf_dir):
    """V2-checkpoint write→read roundtrip, fully compacted: CREATE +
    APPEND through the engine's writer, protocol upgraded to the
    v2Checkpoint reader feature by a JSON commit, the log compacted
    into a `<v>.checkpoint.<uniqueId>.parquet` whose add actions live
    in a `_delta_log/_sidecars/` parquet, and every JSON commit
    DELETED — the read below replays from the v2 checkpoint alone.
    At 100 TB checkpoint compaction is what keeps log replay O(live
    files) instead of O(commit history); the sidecar layout is how
    engines shard that checkpoint."""
    import os as _os

    from plankton_spark.sources.delta_log import (
        DeltaLog,
        DeltaLogWriter,
        read_delta,
        write_delta_checkpoint,
    )

    root = _scratch(sf_dir, "delta_v2cp")
    shutil.rmtree(root, ignore_errors=True)
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    w = DeltaLogWriter(spark, root)
    w.create(o.where(F.col("o_orderkey") < 1000))
    w.append(o.where((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000)))
    log_dir = _os.path.join(root, "_delta_log")
    v = DeltaLog(root).latest_version() + 1
    with open(_os.path.join(log_dir, f"{v:020d}.json"), "w") as fh:
        fh.write(
            json.dumps(
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": ["v2Checkpoint"],
                        "writerFeatures": ["v2Checkpoint"],
                    }
                }
            )
            + "\n"
        )
    write_delta_checkpoint(root, style="v2")
    for f in _os.listdir(log_dir):
        if f.endswith(".json") and f.split(".")[0].isdigit():
            _os.remove(_os.path.join(log_dir, f))
    back = read_delta(spark, root)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 4
        ).alias("price_sum"),
    )


@query(
    "q_deltalog_dropcol",
    oracle="""
    WITH t AS (
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 1000
      UNION ALL
      SELECT o_orderkey, o_orderstatus FROM orders
      WHERE o_orderkey >= 1000 AND o_orderkey < 1500
    )
    SELECT o_orderstatus, COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM t GROUP BY o_orderstatus
    """,
)
def q_deltalog_dropcol(spark, sf_dir):
    """Metadata-only DROP COLUMN via column mapping: a 3-column table
    drops o_totalprice without rewriting a byte (the column's data
    stays in the old files, unreferenced), then an append lands with
    the narrowed schema and the read spans both file generations.
    Dropping a petabyte column at 100 TB is one commit."""
    from plankton_spark.sources.delta_log import DeltaLogWriter, read_delta

    root = _scratch(sf_dir, "delta_dropcol")
    shutil.rmtree(root, ignore_errors=True)
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    w = DeltaLogWriter(spark, root)
    w.create(o.where(F.col("o_orderkey") < 1000))
    w.drop_column("o_totalprice")
    w.append(
        o.select("o_orderkey", "o_orderstatus").where(
            (F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 1500)
        )
    )
    back = read_delta(spark, root)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    )


@query(
    "q_deltalog_rowtracking",
    oracle="""
    WITH base AS (
      SELECT o_orderkey,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
      FROM orders WHERE o_orderkey < 1500
    )
    SELECT CAST(CASE WHEN o_orderkey < 750 THEN 0 ELSE 1 END AS BIGINT)
             AS commit_ver,
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
def q_deltalog_rowtracking(spark, sf_dir):
    """Delta ROW TRACKING as a query — the cross-format mirror of
    q_iceberg_rowlineage (IDENTICAL oracle shape, seq → commit
    version): create a row-tracked table from orders < 750 (one
    sorted file, baseRowId 0 at commit 0), append the 750..1499 slice
    (one sorted file, ids continuing at commit 1), DV-delete the
    %7 rows (the add is COPIED, so baseRowId/defaultRowCommitVersion
    survive), then read with_row_ids=True. _row_id = baseRowId +
    physical position must be STABLE across the DV delete — deleted
    ids vanish, survivors keep theirs — and _row_commit_version is
    the file's first-added commit. A chain/off-by-one/copy bug on
    either format breaks ITS query while the other still passes, so
    the two row-lineage paths stay differential-testable. Row ids
    live only in the log: the per-file map is broadcast onto the
    scan, no extra data pass (sources/delta_log.py:_row_tracked_scan)."""
    from plankton_spark.sources.delta_log import DeltaLogWriter

    root = _scratch(sf_dir, "delta_rowtracking")
    shutil.rmtree(root, ignore_errors=True)
    o = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1500)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    first = (
        o.where(F.col("o_orderkey") < 750)
        .repartition(1)
        .sortWithinPartitions("o_orderkey")
    )
    second = (
        o.where(F.col("o_orderkey") >= 750)
        .repartition(1)
        .sortWithinPartitions("o_orderkey")
    )
    w = DeltaLogWriter(spark, root)
    w.create(first, row_tracking=True)
    w.append(second)
    w.delete_where_dv(F.col("o_orderkey") % 7 == 0)
    t = read_delta(spark, root, with_row_ids=True)
    return t.groupBy(F.col("_row_commit_version").alias("commit_ver")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("_row_id").cast("long").alias("rid_sum"),
        F.min("_row_id").alias("rid_min"),
        F.max("_row_id").alias("rid_max"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    )


@query(
    "q_deltalog_rowtracking_compact",
    oracle="""
    WITH base AS (
      SELECT o_orderkey,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
      FROM orders WHERE o_orderkey < 1500
    )
    SELECT CAST(CASE WHEN o_orderkey < 750 THEN 0 ELSE 1 END AS BIGINT)
             AS commit_ver,
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
def q_deltalog_rowtracking_compact(spark, sf_dir):
    """Row tracking ACROSS A REWRITE (round-10 verdict #1, Delta
    side): the q_deltalog_rowtracking lifecycle (two id-chained
    commits, DV-delete of the %7 rows) followed by OPTIMIZE — which
    per the spec's materialized-column rule writes each survivor's
    _row_id / _row_commit_version into the rewritten file under the
    configuration-declared hidden column names, purges the DVs, and
    assigns the re-adds FRESH baseRowIds (hwm advances in the same
    commit). The post-compaction read must group IDENTICALLY to the
    pre-compaction one — the oracle is VERBATIM
    q_deltalog_rowtracking's, so a dropped materialization, a
    coalesce ordering bug, or a commit-version flattened to the
    rewrite's version is a hash mismatch. Cross-format mirror of
    q_iceberg_rowlineage_compact (sources/delta_log.py optimize /
    _row_tracked_scan)."""
    from plankton_spark.sources.delta_log import DeltaLogWriter

    root = _scratch(sf_dir, "delta_rowtracking_compact")
    shutil.rmtree(root, ignore_errors=True)
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
    t = read_delta(spark, root, with_row_ids=True)
    return t.groupBy(F.col("_row_commit_version").alias("commit_ver")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("_row_id").cast("long").alias("rid_sum"),
        F.min("_row_id").alias("rid_min"),
        F.max("_row_id").alias("rid_max"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    )


@query(
    "q_deltalog_cdf",
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS k, o_custkey AS c FROM orders
      WHERE o_orderkey < 1300
    ),
    state3 AS (
      SELECT k, c + CASE WHEN k % 10 = 3 THEN 1000000 ELSE 0 END AS c
      FROM o WHERE k < 1200 AND k % 10 <> 7
    ),
    src AS (SELECT k, c + 5000000 AS c FROM o WHERE k >= 1150),
    changes AS (
      SELECT CAST(0 AS BIGINT) AS commit_ver, 'insert' AS change_type,
             k, c FROM o WHERE k < 600
      UNION ALL
      SELECT 1, 'insert', k, c FROM o WHERE k >= 600 AND k < 1200
      UNION ALL
      SELECT 2, 'update_preimage', k, c
      FROM o WHERE k < 1200 AND k % 10 = 3
      UNION ALL
      SELECT 2, 'update_postimage', k, c + 1000000
      FROM o WHERE k < 1200 AND k % 10 = 3
      UNION ALL
      SELECT 3, 'delete', k, c FROM o WHERE k < 1200 AND k % 10 = 7
      UNION ALL
      SELECT 4, 'update_preimage', s.k, s.c
      FROM state3 s JOIN src USING (k)
      UNION ALL
      SELECT 4, 'update_postimage', src.k, src.c
      FROM src JOIN state3 USING (k)
      UNION ALL
      SELECT 4, 'insert', src.k, src.c
      FROM src LEFT JOIN state3 USING (k) WHERE state3.k IS NULL
    )
    SELECT commit_ver, change_type,
           COUNT(*) AS n_rows,
           CAST(SUM(k) AS BIGINT) AS key_sum,
           CAST(SUM(c) AS BIGINT) AS cust_sum
    FROM changes GROUP BY commit_ver, change_type
    """,
)
def q_deltalog_cdf(spark, sf_dir):
    """Delta CHANGE DATA FEED (round-10 verdict #4) — the
    `delta.enableChangeDataFeed` / `_change_data` folder protocol,
    write AND read: a CDF-enabled table runs create → append →
    UPDATE → DELETE → MERGE; the rewriting commits emit `cdc`
    actions whose parquet carries each change row with its
    `_change_type`, and read_delta_cdf replays [v0, v4] — cdc files
    verbatim where present, add/remove-derived inserts/deletes
    where not (the spec's reader algorithm). The per-row UPDATE
    attribution (preimage/postimage pairs, including a MERGE
    preimage that must reflect the EARLIER update's value) is
    exactly what the snapshot-diff CDC (q_deltalog_cdc) cannot
    express — and the oracle recomputes every commit's change set
    relationally, so a misattributed row, a stale preimage, or an
    insert/update misclassification in MERGE is a hash mismatch.
    Foreign readers consume the same files: plain parquet under
    _change_data/ named by spec-shaped cdc actions. All change
    scans are native parquet unions — no collect, no Python row
    path (sources/delta_log.py:read_delta_cdf)."""
    from plankton_spark.sources.delta_log import (
        DeltaLogWriter,
        read_delta_cdf,
    )

    root = _scratch(sf_dir, "deltalog_cdf")
    shutil.rmtree(root, ignore_errors=True)
    o = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1300)
        .select("o_orderkey", "o_custkey")
    )
    k = F.col("o_orderkey")
    w = DeltaLogWriter(spark, root)
    w.create(o.where(k < 600).repartition(1), change_data_feed=True)
    w.append(o.where((k >= 600) & (k < 1200)).repartition(1))
    w.update_where(
        {"o_custkey": F.col("o_custkey") + 1000000},
        F.col("o_orderkey") % 10 == 3,
    )
    w.delete_where(F.col("o_orderkey") % 10 == 7)
    src = o.where(k >= 1150).select(
        "o_orderkey", (F.col("o_custkey") + 5000000).alias("o_custkey")
    )
    w.merge(src, "o_orderkey")
    cdf = read_delta_cdf(spark, root, 0, 4)
    return cdf.groupBy(
        F.col("_commit_version").cast("long").alias("commit_ver"),
        F.col("_change_type").alias("change_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum("o_custkey").cast("long").alias("cust_sum"),
    )


@query(
    "q_cdf_apply",
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS k, o_custkey AS c FROM orders
      WHERE o_orderkey < 1300
    ),
    state AS (  -- the source table's final content, recomputed:
      -- keys < 1150 survive the delete with the v2 update applied;
      -- every key >= 1150 ends at the MERGE source's value (updates
      -- REPLACE the earlier +1e6, deletions re-insert, 1200+ insert)
      SELECT k, c + CASE WHEN k % 10 = 3 THEN 1000000 ELSE 0 END AS c
      FROM o WHERE k < 1150 AND k % 10 <> 7
      UNION ALL
      SELECT k, c + 5000000 FROM o WHERE k >= 1150
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(k) AS BIGINT) AS key_sum,
           CAST(SUM(c) AS BIGINT) AS cust_sum
    FROM state
    """,
)
def q_cdf_apply(spark, sf_dir):
    """The CDC CONSUMER half: materialize a replica's state from the
    change feed ALONE (operators/cdc.py:cdf_last_image — one key
    shuffle over the whole feed, last change wins, deletes drop out;
    never a per-commit replay loop) and prove it equals the source
    table. The lifecycle is q_deltalog_cdf's (create → append →
    UPDATE → DELETE → MERGE with re-inserts of previously-deleted
    keys — the case that breaks naive 'apply inserts then deletes'
    consumers, since the SAME key dies at v3 and returns at v4); the
    oracle recomputes the source's final content relationally, so a
    mis-ordered change, a resurrected delete, or a lost re-insert is
    a hash mismatch. The replica equality is additionally pinned
    row-for-row in tests/test_cdf.py."""
    from plankton_spark.operators import cdf_last_image
    from plankton_spark.sources.delta_log import (
        DeltaLogWriter,
        read_delta_cdf,
    )

    root = _scratch(sf_dir, "cdf_apply")
    shutil.rmtree(root, ignore_errors=True)
    o = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1300)
        .select("o_orderkey", "o_custkey")
    )
    k = F.col("o_orderkey")
    w = DeltaLogWriter(spark, root)
    w.create(o.where(k < 600).repartition(1), change_data_feed=True)
    w.append(o.where((k >= 600) & (k < 1200)).repartition(1))
    w.update_where(
        {"o_custkey": F.col("o_custkey") + 1000000},
        F.col("o_orderkey") % 10 == 3,
    )
    w.delete_where(F.col("o_orderkey") % 10 == 7)
    src = o.where(k >= 1150).select(
        "o_orderkey", (F.col("o_custkey") + 5000000).alias("o_custkey")
    )
    w.merge(src, "o_orderkey")
    feed = read_delta_cdf(spark, root, 0, 4)
    replica = cdf_last_image(feed, "o_orderkey")
    return replica.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum("o_custkey").cast("long").alias("cust_sum"),
    )


@query(
    "q_deltalog_defaults",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 1000
    ),
    defaulted AS (
      SELECT o_orderkey, 'N' AS o_orderstatus FROM orders
      WHERE o_orderkey >= 1000 AND o_orderkey < 1300
    ),
    explicit_null AS (
      SELECT o_orderkey, CAST(NULL AS VARCHAR) AS o_orderstatus FROM orders
      WHERE o_orderkey >= 1300 AND o_orderkey < 1400
    ),
    final AS (
      SELECT * FROM base
      UNION ALL SELECT * FROM defaulted
      UNION ALL SELECT * FROM explicit_null
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CASE WHEN o_orderstatus = 'N' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_defaulted,
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_explicit_null
    FROM final
    """,
)
def q_deltalog_defaults(spark, sf_dir):
    """Delta COLUMN DEFAULTS (the allowColumnDefaults writer
    feature): ALTER sets CURRENT_DEFAULT ('N') on an EXISTING column
    (the spec forbids ADD COLUMN with a default — old files would
    need a read-time fill the protocol does not define) and raises
    the protocol to feature form. A subsequent append that OMITS the
    column materializes the default at staging time; an append
    supplying EXPLICIT NULLs keeps them (defaults are fallbacks for
    missing columns, not invariants); pre-ALTER rows are untouched.
    The oracle re-derives all three populations relationally — a
    default leaking into explicit NULLs, or vice versa, is a hash
    mismatch."""
    from plankton_spark.sources.delta_log import DeltaLogWriter, read_delta

    root = _scratch(sf_dir, "delta_defaults")
    shutil.rmtree(root, ignore_errors=True)
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    k = F.col("o_orderkey")
    w = DeltaLogWriter(spark, root)
    w.create(o.where(k < 1000))
    w.set_column_default("o_orderstatus", "'N'")
    w.append(
        o.where((k >= 1000) & (k < 1300)).select("o_orderkey").coalesce(1)
    )
    w.append(
        o.where((k >= 1300) & (k < 1400))
        .select("o_orderkey", F.lit(None).cast("string").alias("o_orderstatus"))
        .coalesce(1)
    )
    return read_delta(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum(F.when(F.col("o_orderstatus") == "N", 1).otherwise(0))
        .cast("long").alias("n_defaulted"),
        F.count_if(F.col("o_orderstatus").isNull()).alias("n_explicit_null"),
    )
