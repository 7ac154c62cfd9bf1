"""Declared queries over Apache Hudi tables
(plankton_spark/sources/hudi_meta.py): COPY_ON_WRITE snapshot read
with partition pruning, time travel over the timeline, the
incremental (commit-time-range) query, the in-place migrations to
Delta AND Iceberg, and the MERGE_ON_READ log-merge read + compaction
(sources/hudi_log.py) — each
shadow-oracled by re-deriving the expected snapshot from the source
fixtures in plain SQL, so a wrong file-slice resolution, a broken
copy-forward of ``_hoodie_commit_time``, or a lossy conversion all
fail the value hash."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from plankton_spark.io import read_table
from plankton_spark.queries.scans import _scratch
from plankton_spark.registry import query


def _fresh(sf_dir: str, name: str) -> str:
    path = _scratch(sf_dir, name)
    shutil.rmtree(path, ignore_errors=True)
    return path


def _counts(*frames) -> list[int]:
    """Row counts of N same-lifecycle frames in ONE action (round 14):
    each subplan projects a frame tag, the union groups by it. Every
    subplan still computes exactly as its own .count() would — this
    removes N-1 job submissions of fixed cost, not any work. Frames
    absent from the union result (empty) count 0."""
    tagged = None
    for i, f in enumerate(frames):
        t = f.select(F.lit(i).alias("__t"))
        tagged = t if tagged is None else tagged.unionByName(t)
    got = {r["__t"]: r["count"] for r in tagged.groupBy("__t").count().collect()}
    return [int(got.get(i, 0)) for i in range(len(frames))]


def _multiset_equal(a, b) -> bool:
    """Exact multiset equality of two same-schema frames in ONE action
    (optimization round 14, guide §1.2): per-side group counts,
    null-safe full-outer join, any count mismatch is a difference.
    Replaces `a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()`,
    which ran TWO actions and evaluated each side's plan TWICE — for
    the RLI differentials each side is a full MOR merged read, so this
    halves the verification compute and the action count. Boolean
    result is identical (exceptAll-empty both ways <=> equal
    multisets <=> per-group counts equal)."""
    cols = a.columns
    ac = a.groupBy(*cols).agg(F.count(F.lit(1)).alias("__na"))
    bc = b.groupBy(*cols).agg(F.count(F.lit(1)).alias("__nb"))
    cond = None
    for c in cols:
        e = ac[c].eqNullSafe(bc[c])
        cond = e if cond is None else (cond & e)
    diff = ac.join(bc, cond, "full_outer").where(
        F.coalesce(F.col("__na"), F.lit(0))
        != F.coalesce(F.col("__nb"), F.lit(0))
    )
    return not diff.take(1)


def _orders(spark, sf_dir):
    return read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@query(
    "q_hudi_read",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey < 1500
    ),
    upd AS (
      SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice FROM base
      WHERE o_orderkey < 300
    ),
    ins AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey >= 1500 AND o_orderkey < 1800
    ),
    final AS (
      SELECT * FROM base WHERE o_orderkey >= 300
      UNION ALL SELECT * FROM upd
      UNION ALL SELECT * FROM ins
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS price_sum,
           CAST((SELECT COUNT(*) FROM final WHERE o_orderstatus = 'F')
                AS BIGINT) AS n_f_pruned
    FROM final
    """,
)
def q_hudi_read(spark, sf_dir):
    """Hudi COPY_ON_WRITE snapshot read: CREATE (orders < 1500,
    partitioned by o_orderstatus, record key o_orderkey), then one
    UPSERT that both UPDATES existing records (keys < 300 → status
    'U'; COW rewrites only the touched file groups) and INSERTS new
    ones (1500..1799 → fresh file groups). The snapshot read resolves
    the latest file slice per group from the timeline and scans them
    as one multi-path parquet read; the 'F' count reads only that
    partition's slices via the FILE-LIST prune (updated rows stay in
    their original partition — the global-index default).

    Note on the update: a Hudi upsert keeps an updated record in the
    file group the index found it in, so the 'U' rows physically live
    in their ORIGINAL status partitions; the pruned 'F' count applies
    a residual column filter on top of the file-list prune to stay
    exact (see inline comment)."""
    from plankton_spark.sources.hudi_meta import HudiWriter, read_hudi

    root = _fresh(sf_dir, "hudi_read")
    o = _orders(spark, sf_dir)
    w = HudiWriter(
        spark, root, record_key="o_orderkey", partition_field="o_orderstatus"
    )
    w.create(o.where(F.col("o_orderkey") < 1500))
    updates = (
        o.where(F.col("o_orderkey") < 300)
        .withColumn("o_orderstatus", F.lit("U"))
    )
    inserts = o.where((F.col("o_orderkey") >= 1500) & (F.col("o_orderkey") < 1800))
    w.upsert(updates.unionByName(inserts))
    # FILE-LIST partition prune: only the 'F' partition's slices are
    # scanned. Updated rows stay in their CREATE-time partition (the
    # global-index default), so F-created rows now carrying status 'U'
    # live here too — the residual column filter drops them, and no
    # status-'F' row can live outside this partition, so the pruned
    # count equals the logical o_orderstatus='F' count.
    n_f = (
        read_hudi(spark, root, partition_path="F")
        .where(F.col("o_orderstatus") == "F")
        .count()
    )
    return read_hudi(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 4
        ).alias("price_sum"),
    ).withColumn("n_f_pruned", F.lit(n_f).cast("long"))


@query(
    "q_hudi_timetravel",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 1000
    ),
    v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey < 200 THEN 'U' ELSE o_orderstatus END
               AS o_orderstatus
      FROM orders WHERE o_orderkey < 1000
      UNION ALL
      SELECT o_orderkey, o_orderstatus FROM orders
      WHERE o_orderkey >= 1000 AND o_orderkey < 1200
    ),
    v3 AS (
      SELECT * FROM v2 WHERE o_orderkey % 7 <> 0
    )
    SELECT 1 AS version, COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CASE WHEN o_orderstatus = 'U' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_updated
    FROM v1
    UNION ALL
    SELECT 2, COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderstatus = 'U' THEN 1 ELSE 0 END) AS BIGINT)
    FROM v2
    UNION ALL
    SELECT 3, COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderstatus = 'U' THEN 1 ELSE 0 END) AS BIGINT)
    FROM v3
    """,
)
def q_hudi_timetravel(spark, sf_dir):
    """Hudi time travel: CREATE (keys < 1000), UPSERT (update keys
    < 200 to status 'U' + insert 1000..1199), DELETE (keys divisible
    by 7), then read the snapshot AS OF each of the three completed
    instants. Each read resolves latest-slice-per-group at that
    instant — the upsert's rewritten groups and the delete's
    empty-group advance must not leak backwards (COW snapshot
    isolation: superseded slices stay on disk untouched)."""
    from plankton_spark.sources.hudi_meta import HudiWriter, read_hudi

    root = _fresh(sf_dir, "hudi_tt")
    o = _orders(spark, sf_dir).select("o_orderkey", "o_orderstatus")
    w = HudiWriter(spark, root, record_key="o_orderkey")
    i1 = w.create(o.where(F.col("o_orderkey") < 1000))
    updates = (
        o.where(F.col("o_orderkey") < 200).withColumn("o_orderstatus", F.lit("U"))
    )
    inserts = o.where((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 1200))
    i2 = w.upsert(updates.unionByName(inserts))
    all_keys = o.where(F.col("o_orderkey") < 1200)
    i3 = w.delete_keys(all_keys.where(F.col("o_orderkey") % 7 == 0))
    frames = [
        read_hudi(spark, root, as_of=inst)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            F.sum(
                F.when(F.col("o_orderstatus") == "U", 1).otherwise(0)
            ).cast("long").alias("n_updated"),
        )
        .select(F.lit(v).alias("version"), "n_rows", "key_sum", "n_updated")
        for v, inst in ((1, i1), (2, i2), (3, i3))
    ]
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


@query(
    "q_hudi_incremental",
    oracle="""
    WITH upd AS (
      SELECT o_orderkey, 'U' AS o_orderstatus FROM orders
      WHERE o_orderkey < 200
    ),
    ins AS (
      SELECT o_orderkey, o_orderstatus FROM orders
      WHERE o_orderkey >= 1000 AND o_orderkey < 1200
    ),
    chg AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CASE WHEN o_orderstatus = 'U' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_updated
    FROM chg WHERE o_orderkey % 7 <> 0
    """,
)
def q_hudi_incremental(spark, sf_dir):
    """Hudi INCREMENTAL query (the format's signature read): records
    whose ``_hoodie_commit_time`` ∈ (create, delete] — i.e. written by
    the upsert and still live at the end instant. Only slices WRITTEN
    in the range are scanned (file-level skip); the per-record filter
    is exact because COW copies carry their original commit time
    forward. The delete commit contributes NO records (COW deletes
    write removals, not rows — the documented incremental-read
    semantics without a change feed), but it does hide the deleted
    keys from the end-instant slices, which the oracle mirrors with
    the %7 filter."""
    from plankton_spark.sources.hudi_meta import HudiWriter, read_hudi

    root = _fresh(sf_dir, "hudi_incr")
    o = _orders(spark, sf_dir).select("o_orderkey", "o_orderstatus")
    w = HudiWriter(spark, root, record_key="o_orderkey")
    i1 = w.create(o.where(F.col("o_orderkey") < 1000))
    updates = (
        o.where(F.col("o_orderkey") < 200).withColumn("o_orderstatus", F.lit("U"))
    )
    inserts = o.where((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 1200))
    w.upsert(updates.unionByName(inserts))
    all_keys = o.where(F.col("o_orderkey") < 1200)
    i3 = w.delete_keys(all_keys.where(F.col("o_orderkey") % 7 == 0))
    return read_hudi(spark, root, incremental=(i1, i3)).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum(
            F.when(F.col("o_orderstatus") == "U", 1).otherwise(0)
        ).cast("long").alias("n_updated"),
    )


@query(
    "q_hudi_convert",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 1000
    ),
    v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey < 200 THEN 'U' ELSE o_orderstatus END
               AS o_orderstatus
      FROM base
      UNION ALL
      SELECT o_orderkey, o_orderstatus FROM orders
      WHERE o_orderkey >= 1000 AND o_orderkey < 1200
    ),
    appended AS (
      SELECT o_orderkey, o_orderstatus FROM orders
      WHERE o_orderkey >= 1200 AND o_orderkey < 1400
    ),
    final AS (SELECT * FROM v2 UNION ALL SELECT * FROM appended)
    SELECT 'delta' AS chain, COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CASE WHEN o_orderstatus = 'U' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_updated
    FROM final
    UNION ALL
    SELECT 'iceberg', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderstatus = 'U' THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM v2
    """,
)
def q_hudi_convert(spark, sf_dir):
    """Hudi → Delta AND Hudi → Iceberg in-place migration (both XTable
    directions, closing the Hudi arm of the matrix): one Hudi COW
    table that has already seen an UPSERT converts to BOTH formats on
    the SAME directory (.hoodie, _delta_log and metadata/ are disjoint
    — the XTable multi-target layout); each converter inventories the
    LATEST FILE SLICES from the timeline (not a directory walk), so
    the upsert's superseded slices are invisible; the five _hoodie_*
    meta columns are dropped from both target schemas (file content
    keeps them, scans prune them). The Delta side then takes an
    ordinary engine append — proving first-class writability — while
    the Iceberg snapshot, taken BEFORE the append, keeps the
    pre-append contents (the two chains legitimately diverge once a
    target-side write lands; per-target reads stay snapshot-exact)."""
    from plankton_spark.sources.delta_log import DeltaLogWriter, read_delta
    from plankton_spark.sources.hudi_meta import HudiWriter
    from plankton_spark.sources import delta_log, hudi_meta, iceberg_meta
    from plankton_spark.sources.iceberg_meta import read_iceberg

    root = _fresh(sf_dir, "hudi_convert")
    o = _orders(spark, sf_dir).select("o_orderkey", "o_orderstatus")
    w = HudiWriter(spark, root, record_key="o_orderkey")
    w.create(o.where(F.col("o_orderkey") < 1000))
    updates = (
        o.where(F.col("o_orderkey") < 200).withColumn("o_orderstatus", F.lit("U"))
    )
    inserts = o.where((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 1200))
    w.upsert(updates.unionByName(inserts))
    iceberg_meta.author(spark, root, hudi_meta.inventory)
    delta_log.author(spark, root, hudi_meta.inventory)
    dw = DeltaLogWriter(spark, root)
    dw.append(
        o.where((F.col("o_orderkey") >= 1200) & (F.col("o_orderkey") < 1400))
        .coalesce(1)
    )

    def _agg(df, chain):
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            F.sum(
                F.when(F.col("o_orderstatus") == "U", 1).otherwise(0)
            ).cast("long").alias("n_updated"),
        ).select(F.lit(chain).alias("chain"), "n_rows", "key_sum", "n_updated")

    return _agg(read_delta(spark, root), "delta").unionByName(
        _agg(
            read_iceberg(spark, root).select("o_orderkey", "o_orderstatus"),
            "iceberg",
        )
    )


@query(
    "q_hudi_mor_read",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 1000
    ),
    ins AS (
      SELECT o_orderkey, o_orderstatus FROM orders
      WHERE o_orderkey >= 1000 AND o_orderkey < 1200
    ),
    merged AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey < 100 THEN 'V'
                  WHEN o_orderkey < 200 THEN 'U'
                  ELSE o_orderstatus END AS o_orderstatus
      FROM base
      UNION ALL SELECT * FROM ins
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CASE WHEN o_orderstatus = 'U' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_u,
           CAST(SUM(CASE WHEN o_orderstatus = 'V' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_v
    FROM merged
    """,
)
def q_hudi_mor_read(spark, sf_dir):
    """Hudi MERGE_ON_READ snapshot (sources/hudi_log.py): updates land
    as LOG FILES (avro data blocks, one per touched file group per
    deltacommit — no base rewrite, the ingest-latency trade MOR exists
    for), inserts as base files; the read merges base + logs with ONE
    record-key window where the LATEST version wins. Two overlapping
    upserts pin the precedence chain: keys < 100 were updated twice
    ('U' at the first deltacommit, 'V' at the second) and must read
    back as their SECOND update; log files parse on executors
    (mapInPandas, one task per log file), never the driver. The
    oracle re-derives the latest-wins merge relationally."""
    from plankton_spark.sources.hudi_meta import HudiWriter, read_hudi

    root = _fresh(sf_dir, "hudi_mor")
    o = _orders(spark, sf_dir).select("o_orderkey", "o_orderstatus")
    k = F.col("o_orderkey")
    w = HudiWriter(
        spark, root, record_key="o_orderkey", table_type="MERGE_ON_READ"
    )
    w.create(o.where(k < 1000))
    upd1 = o.where(k < 200).withColumn("o_orderstatus", F.lit("U"))
    ins = o.where((k >= 1000) & (k < 1200))
    w.upsert(upd1.unionByName(ins))
    w.upsert(o.where(k < 100).withColumn("o_orderstatus", F.lit("V")))
    return read_hudi(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum(F.when(F.col("o_orderstatus") == "U", 1).otherwise(0))
        .cast("long").alias("n_u"),
        F.sum(F.when(F.col("o_orderstatus") == "V", 1).otherwise(0))
        .cast("long").alias("n_v"),
    )


@query(
    "q_hudi_mor_compact",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 1000
    ),
    ins AS (
      SELECT o_orderkey, o_orderstatus FROM orders
      WHERE o_orderkey >= 1000 AND o_orderkey < 1200
    ),
    merged AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey < 100 THEN 'W'
                  WHEN o_orderkey < 200 THEN 'U'
                  ELSE o_orderstatus END AS o_orderstatus
      FROM base
      UNION ALL SELECT * FROM ins
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CASE WHEN o_orderstatus = 'U' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_u,
           CAST(SUM(CASE WHEN o_orderstatus = 'W' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_w,
           CAST(0 AS BIGINT) AS n_log_slices_after_compact
    FROM merged
    """,
)
def q_hudi_mor_compact(spark, sf_dir):
    """MOR COMPACTION: after two deltacommits of log updates, compact
    folds each log-carrying file group's MERGED rows into a fresh
    base file under a COMMIT instant; the old logs detach (their base
    instant no longer matches the slice) without being touched, the
    log-slice count drops to zero (emitted and oracle-pinned), and a
    POST-compaction upsert ('W' on keys < 100) starts a new log chain
    against the new base — read results must be identical to the
    never-compacted history. Records keep the commit metadata of
    their latest pre-compaction version, so incremental consumers see
    no phantom changes from the layout-only commit."""
    from plankton_spark.sources.hudi_meta import (
        HudiTable,
        HudiWriter,
        read_hudi,
    )

    root = _fresh(sf_dir, "hudi_mor_compact")
    o = _orders(spark, sf_dir).select("o_orderkey", "o_orderstatus")
    k = F.col("o_orderkey")
    w = HudiWriter(
        spark, root, record_key="o_orderkey", table_type="MERGE_ON_READ"
    )
    w.create(o.where(k < 1000))
    upd1 = o.where(k < 200).withColumn("o_orderstatus", F.lit("U"))
    ins = o.where((k >= 1000) & (k < 1200))
    w.upsert(upd1.unionByName(ins))
    w.upsert(o.where(k < 100).withColumn("o_orderstatus", F.lit("V")))
    w.compact()
    n_logs = sum(
        len(lrs) for *_x, lrs in HudiTable(root).file_slices_with_logs()
    )
    w.upsert(o.where(k < 100).withColumn("o_orderstatus", F.lit("W")))
    return read_hudi(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum(F.when(F.col("o_orderstatus") == "U", 1).otherwise(0))
        .cast("long").alias("n_u"),
        F.sum(F.when(F.col("o_orderstatus") == "W", 1).otherwise(0))
        .cast("long").alias("n_w"),
    ).withColumn("n_log_slices_after_compact", F.lit(n_logs).cast("long"))


@query(
    "q_stream_hudi_incr",
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS k, o_orderstatus AS s FROM orders
      WHERE o_orderkey < 1200
    ),
    f1 AS (SELECT 1 AS seq, k, s FROM o WHERE k < 1000),
    f2 AS (
      SELECT 2, k, 'U' FROM o WHERE k < 200
      UNION ALL
      SELECT 2, k, s FROM o WHERE k >= 1000
    ),
    f3 AS (SELECT 3, k, 'V' FROM o WHERE k < 100),
    feed AS (
      SELECT * FROM f1 UNION ALL SELECT * FROM f2 UNION ALL SELECT * FROM f3
    )
    SELECT seq, COUNT(*) AS n_rows,
           CAST(SUM(k) AS BIGINT) AS key_sum,
           CAST(SUM(CASE WHEN s = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_u,
           CAST(SUM(CASE WHEN s = 'V' THEN 1 ELSE 0 END) AS BIGINT) AS n_v
    FROM feed GROUP BY seq
    """,
)
def q_stream_hudi_incr(spark, sf_dir):
    """The Hudi incremental feed as a REAL STREAMING source
    (format("hudiincr"), offsets = LAST-CONSUMED INSTANT TIME — the
    real Hudi incremental contract: resume from the first instant
    strictly greater, stable even if a foreign writer completes an
    out-of-order instant) over a
    MERGE_ON_READ table, with a mid-stream restart — the third leg
    next to q_stream_cdf and q_stream_iceberg_cdf: the create and the
    first upsert drain first; a second upsert AND a compaction land
    while the consumer is down; the resumed query must emit EXACTLY
    the down-time instants' records — the second upsert's log records
    (each log partition is one executor-side block parse) and NOTHING
    for the compaction (its base files carry only copies with older
    commit times, so the commit-time filter silences it — the
    layout-only contract, streaming edition) — and never replay the
    earlier instants. Per-record attribution folds by instant ordinal
    (a driver-literal instant→seq join; the silent compaction gets no
    seq row). Oracle recomputes the three emitting instants'
    write-sets relationally."""
    import uuid as _uuid

    from plankton_spark.sources.hudi_meta import (
        HudiWriter,
        incr_schema,
        register,
    )

    register(spark)
    root = _fresh(sf_dir, "stream_hudi_incr")
    sink = root + "_sink"
    ckpt = root + "_ckpt"
    shutil.rmtree(sink, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    o = _orders(spark, sf_dir).select("o_orderkey", "o_orderstatus")
    k = F.col("o_orderkey")
    w = HudiWriter(
        spark, root, record_key="o_orderkey", table_type="MERGE_ON_READ"
    )
    i1 = w.create(o.where(k < 1000))
    upd1 = o.where(k < 200).withColumn("o_orderstatus", F.lit("U"))
    ins = o.where((k >= 1000) & (k < 1200))
    i2 = w.upsert(upd1.unionByName(ins))

    # explicit schema (round 14): same bytes incr_schema/schema()
    # derive, supplied up front so load() skips the Python-runner
    # schema-probe round trip each drain otherwise pays
    feed_schema = incr_schema(root)

    def drain():
        q = (
            spark.readStream.format("hudiincr")
            .option("path", root)
            .schema(feed_schema)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .queryName(f"hincr_{_uuid.uuid4().hex[:8]}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()  # instants 1-2
    i3 = w.upsert(o.where(k < 100).withColumn("o_orderstatus", F.lit("V")))
    w.compact()  # must be SILENT in the feed
    drain()  # restart: instants 3-4 only
    seq_map = spark.createDataFrame(
        [(i1, 1), (i2, 2), (i3, 3)], "_hoodie_commit_time string, seq int"
    )
    feed = spark.read.parquet(sink)
    # LEFT join + coalesce(-1): a compaction leak (rows from the
    # unmapped fourth instant) would surface as a seq=-1 group and
    # hash-mismatch the oracle instead of being silently dropped
    return (
        feed.join(F.broadcast(seq_map), "_hoodie_commit_time", "left")
        .withColumn("seq", F.coalesce("seq", F.lit(-1)))
        .groupBy("seq")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            F.sum(F.when(F.col("o_orderstatus") == "U", 1).otherwise(0))
            .cast("long").alias("n_u"),
            F.sum(F.when(F.col("o_orderstatus") == "V", 1).otherwise(0))
            .cast("long").alias("n_v"),
        )
    )


@query(
    "q_hudi_convert_reverse",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 1200
    ),
    live AS (SELECT * FROM base WHERE o_orderkey % 10 <> 3)
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_f
    FROM live
    """,
)
def q_hudi_convert_reverse(spark, sf_dir):
    """Delta → Hudi in-place migration (XTable's Hudi-target
    direction, completing the Hudi matrix row both ways): a Delta
    table that has seen a DELETE rewrite converts by authoring a
    .hoodie timeline over its LIVE files in VIRTUAL-KEY mode
    (populate.meta.fields=false — foreign files carry no _hoodie_*
    columns, record identity is the declared key field, the published
    XTable behavior). The snapshot read goes through the normal
    latest-slice replay; the tombstoned pre-delete file is invisible
    because the Delta log (not a directory walk) picked the
    inventory. with_meta / incremental / engine writes refuse on
    virtual-key tables; partitioned and DV'd sources refuse
    conversion (no zero-rewrite representation)."""
    from plankton_spark.sources.delta_log import DeltaLogWriter
    from plankton_spark.sources.hudi_meta import read_hudi
    from plankton_spark.sources import delta_log, hudi_meta

    root = _fresh(sf_dir, "hudi_convert_reverse")
    o = _orders(spark, sf_dir).select("o_orderkey", "o_orderstatus")
    k = F.col("o_orderkey")
    w = DeltaLogWriter(spark, root)
    w.create(o.where(k < 1000).coalesce(1))
    w.append(o.where((k >= 1000) & (k < 1200)).coalesce(1))
    w.delete_where(k % 10 == 3)
    hudi_meta.author(spark, root, delta_log.inventory, record_key="o_orderkey")
    return read_hudi(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long").alias("n_f"),
    )


@query(
    "q_hudi_mor_delete",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 1000
    ),
    ins AS (
      SELECT o_orderkey, o_orderstatus FROM orders
      WHERE o_orderkey >= 1000 AND o_orderkey < 1200
    ),
    merged AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey < 200 THEN 'U' ELSE o_orderstatus END
               AS o_orderstatus
      FROM base
      UNION ALL SELECT * FROM ins
    ),
    survivors AS (SELECT * FROM merged WHERE o_orderkey % 9 <> 0)
    SELECT phase, COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CASE WHEN o_orderstatus = 'U' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_u,
           CAST(0 AS BIGINT) AS n_log_slices_after_compact
    FROM survivors, (SELECT 1 AS phase UNION ALL SELECT 2) phases
    GROUP BY phase
    """,
)
def q_hudi_mor_delete(spark, sf_dir):
    """Hudi MOR DELETE_BLOCK lifecycle (the round-11 verdict's top
    item): deletes append TOMBSTONE EVENTS to the touched file
    groups' logs under a deltacommit (hudi_log.py DELETE_BLOCK — no
    base rewrite, the streaming-upsert path real MOR pipelines
    delete through routinely); the snapshot read's latest-wins
    record-key window hides a key whose newest version is a delete —
    including update-then-delete chains where the deleted version
    itself lives in a log; COMPACTION folds the tombstones into
    fresh base files (a fully-emptied group advances with an explicit
    empty base — no resurrection) and the post-compaction snapshot is
    row-identical (phase 1 = merged read over logs, phase 2 = folded
    read over bases; the oracle pins both to the same relational
    survivor set)."""
    from plankton_spark.sources.hudi_meta import (
        HudiTable,
        HudiWriter,
        read_hudi,
    )

    root = _fresh(sf_dir, "hudi_mor_delete")
    o = _orders(spark, sf_dir).select("o_orderkey", "o_orderstatus")
    k = F.col("o_orderkey")
    w = HudiWriter(
        spark, root, record_key="o_orderkey", table_type="MERGE_ON_READ"
    )
    w.create(o.where(k < 1000))
    upd = o.where(k < 200).withColumn("o_orderstatus", F.lit("U"))
    ins = o.where((k >= 1000) & (k < 1200))
    w.upsert(upd.unionByName(ins))
    w.delete_keys(o.where((k < 1200) & (k % 9 == 0)).select("o_orderkey"))

    def _agg(df, phase):
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            F.sum(F.when(F.col("o_orderstatus") == "U", 1).otherwise(0))
            .cast("long").alias("n_u"),
        ).select(F.lit(phase).alias("phase"), "n_rows", "key_sum", "n_u")

    pre = _agg(read_hudi(spark, root), 1)
    w.compact()
    n_logs = sum(
        len(lrs) for *_x, lrs in HudiTable(root).file_slices_with_logs()
    )
    post = _agg(read_hudi(spark, root), 2)
    return pre.unionByName(post).withColumn(
        "n_log_slices_after_compact", F.lit(n_logs).cast("long")
    )


@query(
    "q_hudi_clustered",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 900
    ),
    merged AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey < 150 THEN 'U' ELSE o_orderstatus END
               AS o_orderstatus
      FROM base
      UNION ALL
      SELECT o_orderkey, o_orderstatus FROM orders
      WHERE o_orderkey >= 900 AND o_orderkey < 1100
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CASE WHEN o_orderstatus = 'U' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_u,
           CAST(3 AS BIGINT) AS n_groups_after,
           CAST(0 AS BIGINT) AS n_incr_cluster_only,
           CAST((SELECT COUNT(*) FROM merged
                 WHERE o_orderkey < 150 OR o_orderkey >= 900)
                AS BIGINT) AS n_incr_through_cluster
    FROM merged
    """,
)
def q_hudi_clustered(spark, sf_dir):
    """Hudi CLUSTERING (``replacecommit`` — the spec's replace
    metadata, previously a documented refusal): cluster() rewrites
    the live file groups into key-hash-bucketed fresh groups and
    lists the replaced ones in ``partitionToReplaceFileIds``; the
    timeline replay makes them invisible from that instant on while
    time travel before it still sees them. The rewrite is
    LAYOUT-ONLY — records keep their original commit time AND seqno —
    so the incremental query through the clustering instant equals
    the pre-clustering range (pinned: the cluster-only range yields
    ZERO records, and the full range still sees exactly the upsert's
    write-set), and the post-clustering group count is the declared
    bucket fan-out."""
    from plankton_spark.sources.hudi_meta import (
        HudiTable,
        HudiWriter,
        read_hudi,
    )

    root = _fresh(sf_dir, "hudi_clustered")
    o = _orders(spark, sf_dir).select("o_orderkey", "o_orderstatus")
    k = F.col("o_orderkey")
    w = HudiWriter(spark, root, record_key="o_orderkey", group_buckets=4)
    i1 = w.create(o.where(k < 900))
    upd = o.where(k < 150).withColumn("o_orderstatus", F.lit("U"))
    ins = o.where((k >= 900) & (k < 1100))
    i2 = w.upsert(upd.unionByName(ins))
    w.group_buckets = 3
    ic = w.cluster()
    n_groups = len(HudiTable(root).file_slices())
    n_cluster_only, n_through = _counts(
        read_hudi(spark, root, incremental=(i2, ic)),
        read_hudi(spark, root, incremental=(i1, ic)),
    )
    return read_hudi(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum(F.when(F.col("o_orderstatus") == "U", 1).otherwise(0))
        .cast("long").alias("n_u"),
    ).select(
        "n_rows",
        "key_sum",
        "n_u",
        F.lit(n_groups).cast("long").alias("n_groups_after"),
        F.lit(n_cluster_only).cast("long").alias("n_incr_cluster_only"),
        F.lit(n_through).cast("long").alias("n_incr_through_cluster"),
    )


@query(
    "q_hudi_incremental_virtual",
    oracle="""
    WITH live AS (
      SELECT o_orderkey, o_orderstatus FROM orders
      WHERE o_orderkey < 1200 AND o_orderkey % 10 <> 3
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(0 AS BIGINT) AS n_after
    FROM live
    """,
)
def q_hudi_incremental_virtual(spark, sf_dir):
    """Incremental query over a CONVERTED (virtual-key) Hudi table —
    previously a documented refusal: converted files carry no
    per-record ``_hoodie_commit_time``, so attribution is
    FILE-SLICE-GRAIN (a slice belongs to the instant that committed
    it — exact while file groups are never rewritten, which this
    engine guarantees by refusing writes on virtual-key tables). A
    range covering the conversion instant returns the full converted
    snapshot (the Delta DELETE's tombstoned file stays invisible —
    log inventory, not a directory walk); a range after it returns
    an EMPTY frame (the legitimate no-changes poll result, not an
    error)."""
    from plankton_spark.sources.delta_log import DeltaLogWriter
    from plankton_spark.sources.hudi_meta import read_hudi
    from plankton_spark.sources import delta_log, hudi_meta

    root = _fresh(sf_dir, "hudi_incr_virtual")
    o = _orders(spark, sf_dir).select("o_orderkey", "o_orderstatus")
    k = F.col("o_orderkey")
    dw = DeltaLogWriter(spark, root)
    dw.create(o.where(k < 1000).coalesce(1))
    dw.append(o.where((k >= 1000) & (k < 1200)).coalesce(1))
    dw.delete_where(k % 10 == 3)
    inst = hudi_meta.author(spark, root, delta_log.inventory, record_key="o_orderkey")
    n_after = read_hudi(spark, root, incremental=(inst, inst)).count()
    return read_hudi(spark, root, incremental=("0" * 17, inst)).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    ).withColumn("n_after", F.lit(n_after).cast("long"))


@query(
    "q_hudi_metadata",
    oracle="""
    WITH live AS (
      SELECT o_orderkey, o_orderstatus FROM orders
      WHERE o_orderkey < 1200 AND o_orderkey % 11 <> 0
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(1 AS BIGINT) AS listing_matches_disk,
           CAST((SELECT COUNT(DISTINCT o_orderstatus) FROM orders
                 WHERE o_orderkey < 1200) AS BIGINT) AS n_partitions
    FROM live
    """,
)
def q_hudi_metadata(spark, sf_dir):
    """The Hudi METADATA TABLE's ``files`` partition (round-11
    verdict item 9, previously a documented gap): with
    ``hoodie.metadata.enable`` every completed instant upserts its
    written files into an internal MERGE_ON_READ Hudi table at
    ``.hoodie/metadata`` (its own timeline, bases + log blocks —
    the spec's design; HFile bases and map-merging payloads are the
    documented divergences), and clean() marks removals with
    isDeleted records. Listings then come from ONE bounded
    metadata-table read instead of an O(files) directory walk — the
    100 TB point. The lifecycle here (partitioned create → upsert →
    delete → clean) checks the listing against the PHYSICAL disk
    state (names and sizes — metadata-scale os.walk, fixture only)
    and emits the parity flag plus relational snapshot aggregates
    the oracle pins."""
    import os as _os

    from plankton_spark.sources.hudi_meta import (
        HudiWriter,
        clean,
        metadata_listing,
        read_hudi,
    )

    root = _fresh(sf_dir, "hudi_metadata")
    o = _orders(spark, sf_dir).select("o_orderkey", "o_orderstatus")
    k = F.col("o_orderkey")
    w = HudiWriter(
        spark,
        root,
        record_key="o_orderkey",
        partition_field="o_orderstatus",
        group_buckets=2,
        metadata_table=True,
    )
    w.create(o.where(k < 1200))
    w.upsert(o.where(k < 150))  # rewrite touched groups in place
    w.delete_keys(o.where((k < 1200) & (k % 11 == 0)).select("o_orderkey"))
    clean(root, keep_last_slices=1, spark=spark)
    listing = {
        (r["part"], r["fname"]): r["fsize"]
        for r in metadata_listing(spark, root).collect()
    }
    disk = {}
    for dirpath, _dirs, files in _os.walk(root):
        rel = _os.path.relpath(dirpath, root)
        if rel.split(_os.sep)[0] == ".hoodie":
            continue
        for n in files:
            part = "" if rel == "." else rel
            disk[(part, n)] = _os.path.getsize(_os.path.join(dirpath, n))
    parity = 1 if listing == disk else 0
    n_parts = len({p for p, _n in listing})
    return read_hudi(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    ).select(
        "n_rows",
        "key_sum",
        F.lit(parity).cast("long").alias("listing_matches_disk"),
        F.lit(n_parts).cast("long").alias("n_partitions"),
    )


@query(
    "q_hudi_insert_overwrite",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 1200
    ),
    repl AS (
      SELECT o_orderkey, 'F' AS o_orderstatus FROM orders
      WHERE o_orderkey >= 2000 AND o_orderkey < 2100
    ),
    final AS (
      SELECT * FROM base WHERE o_orderstatus <> 'F'
      UNION ALL SELECT * FROM repl
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_f,
           CAST((SELECT COUNT(*) FROM base) AS BIGINT) AS n_before,
           CAST((SELECT COUNT(*) FROM repl) AS BIGINT) AS n_incr
    FROM final
    """,
)
def q_hudi_insert_overwrite(spark, sf_dir):
    """Hudi INSERT OVERWRITE — the ``replacecommit`` flavor foreign
    pipelines use for idempotent partition backfills (next to
    clustering, q_hudi_clustered): the replacement batch stages as
    fresh file groups and every current group of the partitions it
    TOUCHES goes into ``partitionToReplaceFileIds`` — untouched
    partitions carry forward with zero IO, no index probe, no
    survivor rewrite. Time travel before the instant still sees the
    replaced groups (files untouched on disk), and the incremental
    query attributes exactly the replacement rows to the overwrite
    instant (they are new records; the hidden old rows emit nothing —
    overwrite is not a change feed, the same contract as the COW
    delete)."""
    from plankton_spark.sources.hudi_meta import HudiWriter, read_hudi

    root = _fresh(sf_dir, "hudi_insert_overwrite")
    o = _orders(spark, sf_dir).select("o_orderkey", "o_orderstatus")
    k = F.col("o_orderkey")
    w = HudiWriter(
        spark, root, record_key="o_orderkey", partition_field="o_orderstatus"
    )
    i1 = w.create(o.where(k < 1200))
    n_before = read_hudi(spark, root).count()
    repl = (
        o.where((k >= 2000) & (k < 2100))
        .withColumn("o_orderstatus", F.lit("F"))
    )
    io = w.insert_overwrite(repl)
    n_incr, n_asof = _counts(
        read_hudi(spark, root, incremental=(i1, io)),
        read_hudi(spark, root, as_of=i1),
    )
    assert n_asof == n_before
    return read_hudi(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long").alias("n_f"),
    ).select(
        "n_rows",
        "key_sum",
        "n_f",
        F.lit(n_before).cast("long").alias("n_before"),
        F.lit(n_incr).cast("long").alias("n_incr"),
    )


@query(
    "q_hudi_colstats",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(3 AS BIGINT) AS n_slices_total,
           CAST(1 AS BIGINT) AS n_slices_scanned
    FROM orders WHERE o_orderkey >= 600 AND o_orderkey <= 899
    """,
)
def q_hudi_colstats(spark, sf_dir):
    """Hudi COLUMN_STATS file skipping: with hoodie.metadata.enable
    every base file's per-column [min, max, nullCount] lands in the
    metadata table's column_stats partition (parquet-footer read at
    write time — metadata-scale); a key-range read then prunes whole
    file slices from ONE bounded metadata read BEFORE any data IO
    (read_hudi stats_filter — the superset contract: unknown stats
    never prune, the residual predicate lands exactly on the scan).
    Range-clustered ingestion (one fresh file group per insert — the
    time-ordered pattern real pipelines produce) makes the skip
    effective: three slices total, ONE scanned for the 600..899
    window, both counts oracle-pinned. At 100 TB this replaces
    opening every footer before the real scan — the reason the
    metadata table exists."""
    from plankton_spark.sources.hudi_meta import (
        HudiTable,
        HudiWriter,
        prune_slices_by_stats,
        read_hudi,
    )

    root = _fresh(sf_dir, "hudi_colstats")
    o = _orders(spark, sf_dir).select("o_orderkey", "o_orderstatus")
    k = F.col("o_orderkey")
    w = HudiWriter(
        spark, root, record_key="o_orderkey", metadata_table=True
    )
    w.create(o.where(k < 500))
    w.insert(o.where((k >= 500) & (k < 1000)))
    w.insert(o.where((k >= 1000) & (k < 1500)))
    slices = HudiTable(root).file_slices()
    kept = prune_slices_by_stats(
        spark, root, slices, ("o_orderkey", 600, 899)
    )
    return (
        read_hudi(spark, root, stats_filter=("o_orderkey", 600, 899))
        .where(k.between(600, 899))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
        .select(
            "n_rows",
            "key_sum",
            F.lit(len(slices)).cast("long").alias("n_slices_total"),
            F.lit(len(kept)).cast("long").alias("n_slices_scanned"),
        )
    )


@query(
    "q_hudi_bloom_index",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 1500
    ),
    upd AS (
      SELECT o_orderkey, 'U' AS o_orderstatus FROM base
      WHERE o_orderkey >= 600 AND o_orderkey < 800
    ),
    final AS (
      SELECT * FROM base WHERE o_orderkey < 600 OR o_orderkey >= 800
      UNION ALL SELECT * FROM upd
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CASE WHEN o_orderstatus = 'U' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_u,
           CAST(3 AS BIGINT) AS n_slices_total,
           CAST(1 AS BIGINT) AS n_index_files_read
    FROM final
    """,
)
def q_hudi_bloom_index(spark, sf_dir):
    """Hudi BLOOM INDEX (the metadata table's bloom_filters
    partition — the last of its three partitions, closing the
    README gap): every base file carries a record-key bloom built
    from its exact key column (NO false negatives — a key probing
    negative everywhere is provably new), and upsert tagging reads
    ONLY the files whose bloom might hold an incoming key instead of
    the whole table's key projection. Range-clustered ingest (three
    inserts → three slices) + an update batch confined to the middle
    key range pins the prune: ONE index file read of three (both
    counts oracle-pinned), and the upsert result is exactly the
    relational merge. At 100 TB this is the difference between an
    upsert index scan proportional to the TABLE and one proportional
    to the TOUCHED key space — real Hudi's bloom index, probe
    running on executors with metadata-scale blooms in the
    closure."""
    from plankton_spark.sources.hudi_meta import (
        HudiTable,
        HudiWriter,
        read_hudi,
    )

    root = _fresh(sf_dir, "hudi_bloom_index")
    o = _orders(spark, sf_dir).select("o_orderkey", "o_orderstatus")
    k = F.col("o_orderkey")
    w = HudiWriter(
        spark, root, record_key="o_orderkey", metadata_table=True
    )
    w.create(o.where(k < 500))
    w.insert(o.where((k >= 500) & (k < 1000)))
    w.insert(o.where((k >= 1000) & (k < 1500)))
    slices = HudiTable(root).file_slices()
    upd = (
        o.where((k >= 600) & (k < 800))
        .withColumn("o_orderstatus", F.lit("U"))
    )
    cand = w._bloom_candidate_set(
        upd.withColumn("__key", k.cast("string")),
        [(p, fid, rel) for p, fid, _ti, rel in slices],
    )
    w.upsert(upd)
    return read_hudi(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum(F.when(F.col("o_orderstatus") == "U", 1).otherwise(0))
        .cast("long").alias("n_u"),
    ).select(
        "n_rows",
        "key_sum",
        "n_u",
        F.lit(len(slices)).cast("long").alias("n_slices_total"),
        F.lit(len(cand)).cast("long").alias("n_index_files_read"),
    )


@query(
    "q_hudi_precombine",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey < 1000
    ),
    upd_win AS (
      SELECT o_orderkey, 'Y' AS o_orderstatus,
             o_totalprice + 20 AS o_totalprice
      FROM base WHERE o_orderkey < 200
    ),
    ins_win AS (
      SELECT o_orderkey, 'J' AS o_orderstatus,
             o_totalprice + 2 AS o_totalprice
      FROM orders WHERE o_orderkey >= 2000 AND o_orderkey < 2100
    ),
    final AS (
      SELECT * FROM base WHERE o_orderkey >= 200
      UNION ALL SELECT * FROM upd_win
      UNION ALL SELECT * FROM ins_win
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS price_sum,
           CAST(SUM(CASE WHEN o_orderstatus IN ('X', 'I') THEN 1 ELSE 0 END)
                AS BIGINT) AS n_losers,
           CAST((SELECT COUNT(*) FROM upd_win) AS BIGINT) AS n_upd_winners,
           CAST((SELECT COUNT(*) FROM ins_win) AS BIGINT) AS n_ins_winners
    FROM final
    """,
)
def q_hudi_precombine(spark, sf_dir):
    """Hudi PRECOMBINE-field upsert (round-12 verdict item 1 — the
    duplicate-key refusal narrowed): a table created with
    ``precombine=`` stores ``hoodie.table.precombine.field`` and
    collapses duplicate-key upsert batches LATEST-WINS on that column
    BEFORE tagging (real Hudi's preCombine step — one keyed window at
    write grain, the same shuffle the tagging join pays). The batch
    here carries TWO versions of every touched key — updates (status
    'X' at price+10 vs 'Y' at price+20) and brand-new inserts ('I' at
    +1 vs 'J' at +2) — and the snapshot must hold exactly the higher-
    precombine version of each, with zero losers ('X'/'I') written.
    The insert wave runs through a RE-OPENED writer (no precombine
    argument) to pin that the property round-trips through
    hoodie.properties. Ties on the precombine value refuse
    (deterministic-results posture; real Hudi picks arbitrarily);
    tables with NO declared precombine still refuse duplicate-key
    batches loudly."""
    from plankton_spark.sources.hudi_meta import HudiWriter, read_hudi

    root = _fresh(sf_dir, "hudi_precombine")
    o = _orders(spark, sf_dir)
    k = F.col("o_orderkey")
    w = HudiWriter(
        spark, root, record_key="o_orderkey", precombine="o_totalprice"
    )
    base = o.where(k < 1000)
    w.create(base)
    upd = base.where(k < 200)
    dup_updates = upd.withColumn("o_orderstatus", F.lit("X")).withColumn(
        "o_totalprice", F.col("o_totalprice") + 10
    ).unionByName(
        upd.withColumn("o_orderstatus", F.lit("Y")).withColumn(
            "o_totalprice", F.col("o_totalprice") + 20
        )
    )
    w.upsert(dup_updates)
    # precombine survives table reopen: the second writer reads it
    # back from hoodie.properties
    w2 = HudiWriter(spark, root)
    ins = o.where((k >= 2000) & (k < 2100))
    dup_inserts = ins.withColumn("o_orderstatus", F.lit("I")).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1
    ).unionByName(
        ins.withColumn("o_orderstatus", F.lit("J")).withColumn(
            "o_totalprice", F.col("o_totalprice") + 2
        )
    )
    w2.upsert(dup_inserts)
    snap = read_hudi(spark, root)
    return snap.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast(
                "double"
            ),
            4,
        ).alias("price_sum"),
        F.sum(
            F.when(F.col("o_orderstatus").isin("X", "I"), 1).otherwise(0)
        ).cast("long").alias("n_losers"),
        F.sum(F.when(F.col("o_orderstatus") == "Y", 1).otherwise(0))
        .cast("long").alias("n_upd_winners"),
        F.sum(F.when(F.col("o_orderstatus") == "J", 1).otherwise(0))
        .cast("long").alias("n_ins_winners"),
    )


@query(
    "q_hudi_virtual_write",
    oracle="""
    WITH src AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey < 1200
    ),
    upd AS (
      SELECT o_orderkey, 'U' AS o_orderstatus,
             o_totalprice + 5 AS o_totalprice
      FROM src WHERE o_orderkey < 100
    ),
    ins AS (
      SELECT o_orderkey, 'N' AS o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey >= 2000 AND o_orderkey < 2100
    ),
    final AS (
      SELECT * FROM src
      WHERE o_orderkey >= 100 AND NOT (o_orderkey % 9 = 0 AND o_orderkey < 1000)
      UNION ALL
      SELECT * FROM upd WHERE o_orderkey % 9 <> 0
      UNION ALL SELECT * FROM ins
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS price_sum,
           CAST(SUM(CASE WHEN o_orderstatus = 'U' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_u,
           CAST(SUM(CASE WHEN o_orderstatus = 'N' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new,
           CAST((SELECT COUNT(*) FROM src WHERE o_orderkey < 1000)
                + (SELECT COUNT(*) FROM ins) AS BIGINT)
             AS n_incr_slice_grain
    FROM final
    """,
)
def q_hudi_virtual_write(spark, sf_dir):
    """VIRTUAL-KEY Hudi writes (round-12 verdict item 7 — the
    writer refusal on converted tables, lifted): a Delta → Hudi
    conversion authors populate.meta.fields=false, and engine
    upserts/deletes now key on the DECLARED record-key column
    directly — tagging and survivor anti-joins on o_orderkey, file
    attribution via _metadata.file_path joined to a broadcast slice
    map, NO meta-field backfill (real Hudi's virtual-key write
    path). Lifecycle: convert (two file groups: keys <1000 /
    1000-1199) → one upsert that updates keys <100 and inserts
    2000-2099 (rewrites ONLY the first group + one fresh group; the
    1000-1199 group is not read or written) → the incremental query
    attributes at FILE-SLICE GRAIN (the documented virtual-key
    precision limit: the rewritten slice re-emits copies, pinned as
    count(keys<1000) + count(inserts)) → a delete wave (%9 of the
    first group) → final snapshot relationally oracled. with_meta
    still refuses (nothing to surface); time travel to the
    conversion instant is asserted intact."""
    from plankton_spark.sources.delta_log import DeltaLogWriter
    from plankton_spark.sources.hudi_meta import (
        HudiWriter,
        read_hudi,
    )
    from plankton_spark.sources import delta_log, hudi_meta

    root = _fresh(sf_dir, "hudi_virtual_write")
    o = _orders(spark, sf_dir)
    k = F.col("o_orderkey")
    dw = DeltaLogWriter(spark, root)
    dw.create(o.where(k < 1000).coalesce(1))
    dw.append(o.where((k >= 1000) & (k < 1200)).coalesce(1))
    inst0 = hudi_meta.author(spark, root, delta_log.inventory, record_key="o_orderkey")
    n_at_convert = read_hudi(spark, root).count()
    w = HudiWriter(spark, root)
    upd = (
        o.where(k < 100)
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 5)
    )
    ins = o.where((k >= 2000) & (k < 2100)).withColumn(
        "o_orderstatus", F.lit("N")
    )
    i1 = w.upsert(upd.unionByName(ins))
    n_incr, n_asof = _counts(
        read_hudi(spark, root, incremental=(inst0, i1)),
        read_hudi(spark, root, as_of=inst0),
    )
    assert n_asof == n_at_convert
    w.delete_keys(
        o.where((k % 9 == 0) & (k < 1000)).select("o_orderkey")
    )
    return read_hudi(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast(
                "double"
            ),
            4,
        ).alias("price_sum"),
        F.sum(F.when(F.col("o_orderstatus") == "U", 1).otherwise(0))
        .cast("long").alias("n_u"),
        F.sum(F.when(F.col("o_orderstatus") == "N", 1).otherwise(0))
        .cast("long").alias("n_new"),
    ).withColumn("n_incr_slice_grain", F.lit(n_incr).cast("long"))


@query(
    "q_hudi_record_index",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 1200
    ),
    upd AS (
      SELECT o_orderkey, 'U' AS o_orderstatus FROM base
      WHERE o_orderkey < 150
    ),
    ins AS (
      SELECT o_orderkey, 'N' AS o_orderstatus FROM orders
      WHERE o_orderkey >= 2000 AND o_orderkey < 2100
    ),
    final AS (
      SELECT * FROM base
      WHERE o_orderkey >= 150 AND o_orderkey % 13 <> 0
      UNION ALL SELECT * FROM upd WHERE o_orderkey % 13 <> 0
      UNION ALL SELECT * FROM ins WHERE o_orderkey % 13 <> 0
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CASE WHEN o_orderstatus = 'U' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_u,
           CAST(1 AS BIGINT) AS twin_match,
           CAST(1 AS BIGINT) AS rli_matches_disk,
           CAST((SELECT COUNT(*) FROM final) AS BIGINT) AS n_index_rows
    FROM final
    """,
)
def q_hudi_record_index(spark, sf_dir):
    """Hudi RECORD-LEVEL INDEX (round-12 verdict item 9 — the
    metadata table's fourth and last partition, record_index): one
    (record key → partition, fileId) mapping per LIVE KEY,
    maintained DISTRIBUTED on every instant (the new base files' key
    columns scan on executors and upsert into the metadata table;
    delete ops tombstone their matched keys). Tagging then POINT-
    LOOKS-UP the mapping — an upsert/delete batch joins the metadata
    table's key→group frame and reads ZERO base files with ZERO
    false positives, where the bloom index still opens FP-candidate
    files to confirm. The differential: a TWIN table runs the
    identical op sequence (partitioned create → dup-partition upsert
    → delete) under the BLOOM index only; both snapshots must be
    row-identical (twin_match), and the RLI mapping must equal the
    physical key→fileId assignment read back from the files
    (rli_matches_disk) with exactly one live row per live key
    (n_index_rows)."""
    from plankton_spark.sources.hudi_meta import HudiWriter, read_hudi

    def lifecycle(root, **kw):
        o = _orders(spark, sf_dir).select("o_orderkey", "o_orderstatus")
        k = F.col("o_orderkey")
        w = HudiWriter(
            spark,
            root,
            record_key="o_orderkey",
            partition_field="o_orderstatus",
            group_buckets=2,
            **kw,
        )
        w.create(o.where(k < 1200))
        w2 = HudiWriter(spark, root)
        upd = o.where(k < 150).withColumn("o_orderstatus", F.lit("U"))
        ins = o.where((k >= 2000) & (k < 2100)).withColumn(
            "o_orderstatus", F.lit("N")
        )
        w2.upsert(upd.unionByName(ins))
        w2.delete_keys(
            o.where((k < 2100) & (k % 13 == 0)).select("o_orderkey")
        )
        return w2

    root_rli = _fresh(sf_dir, "hudi_rli")
    root_bloom = _fresh(sf_dir, "hudi_rli_twin")
    w_rli = lifecycle(root_rli, record_index=True)
    lifecycle(root_bloom, metadata_table=True)
    assert w_rli._rli_enabled

    cols = ["o_orderkey", "o_orderstatus"]
    snap_rli = read_hudi(spark, root_rli).select(cols)
    snap_bloom = read_hudi(spark, root_bloom).select(cols)
    twin = 1 if _multiset_equal(snap_rli, snap_bloom) else 0
    # RLI ↔ physical parity: the mapping equals the key→fileId
    # assignment read back from the live files themselves
    disk = read_hudi(spark, root_rli, with_meta=True).select(
        F.col("_hoodie_record_key").alias("__key"),
        F.element_at(F.split("_hoodie_file_name", "_"), 1).alias("__fid"),
    )
    idx = w_rli._rli_lookup().select("__key", "__fid")
    parity = 1 if _multiset_equal(idx, disk) else 0
    n_index = idx.count()
    return snap_rli.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum(F.when(F.col("o_orderstatus") == "U", 1).otherwise(0))
        .cast("long").alias("n_u"),
    ).select(
        "n_rows",
        "key_sum",
        "n_u",
        F.lit(twin).cast("long").alias("twin_match"),
        F.lit(parity).cast("long").alias("rli_matches_disk"),
        F.lit(n_index).cast("long").alias("n_index_rows"),
    )


@query(
    "q_hudi_virtual_mor",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey < 1200
    ),
    upd AS (
      SELECT o_orderkey, 'U' AS o_orderstatus,
             o_totalprice + 5 AS o_totalprice
      FROM base WHERE o_orderkey < 150
    ),
    ins AS (
      SELECT o_orderkey, 'N' AS o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey >= 2000 AND o_orderkey < 2100
    ),
    upd2 AS (
      SELECT o_orderkey, 'M' AS o_orderstatus, o_totalprice FROM ins
      WHERE o_orderkey < 2020
    ),
    final AS (
      SELECT * FROM base WHERE o_orderkey >= 150
      UNION ALL SELECT * FROM upd
      UNION ALL SELECT * FROM ins WHERE o_orderkey >= 2020
      UNION ALL SELECT * FROM upd2
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS price_sum,
           CAST(SUM(CASE WHEN o_orderstatus = 'U' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_u,
           CAST(SUM(CASE WHEN o_orderstatus = 'M' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_m,
           CAST(SUM(CASE WHEN o_orderstatus = 'N' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new,
           CAST(1 AS BIGINT) AS compact_equal
    FROM final
    WHERE NOT (o_orderkey % 11 = 0 AND o_orderkey < 1200)
    """,
)
def q_hudi_virtual_mor(spark, sf_dir):
    """VIRTUAL-KEY MERGE_ON_READ (the last virtual-key refusal,
    lifted): an engine-created populate.meta.fields=false MOR table
    — log DATA BLOCKS carry data columns only, the block header's
    deltacommit instant is the version authority the meta
    commit-time column would have been, DELETE_BLOCKs carry (key,
    partition), and the read merge keys base + log rows on the
    DECLARED record-key column, base rows versioned by a broadcast
    (basename → slice instant) map (sources/hudi_meta.py
    _read_mor_virtual). Lifecycle: create (two hash-routed file
    groups) → upsert wave 1 (updates 'U' append log blocks, inserts
    'N' open a fresh base group) → REOPENED writer upsert wave 2
    ('M' log-updates rows that themselves arrived via wave-1 insert
    — log-over-log precedence) → DELETE_BLOCK wave (%11 keys) →
    snapshot oracled relationally; compact() folds the logs and the
    post-compaction snapshot is asserted ROW-IDENTICAL
    (compact_equal pin). Time travel to the create instant still
    sees the original rows; with_meta refuses (nothing to surface)
    while incremental works at MIXED grain (block instants exact,
    base rows slice-grain — q_hudi_virtual_mor_incr). At scale: log
    parse runs one task
    per log file on executors, the merge shuffles once on the key,
    tagging joins the declared key against base key columns + a
    broadcast slice map (no meta backfill ever)."""
    from plankton_spark.sources.hudi_meta import HudiWriter, read_hudi

    root = _fresh(sf_dir, "hudi_virtual_mor")
    o = _orders(spark, sf_dir)
    k = F.col("o_orderkey")
    w = HudiWriter(
        spark,
        root,
        record_key="o_orderkey",
        table_type="MERGE_ON_READ",
        group_buckets=2,
        populate_meta_fields=False,
    )
    inst0 = w.create(o.where(k < 1200))
    n0 = read_hudi(spark, root).count()
    upd = (
        o.where(k < 150)
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 5)
    )
    ins = o.where((k >= 2000) & (k < 2100)).withColumn(
        "o_orderstatus", F.lit("N")
    )
    i1 = w.upsert(upd.unionByName(ins))
    # reopen: populate.meta.fields=false round-trips hoodie.properties
    w2 = HudiWriter(spark, root)
    assert w2.virtual and w2._is_mor
    w2.upsert(
        o.where((k >= 2000) & (k < 2020)).withColumn(
            "o_orderstatus", F.lit("M")
        )
    )
    w2.delete_keys(
        o.where((k % 11 == 0) & (k < 1200)).select("o_orderkey")
    )
    try:
        read_hudi(spark, root, with_meta=True)
        raise AssertionError("virtual MOR with_meta must refuse")
    except NotImplementedError:
        pass
    # one action for the four verification counts (round 14, _counts):
    # time travel to the create, the (create, wave1] incremental over
    # live logs (q_hudi_virtual_mor_incr pins the semantics), and the
    # two wave-1 input sizes it must equal
    n_asof, n_incr, n_upd, n_ins = _counts(
        read_hudi(spark, root, as_of=inst0),
        read_hudi(spark, root, incremental=(inst0, i1)),
        upd,
        ins,
    )
    assert n_asof == n0
    assert n_incr == n_upd + n_ins
    pre = read_hudi(spark, root)
    pre_rows = pre.collect()
    w2.compact()
    post = read_hudi(spark, root)
    same = sorted(map(tuple, pre_rows)) == sorted(
        map(tuple, post.collect())
    )
    return post.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast(
                "double"
            ),
            4,
        ).alias("price_sum"),
        F.sum(F.when(F.col("o_orderstatus") == "U", 1).otherwise(0))
        .cast("long").alias("n_u"),
        F.sum(F.when(F.col("o_orderstatus") == "M", 1).otherwise(0))
        .cast("long").alias("n_m"),
        F.sum(F.when(F.col("o_orderstatus") == "N", 1).otherwise(0))
        .cast("long").alias("n_new"),
    ).withColumn("compact_equal", F.lit(1 if same else 0).cast("long"))


@query(
    "q_hudi_mor_cluster",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 900
    ),
    upd AS (
      SELECT o_orderkey, 'U' AS o_orderstatus FROM base
      WHERE o_orderkey < 150
    ),
    ins AS (
      SELECT o_orderkey, o_orderstatus FROM orders
      WHERE o_orderkey >= 900 AND o_orderkey < 1100
    ),
    merged AS (
      SELECT * FROM base WHERE o_orderkey >= 150
      UNION ALL SELECT * FROM upd
      UNION ALL SELECT * FROM ins
    ),
    final AS (
      SELECT * FROM merged
      WHERE NOT (o_orderkey % 7 = 0 AND o_orderkey < 300)
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CASE WHEN o_orderstatus = 'U' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_u,
           CAST(3 AS BIGINT) AS n_groups_after,
           CAST(0 AS BIGINT) AS n_live_logs_after,
           CAST(0 AS BIGINT) AS n_incr_cluster_only
    FROM final
    """,
)
def q_hudi_mor_cluster(spark, sf_dir):
    """LOG-AWARE MOR CLUSTERING (round-13 continuation — the
    compact-first refusal lifted): cluster() on an un-compacted
    MERGE_ON_READ table folds the live log deltas — update blocks
    AND delete tombstones — into the replacement layout, because the
    snapshot read already merges them latest-wins and every merged
    row carries the commit time + seqno of its LATEST version
    (exactly what compact() would have written). The replaced
    groups' logs detach with their bases (the replacecommit replay
    pops both, the insert_overwrite precedent). Lifecycle: MOR
    create (2 groups) → upsert ('U' updates append logs, inserts
    open a fresh base) → DELETE_BLOCK wave (%7 keys) → cluster()
    into 3 key-hash buckets. Pinned: merged snapshot relationally
    oracled, post-cluster group count (n_groups_after), ZERO live
    logs after (n_live_logs_after — the fold consumed them), and
    the cluster-only incremental range is SILENT
    (n_incr_cluster_only = 0: latest-version identity preserved,
    no phantom changes). At 100 TB: the fold is the same one-shuffle
    keyed merge the snapshot read pays, and replacement is pure
    replace metadata — no survivor rewrite amplification."""
    from plankton_spark.sources.hudi_meta import (
        HudiTable,
        HudiWriter,
        read_hudi,
    )

    root = _fresh(sf_dir, "hudi_mor_cluster")
    o = _orders(spark, sf_dir).select("o_orderkey", "o_orderstatus")
    k = F.col("o_orderkey")
    w = HudiWriter(
        spark,
        root,
        record_key="o_orderkey",
        table_type="MERGE_ON_READ",
        group_buckets=2,
    )
    w.create(o.where(k < 900))
    upd = o.where(k < 150).withColumn("o_orderstatus", F.lit("U"))
    ins = o.where((k >= 900) & (k < 1100))
    w.upsert(upd.unionByName(ins))
    i3 = w.delete_keys(
        o.where((k % 7 == 0) & (k < 300)).select("o_orderkey")
    )
    w.group_buckets = 3
    ic = w.cluster()
    slices = HudiTable(root).file_slices_with_logs()
    n_groups = len(slices)
    n_logs = sum(len(lrs) for *_x, lrs in slices)
    n_cluster_only = read_hudi(spark, root, incremental=(i3, ic)).count()
    return read_hudi(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum(F.when(F.col("o_orderstatus") == "U", 1).otherwise(0))
        .cast("long").alias("n_u"),
    ).select(
        "n_rows",
        "key_sum",
        "n_u",
        F.lit(n_groups).cast("long").alias("n_groups_after"),
        F.lit(n_logs).cast("long").alias("n_live_logs_after"),
        F.lit(n_cluster_only).cast("long").alias("n_incr_cluster_only"),
    )


@query(
    "q_hudi_virtual_mor_incr",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey < 1000
    ),
    upd AS (
      SELECT o_orderkey, 'U' AS o_orderstatus,
             o_totalprice + 5 AS o_totalprice
      FROM base WHERE o_orderkey < 120
    ),
    ins AS (
      SELECT o_orderkey, 'N' AS o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey >= 2000 AND o_orderkey < 2080
    ),
    upd2 AS (
      SELECT o_orderkey, 'M' AS o_orderstatus, o_totalprice FROM ins
      WHERE o_orderkey < 2040
    ),
    merged AS (
      SELECT * FROM base WHERE o_orderkey >= 120
      UNION ALL SELECT * FROM upd
      UNION ALL SELECT * FROM ins WHERE o_orderkey >= 2040
      UNION ALL SELECT * FROM upd2
    ),
    final AS (
      SELECT * FROM merged
      WHERE NOT (o_orderkey % 13 = 0 AND o_orderkey < 1000)
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS price_sum,
           CAST(SUM(CASE WHEN o_orderstatus = 'U' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_u,
           CAST(SUM(CASE WHEN o_orderstatus = 'M' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_m,
           CAST((SELECT COUNT(*) FROM upd) + (SELECT COUNT(*) FROM ins)
                AS BIGINT) AS n_incr_mixed,
           CAST(0 AS BIGINT) AS n_incr_delete_only
    FROM final
    """,
)
def q_hudi_virtual_mor_incr(spark, sf_dir):
    """VIRTUAL-KEY MOR INCREMENTAL over LIVE LOGS (round-13
    continuation — the compact-first refusal lifted): log rows
    attribute at their BLOCK's instant, which is EXACT (one commit
    per block — the per-record commit-time column was always
    redundant at this grain), base rows at their slice instant (the
    documented slice-grain precision limit), and the range filter
    runs AFTER the latest-wins merge so a record updated twice
    in-range emits ONCE in its end state. Lifecycle: virtual MOR
    create (keys < 1000) → wave 1 ('U' log-updates keys < 120,
    'N' inserts 2000-2079 open a fresh base) → wave 2 ('M'
    log-over-log on 2000-2039) → DELETE_BLOCK wave (%13). Pinned:
    the (create, wave2] incremental count is exactly |wave-1
    write-set| (n_incr_mixed — 'M' overwrites emit once, original
    base rows are silent), a delete-only range emits ZERO rows
    (n_incr_delete_only), and the final snapshot is relationally
    oracled. At 100 TB: the incremental pays the same one keyed
    shuffle as the snapshot merge — no extra pass, no driver
    state."""
    from plankton_spark.sources.hudi_meta import HudiWriter, read_hudi

    root = _fresh(sf_dir, "hudi_virtual_mor_incr")
    o = _orders(spark, sf_dir)
    k = F.col("o_orderkey")
    w = HudiWriter(
        spark,
        root,
        record_key="o_orderkey",
        table_type="MERGE_ON_READ",
        group_buckets=2,
        populate_meta_fields=False,
    )
    i0 = w.create(o.where(k < 1000))
    upd = (
        o.where(k < 120)
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 5)
    )
    ins = o.where((k >= 2000) & (k < 2080)).withColumn(
        "o_orderstatus", F.lit("N")
    )
    w.upsert(upd.unionByName(ins))
    i2 = w.upsert(
        o.where((k >= 2000) & (k < 2040)).withColumn(
            "o_orderstatus", F.lit("M")
        )
    )
    n_mixed = read_hudi(spark, root, incremental=(i0, i2)).count()
    i3 = w.delete_keys(
        o.where((k % 13 == 0) & (k < 1000)).select("o_orderkey")
    )
    n_del_only = read_hudi(spark, root, incremental=(i2, i3)).count()
    return read_hudi(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast(
                "double"
            ),
            4,
        ).alias("price_sum"),
        F.sum(F.when(F.col("o_orderstatus") == "U", 1).otherwise(0))
        .cast("long").alias("n_u"),
        F.sum(F.when(F.col("o_orderstatus") == "M", 1).otherwise(0))
        .cast("long").alias("n_m"),
    ).select(
        "n_rows",
        "key_sum",
        "price_sum",
        "n_u",
        "n_m",
        F.lit(n_mixed).cast("long").alias("n_incr_mixed"),
        F.lit(n_del_only).cast("long").alias("n_incr_delete_only"),
    )


@query(
    "q_hudi_virtual_rli",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 1200
    ),
    upd AS (
      SELECT o_orderkey, 'U' AS o_orderstatus FROM base
      WHERE o_orderkey < 150
    ),
    ins AS (
      SELECT o_orderkey, 'N' AS o_orderstatus FROM orders
      WHERE o_orderkey >= 2000 AND o_orderkey < 2100
    ),
    final AS (
      SELECT * FROM base
      WHERE o_orderkey >= 150 AND o_orderkey % 13 <> 0
      UNION ALL SELECT * FROM upd WHERE o_orderkey % 13 <> 0
      UNION ALL SELECT * FROM ins WHERE o_orderkey % 13 <> 0
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CASE WHEN o_orderstatus = 'U' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_u,
           CAST(1 AS BIGINT) AS twin_match,
           CAST(1 AS BIGINT) AS rli_matches_disk,
           CAST((SELECT COUNT(*) FROM final) AS BIGINT) AS n_index_rows
    FROM final
    """,
)
def q_hudi_virtual_rli(spark, sf_dir):
    """RECORD-LEVEL INDEX on VIRTUAL-KEY tables (round-13
    continuation — the create-time refusal lifted): the RLI
    maintenance scan reads the DECLARED record-key column (virtual
    files carry no _hoodie_record_key) and attributes (partition,
    fileId) from a broadcast basename map built off the commit's own
    add list — metadata-scale, the same attribution every virtual
    write path uses. The BLOOM partition builds from the declared
    key column too (str-of-int matches Spark's string cast), so the
    twin differential is meaningful: a TWIN virtual table runs the
    identical op sequence (partitioned create → dup-partition upsert
    → delete) under the BLOOM index, both snapshots must be
    row-identical (twin_match), and the RLI mapping must equal the
    physical key→fileId assignment read back from the live files via
    _metadata.file_path (rli_matches_disk) with one live row per
    live key (n_index_rows). Tagging under RLI reads ZERO base files
    with ZERO false positives — on a virtual table that matters
    twice, because the bloom fallback must scan the full declared
    key column of every candidate."""
    from plankton_spark.sources.hudi_meta import HudiWriter, read_hudi

    def lifecycle(root, **kw):
        o = _orders(spark, sf_dir).select("o_orderkey", "o_orderstatus")
        k = F.col("o_orderkey")
        w = HudiWriter(
            spark,
            root,
            record_key="o_orderkey",
            partition_field="o_orderstatus",
            group_buckets=2,
            populate_meta_fields=False,
            **kw,
        )
        w.create(o.where(k < 1200))
        w2 = HudiWriter(spark, root)
        assert w2.virtual
        upd = o.where(k < 150).withColumn("o_orderstatus", F.lit("U"))
        ins = o.where((k >= 2000) & (k < 2100)).withColumn(
            "o_orderstatus", F.lit("N")
        )
        w2.upsert(upd.unionByName(ins))
        w2.delete_keys(
            o.where((k < 2100) & (k % 13 == 0)).select("o_orderkey")
        )
        return w2

    root_rli = _fresh(sf_dir, "hudi_virtual_rli")
    root_bloom = _fresh(sf_dir, "hudi_virtual_rli_twin")
    w_rli = lifecycle(root_rli, record_index=True)
    lifecycle(root_bloom, metadata_table=True)
    assert w_rli._rli_enabled

    cols = ["o_orderkey", "o_orderstatus"]
    snap_rli = read_hudi(spark, root_rli).select(cols)
    snap_bloom = read_hudi(spark, root_bloom).select(cols)
    twin = 1 if _multiset_equal(snap_rli, snap_bloom) else 0
    # RLI ↔ physical parity WITHOUT meta columns: declared key +
    # _metadata.file_path stand in for _hoodie_record_key/_file_name
    disk = (
        read_hudi(spark, root_rli)
        .withColumn(
            "__b",
            F.substring_index(F.col("_metadata.file_path"), "/", -1),
        )
        .select(
            F.col("o_orderkey").cast("string").alias("__key"),
            F.element_at(F.split("__b", "_"), 1).alias("__fid"),
        )
    )
    idx = w_rli._rli_lookup().select("__key", "__fid")
    parity = 1 if _multiset_equal(idx, disk) else 0
    n_index = idx.count()
    return snap_rli.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum(F.when(F.col("o_orderstatus") == "U", 1).otherwise(0))
        .cast("long").alias("n_u"),
    ).select(
        "n_rows",
        "key_sum",
        "n_u",
        F.lit(twin).cast("long").alias("twin_match"),
        F.lit(parity).cast("long").alias("rli_matches_disk"),
        F.lit(n_index).cast("long").alias("n_index_rows"),
    )


@query(
    "q_stream_hudi_incr_virtual",
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS k, o_orderstatus AS s FROM orders
      WHERE o_orderkey < 1200
    ),
    f1 AS (SELECT 1 AS seq, k, s FROM o WHERE k < 1000),
    f2 AS (
      SELECT 2, k, 'U' FROM o WHERE k < 200
      UNION ALL
      SELECT 2, k, s FROM o WHERE k >= 1000
    ),
    f3 AS (SELECT 3, k, 'V' FROM o WHERE k < 100),
    feed AS (
      SELECT * FROM f1 UNION ALL SELECT * FROM f2 UNION ALL SELECT * FROM f3
    )
    SELECT seq, COUNT(*) AS n_rows,
           CAST(SUM(k) AS BIGINT) AS key_sum,
           CAST(SUM(CASE WHEN s = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_u,
           CAST(SUM(CASE WHEN s = 'V' THEN 1 ELSE 0 END) AS BIGINT) AS n_v
    FROM feed GROUP BY seq
    """,
)
def q_stream_hudi_incr_virtual(spark, sf_dir):
    """The hudiincr STREAMING feed over a VIRTUAL-KEY MOR table
    (round-13 continuation — the stream's last virtual refusal,
    lifted): virtual files carry no per-record commit time, so the
    READER synthesizes the feed's _hoodie_commit_time column from
    each partition's instant — EXACT on MOR, because log blocks
    carry their deltacommit's instant (one commit per block) and
    fresh-group base files are wholly written by theirs; COMPACT
    instants skip at PLANNING time (layout-only — their records
    already streamed from the log blocks that fed the fold), the
    silence the commit-time filter provides on meta-column tables.
    Same gauntlet as q_stream_hudi_incr: create + first upsert
    drain; a second upsert AND a compaction AND a DELETE_BLOCK wave
    land while the consumer is down; the resumed query emits exactly
    the second upsert's log records and NOTHING for the compaction
    or the deletes, never replaying earlier instants. Per-record
    attribution folds by instant ordinal (driver-literal
    instant→seq join; a compaction/delete leak surfaces as seq=-1
    and hash-mismatches the oracle)."""
    import uuid as _uuid

    from plankton_spark.sources.hudi_meta import (
        HudiWriter,
        incr_schema,
        register,
    )

    register(spark)
    root = _fresh(sf_dir, "stream_hudi_incr_virtual")
    sink = root + "_sink"
    ckpt = root + "_ckpt"
    shutil.rmtree(sink, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    o = _orders(spark, sf_dir).select("o_orderkey", "o_orderstatus")
    k = F.col("o_orderkey")
    w = HudiWriter(
        spark,
        root,
        record_key="o_orderkey",
        table_type="MERGE_ON_READ",
        group_buckets=2,
        populate_meta_fields=False,
    )
    i1 = w.create(o.where(k < 1000))
    upd1 = o.where(k < 200).withColumn("o_orderstatus", F.lit("U"))
    ins = o.where((k >= 1000) & (k < 1200))
    i2 = w.upsert(upd1.unionByName(ins))

    feed_schema = incr_schema(root)  # skip the per-load schema probe

    def drain():
        q = (
            spark.readStream.format("hudiincr")
            .option("path", root)
            .schema(feed_schema)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .queryName(f"hvincr_{_uuid.uuid4().hex[:8]}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()  # instants 1-2
    i3 = w.upsert(o.where(k < 100).withColumn("o_orderstatus", F.lit("V")))
    w.compact()  # SILENT: planning-time skip, not a filter
    w.delete_keys(
        o.where((k % 5 == 0) & (k < 100)).select("o_orderkey")
    )  # SILENT: DELETE_BLOCKs emit no records
    drain()  # restart: the down-time instants only
    seq_map = spark.createDataFrame(
        [(i1, 1), (i2, 2), (i3, 3)], "_hoodie_commit_time string, seq int"
    )
    feed = spark.read.parquet(sink)
    return (
        feed.join(F.broadcast(seq_map), "_hoodie_commit_time", "left")
        .withColumn("seq", F.coalesce("seq", F.lit(-1)))
        .groupBy("seq")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            F.sum(F.when(F.col("o_orderstatus") == "U", 1).otherwise(0))
            .cast("long").alias("n_u"),
            F.sum(F.when(F.col("o_orderstatus") == "V", 1).otherwise(0))
            .cast("long").alias("n_v"),
        )
    )
