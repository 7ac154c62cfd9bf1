"""Declared queries over the planktable transactional table format
(plankton_spark/table_format.py): time travel and MERGE, each shadow-
oracled by re-deriving the expected snapshot from the source fixtures
in plain SQL — a lossy log replay, broken snapshot isolation, or a
wrong merge rewrite all fail the value hash."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from plankton_spark.io import read_table
from plankton_spark.queries.scans import _scratch
from plankton_spark.registry import query
from plankton_spark.table_format import PlankTable


def _fresh_table(spark, sf_dir: str, name: str) -> PlankTable:
    path = _scratch(sf_dir, name)
    shutil.rmtree(path, ignore_errors=True)
    return PlankTable(spark, path)


@query(
    "q_table_timetravel",
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
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum FROM v0
    UNION ALL
    SELECT 1, COUNT(*), CAST(SUM(o_orderkey) AS BIGINT) FROM v1
    UNION ALL
    SELECT 2, COUNT(*), CAST(SUM(o_orderkey) AS BIGINT) FROM v2
    """,
)
def q_table_timetravel(spark, sf_dir):
    """ACID table time travel: CREATE (orders < 1000), APPEND
    (1000..1999), DELETE (status 'F'), then read all three versions —
    versionAsOf semantics over the commit log. Each version's file set
    comes from log replay, so the query proves snapshot isolation (the
    delete rewrote files without disturbing v0/v1 reads)."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = _fresh_table(spark, sf_dir, "pt_orders")
    t.create(o.where(F.col("o_orderkey") < 1000))
    t.append(o.where((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000)))
    t.delete_where(F.col("o_orderstatus") == "F")
    frames = [
        t.read(version=v)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
        .select(F.lit(v).alias("version"), "n_rows", "key_sum")
        for v in (0, 1, 2)
    ]
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


@query(
    "q_table_restore",
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
def q_table_restore(spark, sf_dir):
    """RESTORE: CREATE (orders<1000), APPEND (1000..1999), DELETE
    (status 'F'), then RESTORE to the pre-delete version — one
    metadata-only commit re-adds v1's file set (the deleted rows come
    back without rewriting a byte). The output reads BOTH the restored
    tip and, by time travel, the pre-restore tip: restore must not
    erase history (both hashes check against the relational
    re-derivation)."""
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    t = _fresh_table(spark, sf_dir, "pt_restore")
    t.create(o.where(F.col("o_orderkey") < 1000))
    t.append(o.where((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000)))
    t.delete_where(F.col("o_orderstatus") == "F")
    t.restore(1)

    def _agg(df, phase):
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        ).select(F.lit(phase).alias("phase"), "n_rows", "key_sum")

    return _agg(t.read(version=2), "tip_before_restore").unionByName(
        _agg(t.read(), "restored")
    )


@query(
    "q_table_replacewhere",
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
def q_table_replacewhere(spark, sf_dir):
    """replace_where (Delta's replaceWhere): the 'F'-status slice of
    the table is atomically replaced with its even-keyed subset in ONE
    commit — delete-matching + insert-replacement, the idempotent
    backfill primitive. The replace runs TWICE: the second run must
    replace the same slice again, not duplicate it (that idempotence
    is what makes re-runnable backfill jobs safe). Oracle re-derives
    non-F ∪ replacement relationally."""
    o = (
        read_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus")
        .where(F.col("o_orderkey") < 2000)
    )
    t = _fresh_table(spark, sf_dir, "pt_replwhere")
    t.create(o)
    repl = o.where(
        (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 2 == 0)
    )
    t.replace_where(repl, F.col("o_orderstatus") == "F")
    t.replace_where(repl, F.col("o_orderstatus") == "F")  # idempotent re-run
    return t.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum((F.col("o_orderstatus") == "F").cast("int")).cast("long").alias("n_f"),
    )


@query(
    "q_table_convert_cross",
    oracle="""
    WITH kept AS (
      SELECT o_orderkey, o_orderstatus FROM orders
      WHERE o_orderkey < 1000 AND o_orderstatus <> 'F'
    ),
    appended AS (
      SELECT o_orderkey, o_orderstatus FROM orders
      WHERE o_orderkey >= 1000 AND o_orderkey < 1500
    ),
    final AS (SELECT * FROM kept UNION ALL SELECT * FROM appended)
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST((SELECT COUNT(*) FROM kept) AS BIGINT) AS n_at_convert
    FROM final
    """,
)
def q_table_convert_cross(spark, sf_dir):
    """Cross-format migration with ZERO rewrite: a planktable (create
    + row-level delete, so the snapshot is a real multi-commit state)
    becomes a Delta table in place — its current files re-registered
    as version 0 add actions with footer stats — then a DELTA append
    lands on top. The old planktable log still time-travels
    (n_at_convert reads it); the final state reads through the Delta
    log."""
    from plankton_spark.sources.delta_log import (
        DeltaLogWriter,
        read_delta,
    )
    from plankton_spark import table_format
    from plankton_spark.sources import delta_log

    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    t = _fresh_table(spark, sf_dir, "pt_cross")  # rmtree'd fresh
    t.create(o.where(F.col("o_orderkey") < 1000))
    t.delete_where(F.col("o_orderstatus") == "F")
    delta_log.author(spark, t.path, table_format.inventory)
    w = DeltaLogWriter(spark, t.path)
    w.append(
        o.where(
            (F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 1500)
        ).coalesce(1)
    )
    n_then = t.read(version=1).count()
    return read_delta(spark, t.path).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    ).withColumn("n_at_convert", F.lit(n_then).cast("long"))


@query(
    "q_table_cdc",
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
def q_table_cdc(spark, sf_dir):
    """Change-data-feed between two table versions: net row-level
    inserts/deletes via multiset snapshot diff (exceptAll both ways),
    so the answer is independent of WHICH files the delete rewrote —
    rows re-written byte-identical contribute nothing. The oracle
    re-derives the same diff relationally from the source fixtures."""
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    t = _fresh_table(spark, sf_dir, "pt_cdc")
    t.create(o.where(F.col("o_orderkey") < 1000))
    t.append(o.where((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000)))
    t.delete_where(F.col("o_orderstatus") == "F")
    return (
        t.diff(1, 2)
        .groupBy("_change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
    )


@query(
    "q_table_optimize",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(l_quantity * 100) AS BIGINT) AS qty_cents
    FROM lineitem
    WHERE l_orderkey <= 4000 AND l_orderkey BETWEEN 1500 AND 2500
    GROUP BY l_returnflag
    """,
)
def q_table_optimize(spark, sf_dir):
    """OPTIMIZE (compaction + 1-D clustering): many small appended
    files are rewritten range-clustered on l_orderkey, then a stats-
    pruned scan of one key range answers the aggregate. Content must
    be byte-identical to the pre-compaction table — the oracle is the
    plain relational answer over the source."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        (F.col("l_quantity").cast("decimal(12,2)") * 100).cast("long").alias(
            "qty_cents"
        ),
    )
    t = _fresh_table(spark, sf_dir, "pt_lineitem")
    # simulate a streaming sink's small-files problem: 4 appends
    t.create(li.where(F.col("l_orderkey") <= 1000))
    for lo in (1000, 2000, 3000):
        t.append(
            li.where((F.col("l_orderkey") > lo) & (F.col("l_orderkey") <= lo + 1000))
        )
    t.optimize(sort_by=["l_orderkey"], num_files=4)
    return (
        t.scan({"l_orderkey": (1500, 2500)})
        .where(F.col("l_orderkey").between(1500, 2500))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("qty_cents").alias("qty_cents"),
        )
    )


@query(
    "q_table_merge",
    oracle="""
    WITH base AS (
      SELECT c_custkey, c_mktsegment,
             CAST(c_acctbal AS DECIMAL(12,2)) AS bal
      FROM customer WHERE c_custkey <= 500
    ),
    src AS (
      SELECT c_custkey, c_mktsegment,
             CAST(c_acctbal AS DECIMAL(12,2)) + 1000 AS bal
      FROM customer WHERE c_custkey > 250 AND c_custkey <= 750
    ),
    merged AS (
      SELECT * FROM base WHERE c_custkey NOT IN (SELECT c_custkey FROM src)
      UNION ALL
      SELECT * FROM src
    )
    SELECT c_mktsegment, COUNT(*) AS n_rows,
           ROUND(CAST(SUM(bal) AS DOUBLE), 2) AS total_bal
    FROM merged GROUP BY c_mktsegment
    """,
)
def q_table_merge(spark, sf_dir):
    """MERGE/upsert into a planktable: keys 251..500 get updated
    balances, 501..750 are inserts. The merge rewrites only the files
    whose footer key-range overlaps the source (file-stats pruning);
    the oracle re-derives the post-merge table relationally."""
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.col("c_acctbal").cast("decimal(12,2)").alias("bal"),
    )
    t = _fresh_table(spark, sf_dir, "pt_customer")
    t.create(c.where(F.col("c_custkey") <= 500))
    src = c.where((F.col("c_custkey") > 250) & (F.col("c_custkey") <= 750)).select(
        "c_custkey", "c_mktsegment", (F.col("bal") + 1000).alias("bal")
    )
    t.merge(src, "c_custkey")
    return (
        t.read()
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("bal").cast("double"), 2).alias("total_bal"),
        )
    )


@query(
    "q_table_incremental",
    oracle="""
    WITH final AS (
      SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(12,2)) AS price
      FROM orders
      WHERE o_orderkey < 2000 AND o_orderstatus <> 'F'
    )
    SELECT o_orderstatus, COUNT(*) AS n_rows,
           ROUND(CAST(SUM(price) AS DOUBLE), 2) AS total_price
    FROM final GROUP BY o_orderstatus
    """,
)
def q_table_incremental(spark, sf_dir):
    """Incremental materialized-view maintenance: the grouped MV is
    computed ONCE at version 0, then brought up to date by folding in
    ONLY the CDC delta (insert rows +1, delete rows -1) — never
    rescanning the base table. At 100 TB the delta is |changes|, not
    |table|; this is the standard signed-delta IVM algebra for
    count/sum aggregates. The oracle recomputes the view directly on
    the final snapshot — any drift between incremental and full
    recompute fails the hash. Zero-count groups (status 'F' fully
    deleted) must drop out of the maintained view."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
    )
    t = _fresh_table(spark, sf_dir, "pt_incr")
    t.create(o.where(F.col("o_orderkey") < 1000))
    v0 = t.latest_version()
    mv0 = t.read(version=v0).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("price").cast("decimal(18,2)").alias("total"),
    )
    # table evolves: more rows arrive, then a retention delete
    t.append(o.where((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000)))
    t.delete_where(F.col("o_orderstatus") == "F")
    sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    delta = (
        t.diff(v0, t.latest_version())
        .groupBy("o_orderstatus")
        .agg(
            F.sum(sign).alias("dn"),
            F.sum(F.col("price") * sign).cast("decimal(18,2)").alias("dtotal"),
        )
    )
    lit0 = F.lit(0).cast("decimal(18,2)")
    return (
        mv0.join(delta, "o_orderstatus", "full_outer")
        .select(
            "o_orderstatus",
            (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n_rows"),
            F.round(
                (F.coalesce("total", lit0) + F.coalesce("dtotal", lit0)).cast(
                    "double"
                ),
                2,
            ).alias("total_price"),
        )
        .where(F.col("n_rows") > 0)
    )


@query(
    "q_scan_planktable",
    oracle="""
    WITH snap AS (
      SELECT n_nationkey, n_regionkey, n_name FROM nation
    )
    SELECT n_regionkey, COUNT(*) AS n_rows,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
           MIN(n_name) AS first_name
    FROM snap GROUP BY n_regionkey
    """,
)
def q_scan_planktable(spark, sf_dir):
    """Read a planktable through the standard reader API
    (`spark.read.format("planktable")` — Python DataSource wrapper,
    one Arrow-batched partition per data file). The table is created
    from `nation` in two commits so the scanned snapshot spans
    multiple files; the oracle is the plain relational answer."""
    from plankton_spark.sources.planktable_ds import register

    register(spark)
    n = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", "n_name"
    )
    t = _fresh_table(spark, sf_dir, "pt_nation")
    t.create(n.where(F.col("n_nationkey") < 12))
    t.append(n.where(F.col("n_nationkey") >= 12))
    df = spark.read.format("planktable").option("path", t.path).load()
    return df.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_nationkey").cast("long").alias("key_sum"),
        F.min("n_name").alias("first_name"),
    )


@query(
    "q_table_update",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey < 1500
    ),
    updated AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'O' THEN cents + 1000
                  ELSE cents END AS cents
      FROM base
    ),
    agg AS (
      SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(cents) AS BIGINT) AS cents_sum
      FROM updated GROUP BY o_orderstatus
    )
    SELECT fmt, o_orderstatus, n_rows, cents_sum
    FROM agg, (VALUES ('planktable'), ('delta'), ('iceberg')) f(fmt)
    """,
)
def q_table_update(spark, sf_dir):
    """UPDATE ... SET across all THREE formats: the same cents-exact
    update (status 'O' rows +1000 cents) through each format's
    update_where — hit files rewritten with matched rows transformed
    and unmatched rows verbatim, untouched files never moved. The
    oracle applies the same UPDATE relationally x3; a format whose
    rewrite drops, duplicates, or double-applies rows is a hash
    mismatch naming it."""
    import shutil as _shutil

    from plankton_spark.queries.scans import _scratch
    from plankton_spark.sources.delta_log import DeltaLogWriter, read_delta
    from plankton_spark.sources.iceberg_meta import IcebergWriter, read_iceberg
    from plankton_spark.table_format import PlankTable

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).where(F.col("o_orderkey") < 1500)
    roots = {f: _scratch(sf_dir, f"upd_{f}") for f in
             ("planktable", "delta", "iceberg")}
    for r in roots.values():
        _shutil.rmtree(r, ignore_errors=True)
    pt = PlankTable(spark, roots["planktable"])
    dw = DeltaLogWriter(spark, roots["delta"])
    iw = IcebergWriter(spark, roots["iceberg"])
    pt.create(o)
    dw.create(o)
    iw.create(o)
    cond = F.col("o_orderstatus") == "O"
    assign = {"cents": F.col("cents") + 1000}
    pt.update_where(assign, cond)
    dw.update_where(assign, cond)
    iw.update_where(assign, cond)
    reads = {
        "planktable": pt.read(),
        "delta": read_delta(spark, roots["delta"]),
        "iceberg": read_iceberg(spark, roots["iceberg"]),
    }
    parts = [
        df.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("cents_sum"),
        )
        .withColumn("fmt", F.lit(fmt))
        for fmt, df in reads.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("fmt", "o_orderstatus", "n_rows", "cents_sum")
