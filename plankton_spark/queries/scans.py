"""Scans, sources, sinks (SURVEY.md §2.1).

Roundtrip queries write to a scratch dir under the repo (overwrite
mode, deterministic path per query+sf) and read back; the oracle
checks the equivalent aggregate straight off the source table, so a
lossy sink shows up as a hash mismatch.

Scale notes: the partitioned sink (partitionBy) is the 100 TB layout
primitive — readers of one partition value never touch the others
(partition pruning, q_sink_partition_prune asserts it); CSV/JSON
sinks exist for interchange, parquet is the performance path.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from plankton_spark import SCRATCH_ROOT
from plankton_spark.functions import dsum, sql_sum
from plankton_spark.io import SCHEMAS, read_table
from plankton_spark.registry import query

SCRATCH = SCRATCH_ROOT


def _scratch(sf_dir: str, name: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir))
    return f"{SCRATCH}/{tag}/{name}"


@query(
    "q_scan_parquet",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def q_scan_parquet(spark, sf_dir):
    """Full parquet scan, all columns."""
    return read_table(spark, sf_dir, "region").select("r_regionkey", "r_name")


@query(
    "q_scan_pruned",
    oracle="""
    SELECT l_orderkey, l_quantity FROM lineitem WHERE l_orderkey < 2000
    """,
)
def q_scan_pruned(spark, sf_dir):
    """Column-pruned scan: ReadSchema must collapse to 2 of 11 columns
    (asserted by tests/test_plans.py)."""
    return (
        read_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") < 2000)
        .select("l_orderkey", "l_quantity")
    )


@query(
    "q_scan_csv",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(n_nationkey) AS BIGINT) AS sum_nk,
           CAST(SUM(n_regionkey) AS BIGINT) AS sum_rk,
           MIN(n_name) AS min_name
    FROM nation
    """,
)
def q_scan_csv(spark, sf_dir):
    """CSV sink → schema-pinned CSV source → aggregate (shadow on the
    source table proves the roundtrip lossless)."""
    path = _scratch(sf_dir, "nation_csv")
    read_table(spark, sf_dir, "nation").write.mode("overwrite").option(
        "header", True
    ).csv(path)
    back = spark.read.schema(SCHEMAS["nation"]).option("header", True).csv(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_nationkey").cast("long").alias("sum_nk"),
        F.sum("n_regionkey").cast("long").alias("sum_rk"),
        F.min("n_name").alias("min_name"),
    )


@query(
    "q_scan_json",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(r_regionkey) AS BIGINT) AS sum_rk,
           MAX(r_name) AS max_name
    FROM region
    """,
)
def q_scan_json(spark, sf_dir):
    """JSON-lines sink → source roundtrip."""
    path = _scratch(sf_dir, "region_json")
    read_table(spark, sf_dir, "region").write.mode("overwrite").json(path)
    back = spark.read.schema(SCHEMAS["region"]).json(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("r_regionkey").cast("long").alias("sum_rk"),
        F.max("r_name").alias("max_name"),
    )


@query(
    "q_sink_parquet",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n_orders, {sql_sum('o_totalprice', 'revenue')}
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_sink_parquet(spark, sf_dir):
    """Hive-style partitioned parquet sink, read back whole."""
    path = _scratch(sf_dir, "orders_by_status")
    read_table(spark, sf_dir, "orders").write.mode("overwrite").partitionBy(
        "o_orderstatus"
    ).parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), "revenue"),
    )


@query(
    "q_sink_partition_prune",
    oracle=f"""
    SELECT COUNT(*) AS n_orders, {sql_sum('o_totalprice', 'revenue')}
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_sink_partition_prune(spark, sf_dir):
    """Read back ONLY the o_orderstatus='F' partition — the filter
    prunes directories before any file IO (PartitionFilters in the
    plan; asserted by tests/test_plans.py)."""
    path = _scratch(sf_dir, "orders_by_status")
    read_table(spark, sf_dir, "orders").write.mode("overwrite").partitionBy(
        "o_orderstatus"
    ).parquet(path)
    back = spark.read.parquet(path).where(F.col("o_orderstatus") == "F")
    return back.agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), "revenue"),
    )
