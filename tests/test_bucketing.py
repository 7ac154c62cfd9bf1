"""Bucketed-table join (SCALE.md): pre-shuffled layout so the big
recurring join runs with NO exchange on either side — the 100 TB
co-located-join primitive. Uses a session-scoped warehouse under the
repo scratch dir."""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from plankton_spark import SCRATCH_ROOT
from plankton_spark.io import read_table
from tests.conftest import SF0001
from tests.test_plans import plan_of


def test_bucketed_join_has_no_shuffle(spark):
    import shutil

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.sql("CREATE DATABASE IF NOT EXISTS bucketdemo")
    spark.sql("DROP TABLE IF EXISTS bucketdemo.orders_b")
    spark.sql("DROP TABLE IF EXISTS bucketdemo.customer_b")
    # in-memory catalog: DROP TABLE forgets orphaned managed dirs
    shutil.rmtree(
        os.path.join(SCRATCH_ROOT, "warehouse", "bucketdemo.db"), ignore_errors=True
    )

    read_table(spark, SF0001, "orders").write.bucketBy(8, "o_custkey").sortBy(
        "o_custkey"
    ).mode("overwrite").saveAsTable("bucketdemo.orders_b")
    read_table(spark, SF0001, "customer").write.bucketBy(8, "c_custkey").sortBy(
        "c_custkey"
    ).mode("overwrite").saveAsTable("bucketdemo.customer_b")

    o = spark.table("bucketdemo.orders_b")
    c = spark.table("bucketdemo.customer_b")
    # disable auto-broadcast so the join would otherwise shuffle
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = o.join(c, o.o_custkey == c.c_custkey).groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("n")
        )
        plan = plan_of(j)
        assert "SortMergeJoin" in plan
        # exactly ONE exchange may exist: the post-aggregation one —
        # the join itself reads both bucketed sides shuffle-free
        exchanges = re.findall(r"\(\d+\) Exchange", plan)
        assert len(exchanges) == 1, plan
        # and the result is still right
        got = {r["c_mktsegment"]: r["n"] for r in j.collect()}
        want = {
            r["c_mktsegment"]: r["n"]
            for r in read_table(spark, SF0001, "orders")
            .join(
                read_table(spark, SF0001, "customer"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_q_join_bucketed_query_plan_is_shuffle_free(spark):
    """The DECLARED query (q_join_bucketed) carries the same plan
    guarantee the capability test above proves by hand: with
    broadcast off, the join is a SortMergeJoin over the bucketed
    scans and the only exchange in the plan is the final groupBy's."""
    from plankton_spark.registry import all_queries

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = all_queries()["q_join_bucketed"](spark, SF0001)
        plan = plan_of(df)
        assert "SortMergeJoin" in plan, plan
        exchanges = re.findall(r"\(\d+\) Exchange", plan)
        assert len(exchanges) == 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_scan_bloom_writes_filter_bytes(spark, tmp_path):
    """q_scan_bloom's write options must actually land bloom filters
    in the file: same data written with and without the option, the
    bloom variant is measurably larger (pyarrow 16 doesn't expose
    bloom offsets, so byte delta is the observable)."""
    d = read_table(spark, SF0001, "orders").coalesce(1)
    plain, bloom = str(tmp_path / "plain"), str(tmp_path / "bloom")
    d.write.mode("overwrite").parquet(plain)
    (
        d.write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#o_custkey", "true")
        .option("parquet.bloom.filter.expected.ndv#o_custkey", "200000")
        # dictionary-encoded columns get no bloom filter (the dict
        # already serves row-group skipping) — disable it, same as
        # the query does, to land the real filter
        .option("parquet.enable.dictionary#o_custkey", "false")
        .parquet(bloom)
    )

    def _bytes(p):
        return sum(
            os.path.getsize(os.path.join(p, f))
            for f in os.listdir(p)
            if f.endswith(".parquet")
        )

    assert _bytes(bloom) > _bytes(plain) + 1024, (
        _bytes(bloom),
        _bytes(plain),
    )


def test_scan_bloom_rows_match_plain_predicate(spark):
    from plankton_spark.registry import all_queries

    got = sorted(
        (r.o_orderkey, r.o_custkey)
        for r in all_queries()["q_scan_bloom"](spark, SF0001).collect()
    )
    want = sorted(
        (r.o_orderkey, r.o_custkey)
        for r in read_table(spark, SF0001, "orders")
        .where(F.col("o_custkey") == 42)
        .collect()
    )
    assert got == want
