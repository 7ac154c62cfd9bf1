"""Round-14 optimization invariants.

1. cache.reset_session_memos() empties exactly the four executed-result
   memos (r13 verdict item 1) and leaves the plan-handle caches alone,
   so the bench's per-run reset forces recompute without losing the
   resolved-relation/view reuse.
2. q_cte_recursive builds LAZILY against a valve child session: the
   calling session's recursion-row guard is untouched and the returned
   plan still runs through the UnionLoop executor (no eager
   localCheckpoint LogicalRDD).
3. q_graph_bfs returns a plan whose frontier depths are checkpointed
   leaves — linear size — and whose results match the persisted-chain
   form it replaced (oracle equivalence is pinned by the gate; here we
   pin the plan shape).
4. The streaming feed schema helpers equal what DataSource.schema()
   derives, so explicit readStream schemas can never drift.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from plankton_spark import cache
from plankton_spark.io import read_table
from plankton_spark.registry import all_queries
from tests.conftest import SF001, SF0001


def test_reset_session_memos_clears_result_memos(spark):
    from plankton_spark.queries import llm_vectors as lv
    from plankton_spark.queries import scale_patterns as sp

    lv._CKPT_REUSE[("app", "k")] = ("frame", "ckpt")
    lv._KMEANS_MEMO[("app", "sf", 4, 0, 0)] = ("a", "c")
    sp._MLP_MEMO["app"] = ("e", "l")
    sp._EDGE_MEMO[("app", "sf")] = "edges"
    cache._TRACKED["__r14_probe"] = None  # plan-handle cache sentinel
    cache.reset_session_memos()
    assert not lv._CKPT_REUSE
    assert not lv._KMEANS_MEMO
    assert not sp._MLP_MEMO
    assert not sp._EDGE_MEMO
    # plan-handle caches survive the reset
    assert "__r14_probe" in cache._TRACKED
    cache._TRACKED.pop("__r14_probe")


def test_gemm_checkpoint_recomputes_after_reset(spark):
    """After a reset, the eager survivor checkpoint is rebuilt (a new
    checkpointed frame), and its values are unchanged."""
    from plankton_spark.queries import llm_vectors as lv

    q = all_queries()["q_sim_cosine_topk"]
    cache.reset_session_memos()
    q(spark, SF001)
    first = dict(lv._CKPT_REUSE)
    assert first, "build must populate the checkpoint memo"
    cache.reset_session_memos()
    assert not lv._CKPT_REUSE
    out = sorted(
        (r["q_id"], r["rnk"], r["n_id"], r["cos"])
        for r in q(spark, SF001).collect()
    )
    second = dict(lv._CKPT_REUSE)
    assert second, "rebuild must repopulate the memo"
    (k1, v1), (k2, v2) = next(iter(first.items())), next(iter(second.items()))
    assert k1 == k2 and v1[1] is not v2[1], "reset must force a fresh checkpoint"
    assert len(out) > 0


def _cached_rdds(spark, at_most=None) -> int:
    """RDDs cached in the block manager; with `at_most`, waits up to
    5 s for non-blocking unpersists to bring the count down to it."""
    import time

    for _ in range(50):
        n = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
        if at_most is None or n <= at_most:
            break
        time.sleep(0.1)
    return n


def test_dropped_checkpoints_are_unpersisted(spark):
    """Neither a reset nor a replaced generation leaves the eager
    survivor checkpoint it drops cached: over four builds of
    q_sim_cosine_topk with a reset before each, the cached-RDD count
    stays flat (it grew by one per build while dropped checkpoints
    waited for a driver GC)."""
    from plankton_spark.queries import llm_vectors as lv

    q = all_queries()["q_sim_cosine_topk"]
    counts: list[int] = []
    for _ in range(4):
        cache.reset_session_memos()
        q(spark, SF0001)
        counts.append(_cached_rdds(spark, counts[0] if counts else None))
    assert counts == [counts[0]] * 4, counts
    lv._checkpoint_reuse("__drop_probe", spark.range(10))
    n = _cached_rdds(spark)
    lv._checkpoint_reuse("__drop_probe", spark.range(20))  # replaces it
    assert _cached_rdds(spark, n) == n
    cache.reset_session_memos()


def test_recursive_builds_lazy_in_valve_session(spark):
    """Build is lazy (UnionLoop survives in the returned plan, no
    LogicalRDD swap) and the calling session's valve is untouched."""
    before = spark.conf.get("spark.sql.cteRecursionRowLimit")
    df = all_queries()["q_cte_recursive"](spark, SF001)
    assert spark.conf.get("spark.sql.cteRecursionRowLimit") == before
    assert int(before) <= 1_000_000
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "UnionLoop" in plan, "returned plan must still be the lazy recursion"
    # the child session carries the raised valve
    assert df.sparkSession is not spark
    assert int(df.sparkSession.conf.get("spark.sql.cteRecursionRowLimit")) > 10**8


def test_bfs_plan_is_linear_checkpointed(spark):
    df = all_queries()["q_graph_bfs"](spark, SF001)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # each of the 4 frontier depths is a checkpointed-RDD leaf
    assert plan.count("LogicalRDD") >= 4
    # the quadratic nested-union shape is gone: the optimized plan is
    # bounded (was ~2000 lines before the truncation)
    assert len(plan.splitlines()) < 200


def test_multiset_equal_matches_exceptall_semantics(spark):
    """_multiset_equal == (exceptAll empty both ways), including the
    duplicate-sensitive and null-key cases, and it must actually
    DETECT differences (the RLI twin literals depend on it)."""
    from plankton_spark.queries.hudi_interop import _multiset_equal

    mk = lambda rows: spark.createDataFrame(rows, "k int, s string")  # noqa: E731
    a = mk([(1, "x"), (1, "x"), (2, None)])
    assert _multiset_equal(a, mk([(1, "x"), (1, "x"), (2, None)]))
    # duplicate multiplicity differs
    assert not _multiset_equal(a, mk([(1, "x"), (2, None)]))
    # value differs
    assert not _multiset_equal(a, mk([(1, "x"), (1, "x"), (3, None)]))
    # one side empty
    assert not _multiset_equal(a, mk([]).select("k", "s"))
    # null-key groups compare null-safe
    assert _multiset_equal(mk([(None, None)]), mk([(None, None)]))
    assert not _multiset_equal(mk([(None, None)]), mk([(None, "y")]))


def test_stream_schema_helpers_match_sources(spark):
    """Explicit readStream schemas must equal DataSource.schema()."""
    import shutil

    from plankton_spark.sources.hudi_meta import (
        HudiIncrDataSource,
        HudiWriter,
        incr_schema,
    )

    root = "/tmp/r14_schema_helper/tbl"
    shutil.rmtree("/tmp/r14_schema_helper", ignore_errors=True)
    o = read_table(spark, SF001, "orders").select("o_orderkey", "o_orderstatus")
    w = HudiWriter(
        spark, root, record_key="o_orderkey", table_type="MERGE_ON_READ"
    )
    w.create(o.where(F.col("o_orderkey") < 50))
    ds = HudiIncrDataSource(options={"path": root})
    assert ds.schema() == incr_schema(root)
