"""Warm passes reuse compiled code: Spark's codegen LRU must hold the
working set of the plans the engine runs again and again, or every
warm pass recompiles its classes with Janino and restarts them in the
JVM interpreter (session.CODEGEN_CACHE_ENTRIES)."""

from __future__ import annotations

from plankton_spark.cache import reset_session_memos
from plankton_spark.queries import scans
from plankton_spark.registry import all_queries
from tests.conftest import SF0001

LLM = [
    "q_dedup_minhash", "q_sim_cosine_topk", "q_cluster_kmeans",
    "q_text_quality", "q_pipeline_e2e",
]
# q_dedup_minhash meets up to 13 new classes once its persisted frames
# are warm (8 of them are the same code under other codegen stage ids,
# which are part of the class name), and timing decides whether the
# second or the third pass meets them. So up to two more passes may
# run for the set to settle; an LRU smaller than the working set
# recompiles ~100 classes on every pass and never reaches 0.
MAX_PASSES = 5


def compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_pass_compiles_nothing(spark, tmp_path, monkeypatch):
    # q_pipeline_e2e writes its sink and ledger under scans.SCRATCH
    monkeypatch.setattr(scans, "SCRATCH", str(tmp_path))
    qs = all_queries()
    new = []
    for _ in range(MAX_PASSES):
        per_query = {}
        for name in LLM:
            reset_session_memos()
            before = compiles(spark)
            qs[name](spark, SF0001).write.format("noop").mode("overwrite").save()
            per_query[name] = compiles(spark) - before
        new.append(per_query)
        if len(new) >= 3 and not any(per_query.values()):
            break
    assert not any(new[-1].values()), f"new codegen compiles per pass: {new}"
