"""Framework-parity tests (SURVEY.md §5.2.3): DAG construction, cycle
detection, fingerprint chaining, ledger cache-skip, observability."""

from __future__ import annotations

import dataclasses
import os

import pytest

from pyspark.sql import functions as F

from plankton_spark import SCRATCH_ROOT
from plankton_spark.framework import CycleError, Operator, Pipeline, RunLedger, fingerprint
from plankton_spark.framework.pipeline import pipeline_status
from plankton_spark.io import read_table
from tests.conftest import SF0001

SCRATCH = os.path.join(SCRATCH_ROOT, "framework")


@dataclasses.dataclass(frozen=True)
class FilterParams:
    min_qty: float = 30.0


def test_fingerprint_determinism_and_sensitivity():
    a = fingerprint("op", FilterParams(30.0), ["x"])
    assert a == fingerprint("op", FilterParams(30.0), ["x"])
    assert a != fingerprint("op", FilterParams(31.0), ["x"])
    assert a != fingerprint("op2", FilterParams(30.0), ["x"])
    assert a != fingerprint("op", FilterParams(30.0), ["y"])
    # dict key order must not matter
    assert fingerprint("op", {"b": 1, "a": 2}) == fingerprint("op", {"a": 2, "b": 1})


def test_fingerprint_rejects_unserializable():
    with pytest.raises(TypeError):
        fingerprint("op", object())


def _build(spark, ledger=None, cache_window=None, sink=None):
    src = Operator.wrap(
        "read_lineitem", lambda _: read_table(spark, SF0001, "lineitem")
    )
    filt = Operator.wrap(
        "filter_qty",
        lambda ins: ins["read_lineitem"].where(F.col("l_quantity") > 30.0),
        FilterParams(30.0),
    )
    agg = Operator.wrap(
        "agg_by_flag",
        lambda ins: ins["filter_qty"]
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n")),
    )
    p = Pipeline("t", spark, ledger=ledger, cache_window_sec=cache_window)
    p.add(src).add(filt, deps=["read_lineitem"]).add(
        agg, deps=["filter_qty"], sink_path=sink
    )
    return p


def test_pipeline_runs_dag(spark):
    res = _build(spark).run()
    rows = {r["l_returnflag"]: r["n"] for r in res["agg_by_flag"].collect()}
    want = {
        r["l_returnflag"]: r["n"]
        for r in read_table(spark, SF0001, "lineitem")
        .where(F.col("l_quantity") > 30.0)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert rows == want


def test_cycle_detection(spark):
    p = Pipeline("cyc", spark)
    p.add(Operator.wrap("a", lambda i: None), deps=["b"])
    p.add(Operator.wrap("b", lambda i: None), deps=["a"])
    with pytest.raises(CycleError):
        p.topo_order()


def test_unknown_dep(spark):
    p = Pipeline("bad", spark)
    p.add(Operator.wrap("a", lambda i: None), deps=["ghost"])
    with pytest.raises(KeyError):
        p.topo_order()


def test_duplicate_name(spark):
    p = Pipeline("dup", spark)
    p.add(Operator.wrap("a", lambda i: None))
    with pytest.raises(ValueError):
        p.add(Operator.wrap("a", lambda i: None))


def test_ledger_cache_skip(spark, tmp_path):
    ledger = RunLedger(str(tmp_path / "ledger.jsonl"))
    sink = str(tmp_path / "agg_out")
    p = _build(spark, ledger=ledger, cache_window=3600, sink=sink)
    p.run()
    states1 = [r["state"] for r in ledger.status()]
    assert "success" in states1

    # second run: the sink op must be skipped via fingerprint + output
    p2 = _build(spark, ledger=ledger, cache_window=3600, sink=sink)
    p2.run()
    agg_recs = [r for r in ledger.records() if r["op"] == "agg_by_flag"]
    assert agg_recs[-1]["state"] == "skipped_cached"

    # force re-runs despite cache
    p3 = _build(spark, ledger=ledger, cache_window=3600, sink=sink)
    p3.run(force=True)
    agg_recs = [r for r in ledger.records() if r["op"] == "agg_by_flag"]
    assert agg_recs[-1]["state"] == "success"


def test_failed_rerun_invalidates_prior_success(spark, tmp_path):
    """A failed (or crashed-mid-overwrite, i.e. dangling 'running')
    re-run of the same fingerprint must invalidate the older success:
    parquet overwrite is not atomic on a local FS, so the sink may be
    partially rewritten and must be recomputed, not read as cached."""
    ledger = RunLedger(str(tmp_path / "ledger.jsonl"))
    sink = str(tmp_path / "agg_out")
    _build(spark, ledger=ledger, cache_window=3600, sink=sink).run()
    fp = [r for r in ledger.records() if r["op"] == "agg_by_flag"][-1]["fingerprint"]
    assert ledger.has_fresh_success(fp, 3600)

    # simulate a forced re-run dying mid-overwrite
    ledger.append({"op": "agg_by_flag", "fingerprint": fp, "state": "running"})
    ledger.append({"op": "agg_by_flag", "fingerprint": fp, "state": "failed"})
    assert not ledger.has_fresh_success(fp, 3600)

    # the next run must recompute (and its success re-arms the cache)
    _build(spark, ledger=ledger, cache_window=3600, sink=sink).run()
    agg_recs = [r for r in ledger.records() if r["op"] == "agg_by_flag"]
    assert agg_recs[-1]["state"] == "success"
    assert ledger.has_fresh_success(fp, 3600)


def test_param_change_invalidates_cache(spark, tmp_path):
    ledger = RunLedger(str(tmp_path / "ledger.jsonl"))
    sink = str(tmp_path / "agg_out")
    _build(spark, ledger=ledger, cache_window=3600, sink=sink).run()

    # same pipeline but a different upstream param → new fingerprint
    src = Operator.wrap("read_lineitem", lambda _: read_table(spark, SF0001, "lineitem"))
    filt = Operator.wrap(
        "filter_qty",
        lambda ins: ins["read_lineitem"].where(F.col("l_quantity") > 40.0),
        FilterParams(40.0),
    )
    agg = Operator.wrap(
        "agg_by_flag",
        lambda ins: ins["filter_qty"].groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")),
    )
    p = Pipeline("t", spark, ledger=ledger, cache_window_sec=3600)
    p.add(src).add(filt, deps=["read_lineitem"]).add(agg, deps=["filter_qty"], sink_path=sink)
    p.run()
    agg_recs = [r for r in ledger.records() if r["op"] == "agg_by_flag"]
    assert agg_recs[-1]["state"] == "success"  # not skipped


def test_describe_and_status(spark, tmp_path):
    ledger = RunLedger(str(tmp_path / "ledger.jsonl"))
    p = _build(spark, ledger=ledger)
    text = p.describe()
    assert "read_lineitem" in text and "agg_by_flag <- filter_qty" in text
    mermaid = p.describe("mermaid")
    assert "filter_qty --> agg_by_flag" in mermaid
    p.run()
    status = pipeline_status(ledger)
    assert "t/agg_by_flag" in status and "success" in status


def test_observed_metrics_land_in_ledger(spark, tmp_path):
    """observe() aggregates piggyback on the sink write (one action)
    and land in the ledger success row — plankton's run-record row
    counts without a second scan."""
    ledger = RunLedger(str(tmp_path / "ledger.jsonl"))
    sink = str(tmp_path / "agg_out")
    src = Operator.wrap("read_lineitem", lambda _: read_table(spark, SF0001, "lineitem"))
    agg = Operator.wrap(
        "agg_by_flag",
        lambda ins: ins["read_lineitem"]
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n")),
    )
    p = Pipeline("obs", spark, ledger=ledger)
    p.add(src).add(
        agg,
        deps=["read_lineitem"],
        sink_path=sink,
        metrics={
            "rows": F.count(F.lit(1)),
            "total_n": F.sum("n"),
            "max_n": F.max("n"),
        },
    )
    res = p.run()
    out = {r["l_returnflag"]: r["n"] for r in res["agg_by_flag"].collect()}
    rec = [r for r in ledger.records() if r["op"] == "agg_by_flag"][-1]
    assert rec["state"] == "success"
    m = rec["metrics"]
    assert m["rows"] == len(out)
    assert m["total_n"] == sum(out.values())
    assert m["max_n"] == max(out.values())


def test_metrics_require_sink(spark):
    p = Pipeline("bad", spark)
    with pytest.raises(ValueError, match="sink_path"):
        p.add(Operator.wrap("a", lambda i: None), metrics={"rows": F.count(F.lit(1))})


def test_register_as_binds_sink_to_catalog_name(spark, tmp_path):
    """round-9 verdict #7: register_as registers the sink into the SQL
    catalog after the run (and re-registers on cache-skip), the ledger
    records the name, and describe() renders it — schedule + catalog
    compose."""
    from plankton_spark import catalog

    ledger = RunLedger(str(tmp_path / "ledger.jsonl"))
    sink = str(tmp_path / "reg_out")
    src = Operator.wrap(
        "read_li", lambda _: read_table(spark, SF0001, "lineitem")
    )
    agg = Operator.wrap(
        "agg_flag",
        lambda ins: ins["read_li"]
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n")),
    )
    p = Pipeline("regp", spark, ledger=ledger, cache_window_sec=3600)
    p.add(src).add(
        agg, deps=["read_li"], sink_path=sink, register_as="plk_reg_agg"
    )
    try:
        p.run()
        got = spark.sql("SELECT SUM(n) AS s FROM plk_reg_agg").collect()[0]["s"]
        assert got == read_table(spark, SF0001, "lineitem").count()
        recs = [r for r in ledger.records() if r["op"] == "agg_flag"]
        assert recs[-1]["state"] == "success"
        assert recs[-1]["registered_as"] == "plk_reg_agg"
        assert "[sql plk_reg_agg]" in p.describe()
        # cache-skipped rerun must still leave the name resolvable
        # (fresh-session shape: drop the registration first)
        catalog.unregister(spark, "plk_reg_agg")
        p2 = Pipeline("regp", spark, ledger=ledger, cache_window_sec=3600)
        p2.add(src).add(
            agg, deps=["read_li"], sink_path=sink, register_as="plk_reg_agg"
        )
        p2.run()
        recs = [r for r in ledger.records() if r["op"] == "agg_flag"]
        assert recs[-1]["state"] == "skipped_cached"
        assert recs[-1]["registered_as"] == "plk_reg_agg"
        assert spark.sql("SELECT COUNT(*) AS n FROM plk_reg_agg").collect()[0]["n"] > 0
    finally:
        catalog.unregister(spark, "plk_reg_agg")


def test_register_as_requires_sink(spark):
    src = Operator.wrap("s", lambda _: read_table(spark, SF0001, "nation"))
    p = Pipeline("bad", spark)
    with pytest.raises(ValueError, match="register_as needs a sink_path"):
        p.add(src, register_as="plk_nope")
