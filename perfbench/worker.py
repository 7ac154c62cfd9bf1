"""One measured benchmark run, in a fresh process (started by run.py).

Closed loop, one client: every query or verb starts only after the
previous one returned. The run

1. sets up the session once, timed from process start (imports, JVM
   launch, first session, input resolution and engine warm-up) as
   ``setup_s``;
2. runs the first pass, the workload's ``WARMUP`` passes, then timed
   warm passes for ``--seconds`` (at least its ``MIN_WARM``);
3. checks every result outside the timed region;
4. prints one JSON line of run context, then the result line.

With ``--trace 1`` each query or verb runs in its own Spark job group,
the status store is read after it, and the per-layer metrics are
printed instead of the end-to-end ones.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from pyspark.sql import SparkSession  # noqa: E402

from plankton_spark import io as pio  # noqa: E402
from plankton_spark.cache import reset_session_memos  # noqa: E402
from plankton_spark.queries import scans  # noqa: E402
from plankton_spark.registry import all_oracles, all_queries  # noqa: E402
from plankton_spark.session import get_spark  # noqa: E402
from plankton_spark.streaming import jobs as stream_jobs  # noqa: E402
from tools.oracle_check import compare, duck_connect  # noqa: E402

import dml  # noqa: E402
from spans import Spans, StatusProbe  # noqa: E402

T_IMPORTED = time.perf_counter()

LLM = [
    "q_dedup_minhash", "q_sim_cosine_topk", "q_cluster_kmeans",
    "q_text_quality", "q_pipeline_e2e",
]
# Tables the query workload resolves during set-up.
LLM_TABLES = ["documents", "embeddings"]
# Untimed warm-up passes after the first pass. The first warm pass of
# dml_mixed is the first call of each verb other than append, whose
# one-off JIT and code-generation cost would swamp its steady cost; the
# llm queries are still faster on their third pass than on their second.
WARMUP = {"llm_sf0.01": 1, "dml_mixed": 1}
# Timed warm passes a workload runs at least, so that each operation's
# warm latency is the median of that many samples.
MIN_WARM = {"llm_sf0.01": 3, "dml_mixed": 1}


def pin_paths(work: str) -> None:
    """The engine roots its scratch tables and SQL warehouse at fixed
    absolute paths; point them inside the benchmark's work directory so
    a run reads and writes only inside its checkout."""
    scans.SCRATCH = os.path.join(work, "scratch")
    stream_jobs.SCRATCH = os.path.join(work, "scratch", "streaming")
    warehouse = os.path.join(work, "warehouse")
    create = SparkSession.Builder.getOrCreate

    def get_or_create(self):
        self._options["spark.sql.warehouse.dir"] = warehouse
        return create(self)

    SparkSession.Builder.getOrCreate = get_or_create


def driver_mem(spark) -> dict[str, float]:
    """Memory the program holds, in MB: the driver JVM's live heap after
    a full GC, its non-heap pools (metaspace, code cache), its direct
    buffers, and this process's max RSS. Unlike the JVM's RSS these do
    not follow how far the heap was grown or how recently it was
    collected."""
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory
    mem = mx.getMemoryMXBean()
    # Drop Python's references to JVM objects and let the status
    # listener take in every queued event; the minimum over a few
    # spaced full GCs then leaves out what Spark's context cleaner and
    # status store release asynchronously.
    gc.collect()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    live = []
    for _ in range(3):
        jvm.java.lang.System.gc()
        live.append(mem.getHeapMemoryUsage().getUsed())
        time.sleep(0.3)
    pools = mx.getPlatformMXBeans(jvm.java.lang.Class.forName("java.lang.management.BufferPoolMXBean"))
    return {
        "jvm_heap_live": min(live) / 2**20,
        "jvm_non_heap": mem.getNonHeapMemoryUsage().getUsed() / 2**20,
        "jvm_buffers": sum(p.getMemoryUsed() for p in pools) / 2**20,
        "python_max_rss": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
    }


def jvm_hwm_mb(spark) -> float:
    """Peak RSS of the driver JVM (VmHWM)."""
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return -1.0


def cpu_steal_s() -> float:
    """CPU seconds, summed over all CPUs since boot, in which this
    machine had work to run but its hypervisor ran another guest."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def page_cache_gib() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("Cached:"):
                return int(line.split()[1]) / 2**20
    return -1.0


def tail(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return {"n": n, "pct": None, "value": None}
    return {"n": n, "pct": 100 * (n - 10) / n, "value": sorted(values)[n - 11]}


class Run:
    def __init__(self, args):
        self.args = args
        self.traced = bool(args.trace)
        self.rng = random.Random(args.seed)
        self.spans = Spans(f"{args.workload}-{args.seed}-{os.getpid()}")
        self.spans.add("python.import", T_PROCESS, T_IMPORTED)
        self.inject = args.inject_wrong
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None
        self.probe = None
        self.groups = 0
        # one dict per pass: wall, ops [(name, latency)], spark counters
        # per op (traced), and seconds spent building, resetting memos
        # and tracing; the timed warm passes start at passes[self.warm0]
        self.passes: list[dict] = []
        self.warm0 = 1
        self.cur: dict = {}
        self.results: dict = {}
        self.detail: dict[str, float] = {}

    # ---- set-up -------------------------------------------------------

    def setup(self) -> float:
        """Seconds from process start to a ready session."""
        with self.spans.span("setup"):
            with self.spans.span("session.get_spark"):
                self.spark = get_spark("perfbench", shuffle_partitions=32)
            with self.spans.span("inputs.resolve"):
                self.resolve()
            with self.spans.span("warmup"):
                self.warm_up()
            if self.args.workload != "dml_mixed":
                with self.spans.span("python_workers"):
                    self.start_python_workers()
        setup = time.perf_counter() - T_PROCESS
        if self.traced:
            self.probe = StatusProbe(self.spark)
            with self.spans.span("probe.self_check"):
                group = self.next_group()
                self.probe.set_group(group)
                self.warm_up()
                self.probe.set_group(None)
                self.probe.self_check(group)
        return setup

    def resolve(self) -> None:
        wl = self.args.workload
        if wl == "dml_mixed":
            self.tables = dml.Tables(self.spark, os.path.join(self.args.run_dir, "tables"))
            for fmt in dml.FORMATS:
                self.tables.replay(fmt)
            return
        for t in LLM_TABLES:
            pio.read_table(self.spark, self.args.sf_dir, t)

    def warm_up(self) -> None:
        """Engine warm-up: the flagship query on the tiny corpus."""
        q = all_queries()["q_agg_group"](self.spark, self.args.warmup_dir)
        q.write.format("noop").mode("overwrite").save()

    def start_python_workers(self) -> None:
        """Start a Python worker per task slot with pandas and pyarrow
        imported, as the LLM queries' Arrow UDFs need, so the first pass
        times the queries rather than interpreter start-up."""
        par = self.spark.sparkContext.defaultParallelism
        df = self.spark.range(par, numPartitions=par)
        df.mapInPandas(lambda batches: batches, "id long").write.format("noop").mode("overwrite").save()

    def next_group(self) -> str:
        self.groups += 1
        return f"{self.spans.run_id}:{self.groups}"

    # ---- passes and operations ---------------------------------------

    def measure(self, run_pass) -> None:
        """The first pass, the warm-up passes, then timed warm passes for
        ``--seconds`` and at least the workload's ``MIN_WARM``. With
        ``--quick``: no warm-up and exactly one warm pass."""
        quick, wl = self.args.quick, self.args.workload
        run_pass(True)
        for _ in range(0 if quick else WARMUP[wl]):
            run_pass(False)
        self.warm0 = len(self.passes)
        need = 1 if quick else MIN_WARM[wl]
        t0 = time.perf_counter()
        while len(self.passes) - self.warm0 < need or (
            not quick and time.perf_counter() - t0 < self.args.seconds
        ):
            run_pass(False)

    def warm_ops(self) -> dict[str, float]:
        """Each operation's median latency over the timed warm passes."""
        samples = defaultdict(list)
        for p in self.passes[self.warm0:]:
            for name, latency in p["ops"]:
                samples[name].append(latency)
        return {name: statistics.median(v) for name, v in samples.items()}

    def new_pass(self) -> dict:
        self.cur = {"wall": 0.0, "ops": [], "spark": [], "build": 0.0, "reset": 0.0, "tracing": 0.0}
        self.passes.append(self.cur)
        return self.cur

    def op(self, name: str, body, traced: bool) -> None:
        """Run ``body`` as one timed operation of the current pass. A
        raised error counts as failed and the run goes on."""
        self.attempted += 1
        group = self.next_group() if traced else None
        with self.spans.span(f"op:{name}") as op_span:
            with self.spans.span("cache.reset_session_memos") as sp:
                reset_session_memos()
            self.cur["reset"] += sp.s
            if traced:
                self.probe.set_group(group)
            try:
                body()
            except Exception:  # noqa: BLE001 - counted as a failed operation
                self.fail(name, traceback.format_exc())
            finally:
                if traced:
                    self.probe.set_group(None)
        self.cur["ops"].append((name, op_span.s))
        if traced:
            with self.spans.span("probe.status") as sp:
                self.cur["spark"].append(self.probe.group(group))
            self.cur["tracing"] += sp.s

    def fail(self, name: str, detail: str) -> None:
        self.failed += 1
        self.failures.append(name)
        print(f"FAILED {name}: {detail}", file=sys.stderr)

    # ---- query workloads ---------------------------------------------

    def query_pass(self, names: list[str], first: bool) -> None:
        qs = all_queries()
        p = self.new_pass()
        with self.spans.span("pass.first" if first else "pass.warm") as pass_span:
            for name in names:

                def body(name=name):
                    layer = "framework.pipeline" if name == "q_pipeline_e2e" else f"queries.build:{name}"
                    with self.spans.span(layer) as sp:
                        df = qs[name](self.spark, self.args.sf_dir)
                    p["build"] += sp.s
                    with self.spans.span("spark.execute"):
                        if first:
                            self.results[name] = df.toPandas()
                        else:
                            df.write.format("noop").mode("overwrite").save()

                self.op(name, body, self.traced)
        p["wall"] = pass_span.s

    def check_queries(self) -> None:
        """Each first-pass result against its DuckDB oracle; a query
        without one must return rows."""
        oracles = all_oracles()
        con = duck_connect(self.args.sf_dir)
        try:
            for name, pdf in sorted(self.results.items()):
                if self.inject:
                    pdf, self.inject = pdf.iloc[:-1], False
                with self.spans.span(f"check:{name}"):
                    if name in oracles:
                        r = compare(name, pdf, con.execute(oracles[name]).fetchdf())
                        ok, why = r.ok, f"{r.detail} {r.diffs}"
                    else:
                        ok, why = len(pdf) > 0, "rows-only check: no rows"
                if not ok:
                    self.fail(name, why)
        finally:
            con.close()
        self.results = {}

    def run_queries(self, names: list[str]) -> None:
        order = names[:]

        def run_pass(first: bool) -> None:
            self.rng.shuffle(order)
            self.query_pass(order, first)

        self.measure(run_pass)
        with self.spans.span("check"):
            self.check_queries()
        for name, latency in self.passes[0]["ops"]:
            self.detail[f"q.{name}.first_s"] = latency
        for name, latency in self.warm_ops().items():
            self.detail[f"q.{name}.warm_s"] = latency

    # ---- dml_mixed -----------------------------------------------------

    def dml_pass(self, first: bool) -> None:
        """The first pass appends; a warm pass runs every other verb
        once. The order is fixed and the seed draws each verb's rows,
        keys and predicates. Each verb is one step: a commit and a
        snapshot read on each format, then the untimed content check."""
        verbs = ["append"] if first else list(dml.WARM_VERBS)
        if self.args.quick:
            verbs = verbs[:1]
        tables = self.tables
        p = self.new_pass()
        with self.spans.span("pass.first" if first else "pass.warm"):
            for verb in verbs:
                t0 = time.perf_counter()
                with self.spans.span("plan.build") as sp:
                    arg, rows = self.seq.arg(self.spark, verb)
                p["build"] += sp.s
                for fmt in dml.FORMATS:

                    def body(fmt=fmt):
                        with self.spans.span(f"{fmt}.{verb}") as sp:
                            tables.commit(fmt, verb, arg)
                        self.detail_add(f"{fmt}.{verb}_s", sp.s)
                        with self.spans.span(f"{fmt}.read") as sp:
                            tables.read(fmt).write.format("noop").mode("overwrite").save()
                        self.detail_add(f"{fmt}.read_s", sp.s)

                    self.op(f"{fmt}.{verb}", body, self.traced)
                    if self.traced:
                        self.detail_add(f"{fmt}.jobs", p["spark"][-1]["jobs"])
                        with self.spans.span(f"{fmt}.replay") as sp:
                            self.detail[f"{fmt}.live_files"] = tables.replay(fmt)
                        self.detail_add(f"{fmt}.replay_s", sp.s)
                        p["tracing"] += sp.s
                p["wall"] += time.perf_counter() - t0
                self.seq.apply(verb, arg, rows)
                with self.spans.span("check"):
                    self.check_tables(verb)

    def check_tables(self, step: str) -> None:
        """All four formats hold the same content, and it has the row
        count and key sum the sequence expects."""
        try:
            digests = self.tables.digests()
        except Exception:  # noqa: BLE001 - an unreadable table fails the check
            self.fail(f"check:{step}", traceback.format_exc())
            return
        expected = self.seq.expected()
        if self.inject:
            expected, self.inject = (expected[0] + 1, expected[1]), False
        ref = digests["planktable"]
        for fmt, d in digests.items():
            if d != ref or d[:2] != expected:
                self.fail(f"check:{fmt}", f"after {step}: {d} vs expected {expected}")

    def run_dml(self) -> None:
        base = self.tables.read("planktable").select("k", "grp").collect()
        self.seq = dml.Sequence(self.rng, ((r["k"], r["grp"]) for r in base))
        bytes0 = self.table_bytes()
        self.measure(self.dml_pass)
        for fmt, b in self.table_bytes().items():
            self.detail[f"{fmt}.bytes_written_mb"] = (b - bytes0[fmt]) / 2**20
        if self.traced:
            commits = sum(len(p["ops"]) for p in self.passes) / len(dml.FORMATS)
            for fmt in dml.FORMATS:
                self.detail[f"{fmt}.jobs_per_commit"] = self.detail.pop(f"{fmt}.jobs") / commits

    def table_bytes(self) -> dict[str, int]:
        return {
            fmt: sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)
            for fmt, path in self.tables.paths.items()
        }

    def detail_add(self, key: str, value: float) -> None:
        self.detail[key] = self.detail.get(key, 0.0) + value

    # ---- metrics -----------------------------------------------------

    def end_to_end(self, setup: float, mem: dict[str, float]) -> dict:
        """``warm_pass_s`` is a warm pass rebuilt from each operation's
        median warm latency, so one slow pass does not move it."""
        warm = self.warm_ops()
        return {
            "setup_s": (setup, "s"),
            "first_pass_s": (self.passes[0]["wall"], "s"),
            "warm_pass_s": (sum(warm.values()), "s"),
            "driver_mem_mb": (sum(mem.values()), "MB"),
        }

    def per_layer(self, t_end: float) -> dict:
        first, warm = self.passes[0], self.passes[self.warm0]
        out = {
            "session.get_spark_s": (self.spans.durations("session.get_spark")[0], "s"),
            "inputs.resolve_s": (self.spans.durations("inputs.resolve")[0], "s"),
            "cache.reset_s": (warm["reset"], "s"),
            "plan.build_first_s": (first["build"], "s"),
            "plan.build_warm_s": (warm["build"], "s"),
        }
        par = self.spark.sparkContext.defaultParallelism
        for label, p in (("first", first), ("warm", warm)):
            tot = {k: sum(s[k] for s in p["spark"]) for k in StatusProbe.KEYS}
            for k in StatusProbe.KEYS:
                unit = "s" if k.endswith("_s") else "MB" if k.endswith("_mb") else "count"
                out[f"{label}.spark.{k}"] = (tot[k], unit)
            busy = tot["executor_run_s"] / (tot["exec_s"] * par) if tot["exec_s"] else 0.0
            out[f"{label}.spark.busy_ratio"] = (busy, "ratio")
            out[f"{label}.driver.self_s"] = (p["wall"] - tot["exec_s"], "s")
        rdds, mb = self.probe.storage()
        out["cache.persisted_rdds"] = (rdds, "count")
        out["cache.storage_mb"] = (mb, "MB")
        out["trace.coverage"] = (self.spans.coverage(T_PROCESS, t_end), "ratio")
        out["trace.warm_pass_s"] = (sum(self.warm_ops().values()), "s")
        out["trace.overhead_s"] = (warm["tracing"], "s")
        return out

    def main(self) -> int:
        pin_paths(self.args.work)
        load0 = os.getloadavg()
        cache0 = page_cache_gib()
        steal0 = cpu_steal_s()
        setup = self.setup()
        if self.args.workload == "dml_mixed":
            self.run_dml()
        else:
            self.run_queries(LLM)
        t_end = time.perf_counter()
        # read the status store before driver_mem's GC lets Spark
        # unpersist blocks whose handles died
        layers = self.per_layer(t_end) if self.traced else None
        mem = driver_mem(self.spark)
        warm_ops = [lat for p in self.passes[self.warm0:] for _, lat in p["ops"]]
        context = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "nproc": len(os.sched_getaffinity(0)),
            "default_parallelism": self.spark.sparkContext.defaultParallelism,
            "loadavg_start": load0,
            "loadavg_end": os.getloadavg(),
            "page_cache_gib": cache0,
            "cpu_steal_s": cpu_steal_s() - steal0,
            "passes": len(self.passes),
            "setup_s": setup,
            "jvm_hwm_mb": jvm_hwm_mb(self.spark),
            "driver_mem_mb": mem,
            "op_p50_s": statistics.median(warm_ops),
            "op_tail_s": tail(warm_ops),
            "pass_walls_s": [p["wall"] for p in self.passes],
            "warm_ops_s": [op for p in self.passes[self.warm0:] for op in p["ops"]],
            "failures": self.failures,
        }
        if self.traced:
            context["self_time_s"] = self.spans.self_times()
            context["layers"] = self.detail
            metrics = layers
            traces = os.path.join(self.args.work, "traces")
            os.makedirs(traces, exist_ok=True)
            self.spans.write(os.path.join(traces, f"{self.spans.run_id}.jsonl"))
        else:
            metrics = self.end_to_end(setup, mem)
        print(json.dumps({"context": context}))
        print(
            json.dumps(
                {
                    "correct": self.failed == 0,
                    "attempted": self.attempted,
                    "failed": self.failed,
                    "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                }
            ),
            flush=True,
        )
        return 0

    def close(self) -> None:
        if self.spark is not None:
            stop_jvm(self.spark)


def stop_jvm(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def prepare_dml(out: str, base_rows: int, history: int) -> None:
    """Build the four base tables once: ``base_rows`` rows, then
    ``history`` appends so the logs start near a checkpoint boundary."""
    spark = get_spark("perfbench-prepare", shuffle_partitions=32)
    try:
        tables = dml.Tables(spark, out)
        rng = random.Random(0)
        _, base = dml.batch(spark, rng, list(range(base_rows)))
        base = base.coalesce(1).cache()
        for fmt in dml.FORMATS:
            tables.create(fmt, base)
        for i in range(history):
            _, df = dml.batch(spark, rng, list(range(1_000_000 + i * 1000, 1_000_000 + i * 1000 + 500)))
            df = df.coalesce(1).cache()
            for fmt in dml.FORMATS:
                tables.commit(fmt, "append", df)
        digests = tables.digests()
        if len(set(digests.values())) != 1:
            raise RuntimeError(f"prepared tables differ: {digests}")
    finally:
        stop_jvm(spark)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--sf-dir")
    ap.add_argument("--warmup-dir")
    ap.add_argument("--run-dir")
    ap.add_argument("--quick", action="store_true")
    ap.add_argument("--inject-wrong", action="store_true")
    ap.add_argument("--prepare-dml")
    ap.add_argument("--base-rows", type=int, default=50_000)
    ap.add_argument("--history", type=int, default=0)
    args = ap.parse_args()
    if args.prepare_dml:
        pin_paths(args.work)
        prepare_dml(args.prepare_dml, args.base_rows, args.history)
        return 0
    run = Run(args)
    try:
        return run.main()
    finally:
        run.close()


if __name__ == "__main__":
    sys.exit(main())
