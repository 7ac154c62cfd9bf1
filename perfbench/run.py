"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The first call prepares the inputs
under ``perfbench/.work`` (idempotent: a finished step leaves a marker
and is skipped after). Each run then gets a fresh process, a fresh
table root and a fresh Spark session, and this script relays the
worker's last stdout line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. On any error it
exits non-zero without printing a result.

Workloads (why each was chosen is also in BENCHMARK.json):

- ``llm_sf0.01``: 5 LLM/vector queries (MinHash dedup, cosine top-k,
  k-means, text quality, the end-to-end pipeline). Arrow /
  ``applyInPandas`` work, single-task checkpoint stages and the result
  memos.
- ``dml_mixed``: append, delete, update, merge and optimize on
  PlankTable, Delta, Iceberg and Hudi COW tables of 50k+ rows, each
  commit followed by a snapshot read. Driver-side log replay and the
  commit path; no large scans, no LLM kernels.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

CORPUS_SEED = 42
# name -> scale factor
CORPORA = {"llm": 0.01, "tiny": 0.001}
WORKLOADS = {"llm_sf0.01": "llm", "dml_mixed": None}
# dml_mixed base tables: 50k rows (version 0), then 19 appends, so a
# run's first commit is version 20 and writes the PlankTable and Delta
# checkpoint (every 10 versions)
DML_BASE = {"base_rows": 50_000, "history": 19}
DML_SELFTEST = {"base_rows": 2_000, "history": 0}
RUN_TIMEOUT_S = 170
PREPARE_TIMEOUT_S = 600


def engine_present() -> bool:
    return all(
        os.path.isfile(os.path.join(ROOT, p))
        for p in ("plankton_spark/__init__.py", "tools/oracle_check.py")
    )


def ready(path: str, params: dict) -> bool:
    try:
        with open(os.path.join(path, ".ready.json")) as fh:
            return json.load(fh)["params"] == params
    except (OSError, ValueError, KeyError):
        return False


def mark_ready(path: str, params: dict, **extra) -> None:
    with open(os.path.join(path, ".ready.json"), "w") as fh:
        json.dump({"params": params, **extra}, fh)


def corpus(name: str) -> str:
    """Build corpus ``name`` once and check its row counts against the
    parquet footers on every call."""
    import gen
    import pyarrow.parquet as pq

    sf = CORPORA[name]
    path = os.path.join(WORK, "corpus", name)
    params = {"seed": CORPUS_SEED, "sf": sf, "version": gen.VERSION}
    if not ready(path, params):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = gen.build_corpus(path, CORPUS_SEED, sf)
        mark_ready(path, params, rows=rows)
    with open(os.path.join(path, ".ready.json")) as fh:
        rows = json.load(fh)["rows"]
    for table, n in rows.items():
        got = pq.ParquetFile(os.path.join(path, f"{table}.parquet")).metadata.num_rows
        if got != n:
            raise RuntimeError(f"corpus {name}: {table} has {got} rows, expected {n}")
    return path


def reap(pgid: int) -> None:
    """Kill what is left of a worker's process group and wait until it
    is gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)
    raise RuntimeError(f"process group {pgid} did not exit")


def worker_env() -> dict:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=ROOT,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        # keep the JVMs' temp files inside the work dir, and write no
        # hsperfdata file to the system temp dir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
    )
    return env


def spawn(args: list[str], timeout: float) -> tuple[int, list[str]]:
    """Run worker.py in its own process group; returns (exit code,
    stdout lines)."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), "--work", WORK, *args],
        cwd=ROOT,
        env=worker_env(),
        stdout=subprocess.PIPE,
        text=True,
        start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        reap(proc.pid)
        proc.communicate()
        return -1, []
    finally:
        reap(proc.pid)
    return proc.returncode, out.splitlines()


def dml_base(params: dict, name: str) -> str:
    path = os.path.join(WORK, name)
    if not ready(path, params):
        shutil.rmtree(path, ignore_errors=True)
        rc, _ = spawn(
            [
                "--workload", "dml_mixed", "--prepare-dml", path,
                "--base-rows", str(params["base_rows"]),
                "--history", str(params["history"]),
            ],
            PREPARE_TIMEOUT_S,
        )
        if rc != 0:
            raise RuntimeError(f"preparing {name} failed with exit code {rc}")
        mark_ready(path, params)
    return path


def run_once(workload: str, seed: int, seconds: float, trace: int, extra=(), selftest=False):
    """One worker run; returns (context, result) parsed from its output."""
    tiny = corpus("tiny")
    kind = WORKLOADS[workload]
    args = [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--warmup-dir", tiny, *extra,
    ]
    run_dir = os.path.join(WORK, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if kind is None:
            base = dml_base(*((DML_SELFTEST, "dml_selftest") if selftest else (DML_BASE, "dml_base")))
            shutil.copytree(base, os.path.join(run_dir, "tables"), ignore=shutil.ignore_patterns(".ready.json"))
            args += ["--run-dir", run_dir]
        else:
            args += ["--sf-dir", tiny if selftest else corpus(kind)]
        rc, lines = spawn(args, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 or len(lines) < 2:
        raise RuntimeError(f"worker exited with {rc}")
    context, result = json.loads(lines[-2])["context"], json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise RuntimeError(f"malformed result line: {lines[-1]}")
    return context, result


def self_test() -> None:
    """The generated llm corpus matches the fixture shape statistics
    at its scale factor; then, on tiny inputs (sf0.001,
    one warm pass, two DML steps), every named metric is emitted with
    its unit, and a deliberately wrong result is counted as failed."""
    import shape

    sf = CORPORA["llm"]
    bad = shape.check(sf, shape.stats(corpus("llm")))
    if bad:
        raise SystemExit(f"self-test: corpus llm departs from the sf{sf} fixture shape: {bad}")
    print(f"ok corpus llm: {len(shape.REFERENCE[sf])} shape statistics match sf{sf}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        want = {m["name"]: m["unit"] for m in spec[key]}
        for w in spec["workloads"]:
            _, res = run_once(w["name"], 1, 0, trace, ["--quick"], selftest=True)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                raise SystemExit(f"self-test: {w['name']} trace={trace} metrics {got} != {want}")
            if not res["correct"] or res["failed"]:
                raise SystemExit(f"self-test: {w['name']} trace={trace} failed: {res}")
            print(f"ok {w['name']} trace={trace}: {len(got)} metrics, {res['attempted']} ops")
    for w in spec["workloads"]:
        _, res = run_once(w["name"], 1, 0, 0, ["--quick", "--inject-wrong"], selftest=True)
        if res["correct"] or res["failed"] < 1:
            raise SystemExit(f"self-test: injected wrong result not counted on {w['name']}: {res}")
        print(f"ok {w['name']}: injected wrong result counted ({res['failed']} failed)")
    print("self-test passed")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if not engine_present():
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    if args.self_test:
        self_test()
        return 0
    if not args.workload:
        ap.error("--workload is required")
    context, result = run_once(args.workload, args.seed, args.seconds, args.trace)
    print(json.dumps({"context": context}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
