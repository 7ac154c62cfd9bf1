"""Per-query breakdown of the headline bench (optimization round 13).

Splits each warm materialization into plan-build (Python DataFrame
construction), analysis (schema resolution) and execution (noop sink),
and records per-stage wall times from the event log so the slow part
of each query is attributable to a concrete stage/operator rather than
guessed at. Read-only diagnostics; bench.py remains the driver
contract.

Usage: python tools/profile_headline.py [query ...]
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, ".")

from plankton_spark.registry import all_queries  # noqa: E402
from plankton_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q_agg_group",
    "q_join_inner",
    "q_join_broadcast",
    "q_topk_pergroup",
    "q_win_running",
    "q_agg_pivot",
    "q_stream_tumbling",
    "q_dedup_minhash",
    "q_sim_cosine_topk",
    "q_text_quality",
]

EVLOG_DIR = "/tmp/spark-events-profile"


def main() -> None:
    os.makedirs(EVLOG_DIR, exist_ok=True)
    for f in glob.glob(EVLOG_DIR + "/*"):
        if os.path.isdir(f):
            import shutil

            shutil.rmtree(f, ignore_errors=True)
        else:
            os.remove(f)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Event-log confs must exist at JVM launch; PYSPARK_SUBMIT_ARGS
    # composes with get_spark's builder confs. Spark 4.1 otherwise
    # writes a rolling, compressed eventlog_v2_* directory, which the
    # line parser below cannot read: ask for one plain JSON file.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.eventLog.enabled=true "
        "--conf spark.eventLog.compress=false "
        "--conf spark.eventLog.rolling.enabled=false "
        f"--conf spark.eventLog.dir={EVLOG_DIR} pyspark-shell"
    )
    spark = get_spark("profile-headline", shuffle_partitions=32)

    qs = all_queries()
    names = sys.argv[1:] or HEADLINE

    def materialize(df):
        df.write.format("noop").mode("overwrite").save()

    materialize(qs["q_scan_parquet"](spark, sf_dir))

    results = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        materialize(qs[name](spark, sf_dir))  # cold/warm-up
        best = None
        for i in range(3):
            spark.sparkContext.setJobDescription(f"{name}:run{i}")
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            t1 = time.time()
            _ = df.schema  # analysis
            t2 = time.time()
            materialize(df)
            t3 = time.time()
            row = (
                round(t1 - t0, 3),
                round(t2 - t1, 3),
                round(t3 - t2, 3),
                round(t3 - t0, 3),
            )
            if best is None or row[3] < best[3]:
                best = row
        results[name] = best
        print(
            f"{name:22s} build={best[0]:6.3f} analyze={best[1]:6.3f} "
            f"exec={best[2]:6.3f} total={best[3]:6.3f}",
            flush=True,
        )
    spark.sparkContext.setJobDescription(None)
    spark.stop()

    # Stage attribution from the event log: group stages by the job
    # description active when their job was submitted.
    print("\n== stage attribution (warm best-effort; all runs pooled) ==")
    stage_rows = []
    job_desc: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    for path in glob.glob(EVLOG_DIR + "/*"):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                e = ev.get("Event")
                if e == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    desc = ev.get("Properties", {}).get(
                        "spark.job.description", ""
                    )
                    job_desc[jid] = desc
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif e == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    sid = si["Stage ID"]
                    sub = si.get("Submission Time")
                    comp = si.get("Completion Time")
                    if sub is None or comp is None:
                        continue
                    stage_rows.append(
                        (
                            job_desc.get(stage_job.get(sid, -1), "?"),
                            sid,
                            si.get("Stage Name", "")[:60],
                            si.get("Number of Tasks"),
                            round((comp - sub) / 1000.0, 3),
                        )
                    )
    if not stage_rows:
        # an empty attribution must fail, not print nothing
        raise RuntimeError(
            f"no completed stages parsed from the event log in {EVLOG_DIR}"
        )
    per_desc: dict[str, float] = {}
    for desc, sid, sname, ntasks, secs in stage_rows:
        per_desc[desc] = per_desc.get(desc, 0.0) + secs
    for desc in sorted(per_desc):
        print(f"{desc:28s} stage-sum={per_desc[desc]:7.3f}")
    print("\n== slowest stages ==")
    for desc, sid, sname, ntasks, secs in sorted(
        stage_rows, key=lambda r: -r[4]
    )[:40]:
        print(f"{secs:7.3f}s  {desc:24s} tasks={ntasks:<4} {sname}")


if __name__ == "__main__":
    main()
