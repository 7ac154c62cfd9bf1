"""CLI for the local oracle gate. See tools/oracle_check.py."""

from __future__ import annotations

import argparse
import fnmatch
import sys
import time

sys.path.insert(0, ".")

from plankton_spark.registry import all_oracles, all_queries  # noqa: E402
from plankton_spark.session import get_spark  # noqa: E402
from tools.oracle_check import duck_connect, run_one  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="query names or globs (default: all)")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="use a plain SparkSession.builder session (driver simulation) "
        "instead of the engine's tuned get_spark — catches hidden "
        "dependencies on engine session confs",
    )
    args = ap.parse_args()

    qs = all_queries()
    oracles = all_oracles()
    names = list(qs)
    if args.names:
        names = [n for n in qs if any(fnmatch.fnmatch(n, p) for p in args.names)]
    if not names:
        print("no queries matched", file=sys.stderr)
        return 2

    if args.vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[*]")
            .appName("oracle-check-vanilla")
            .getOrCreate()
        )
    else:
        spark = get_spark("oracle-check")
    con = duck_connect(args.sf)
    n_ok = 0
    t0 = time.time()
    for name in names:
        t = time.time()
        res = run_one(spark, con, name, qs[name], oracles.get(name), args.sf)
        dt = time.time() - t
        mark = "PASS" if res.ok else "FAIL"
        extra = res.detail if (res.detail and not res.ok) else ""
        if res.ok and res.detail:
            extra = f"[{res.detail}]"
        print(f"{mark} {name:28s} rows={res.spark_rows:<7d} {dt:5.1f}s {extra}")
        for d in res.diffs:
            print(f"       {d[:220]}")
        n_ok += res.ok
    # Janino compiles in this JVM and their total time: what sizes and
    # re-checks session.CODEGEN_CACHE_ENTRIES
    jvm = spark.sparkContext._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    n_compiles = metrics.METRIC_COMPILATION_TIME().getCount()
    compile_s = codegen.compileTime() / 1e9
    print(
        f"== {n_ok}/{len(names)} passed in {time.time() - t0:.1f}s (sf={args.sf}) "
        f"codegen: {n_compiles} compiles in {compile_s:.1f}s"
    )
    return 0 if n_ok == len(names) else 1


if __name__ == "__main__":
    sys.exit(main())
