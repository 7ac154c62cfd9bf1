"""SparkSession factory.

Scale posture (SURVEY.md §4.2, §8): AQE on (coalesce partitions,
skew-join splitting, runtime plan switch), explicit shuffle
partitions sized for the local harness, UTC session timezone so
timestamp literals agree with the DuckDB oracle, and Arrow enabled
for every Python<->JVM interchange (pandas UDFs, toPandas).

On a real cluster the same builder is used with
``spark.sql.shuffle.partitions`` sized to ~2-3x total cores and
``spark.sql.files.maxPartitionBytes`` left at 128m so a 100 TB scan
fans out to ~800k input splits; nothing in the engine assumes
single-JVM execution.

Codegen cache: Spark keeps each compiled whole-stage / expression
class in one JVM-wide LRU of ``spark.sql.codegen.cache.maxEntries``
entries (default 100). The engine runs the same plans over and over
in one long-lived session, and one pass of the five LLM queries
alone generates ~140 distinct classes (a ``dml_mixed`` warm pass
115-140), so at the default every warm pass recompiled 57-100
classes with Janino (0.35-0.54 s per pass) and restarted them in the
JVM interpreter. ``CODEGEN_CACHE_ENTRIES`` holds several such
working sets; with it those queries compile nothing after two or
three passes. The cost is the metaspace of the retained classes:
+7 MB (+1.2%) driver memory on the LLM benchmark, and 248 MB of
metaspace at the end of the 377-query gate (233 MB at the default),
whose 4,630 distinct classes the cap bounds (268 MB uncapped).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from plankton_spark import SCRATCH_ROOT

# Compiled classes Spark's codegen LRU keeps; see the module docstring.
CODEGEN_CACHE_ENTRIES = 2000


def get_spark(
    app_name: str = "plankton-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int = 32,
) -> SparkSession:
    """Local-mode session for tests/bench; cluster deploys reuse the confs."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # µs (the parquet/arrow interop standard), not the legacy INT96
        # default: INT96 round-trips as timestamp[ns] through pyarrow,
        # which the Python DataSource Arrow bridge rejects, and every
        # other engine (DuckDB, Trino, Iceberg spec) treats µs as
        # canonical
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # many wide generated-code queries in one JVM exhaust the
        # default JIT code cache (~240m) → hot loops fall back to the
        # interpreter with ~10x slowdowns; observed live on the bench
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=2g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # CBO + stats-driven join reorder: both are no-ops unless the
        # plan reads CATALOG tables carrying ANALYZE TABLE stats
        # (path-based parquet reads have none), so session-wide-on is
        # side-effect-free; catalog.register + catalog.analyze make a
        # table eligible, and tests/test_cbo.py pins that the reorder
        # actually fires (and stops firing when stats are dropped)
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.warehouse.dir", os.path.join(SCRATCH_ROOT, "warehouse"))
    )
    return builder.getOrCreate()
