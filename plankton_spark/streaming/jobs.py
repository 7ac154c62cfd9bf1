"""Structured Streaming jobs over the replayable `events` table.

Batch/stream symmetry is the design: every transformation here takes
a DataFrame (batch or streaming — Spark's unified model) so the
declared batch queries in queries/streaming_shadows.py and the
streaming replays in tests/test_streaming.py share one code path.

Scale posture: watermarks bound state (session/tumbling aggs evict
state once the watermark passes), availableNow gives backfill-with-
bounded-resources semantics, checkpoints make every job exactly-once
into its sink.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from plankton_spark import SCRATCH_ROOT
from plankton_spark.io import table_path

SCRATCH = os.path.join(SCRATCH_ROOT, "streaming")

# State-store partition count for the STATEFUL streaming shadows
# (optimization round 13). A stateful operator spins one state-store
# instance per shuffle partition, each paying per-micro-batch
# snapshot/commit overhead — inheriting the BATCH session's
# spark.sql.shuffle.partitions (200 in the driver's vanilla session)
# means 200 state stores for a fixture stream with a few hundred
# keys, which dominated q_stream_session_changelog's wall. State
# sizing is a deliberate per-stream decision (key cardinality × state
# row width), not the batch shuffle default, so it is parameterized
# here with a local default; results are partitioning-invariant
# (oracle-hash pinned). Spark persists the count in the checkpoint's
# offset log, so resumed queries keep their original partitioning
# regardless of this setting.
STREAM_STATE_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "8")
)


@contextlib.contextmanager
def stream_state_partitions(spark: SparkSession, n: int | None = None):
    """Temporarily pin spark.sql.shuffle.partitions while a stateful
    streaming query plans its first micro-batch; restores the batch
    session's value afterwards (same pattern as read_table's
    nanosAsLong conf)."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n or STREAM_STATE_PARTITIONS))
    try:
        yield
    finally:
        spark.conf.set(key, old)

EVENTS_NANOS_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)
EVENTS_NTZ_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)
EVENTS_LTZ_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _events_ts_encoding(parquet_file: str) -> str:
    """Classify the fixture's physical ts encoding; the driver has
    regenerated events.parquet with different encodings across rounds
    (r4 shipped TIMESTAMP(NANOS), r5 TIMESTAMP(MICROS) NTZ), so every
    encoding a parquet writer can emit must route to a working branch:

    - ``ns-long``: TIMESTAMP(NANOS) — Spark's vectorized reader only
      accepts it as epoch-nanos LONG via the legacy conf.
    - ``ltz``: INT96 (legacy Impala/Hive writers) or isAdjustedToUTC
      ms/µs — Spark reads these natively as TimestampType.
    - ``ntz``: ms/µs with isAdjustedToUTC=false — TIMESTAMP_NTZ,
      value-preserving cast to LTZ under the UTC session tz.

    Probes the *parquet* schema (not the arrow view: pyarrow presents
    INT96 as timestamp[ns], which would misroute it to the long branch).
    """
    import json

    import pyarrow.parquet as pq

    sch = pq.ParquetFile(parquet_file).schema
    col = next(sch.column(i) for i in range(len(sch)) if sch.column(i).name == "ts")
    if col.physical_type == "INT96":
        return "ltz"
    lt = json.loads(col.logical_type.to_json())
    if lt.get("Type") == "Timestamp":
        if lt.get("timeUnit") == "nanoseconds":
            return "ns-long"
        return "ltz" if lt.get("isAdjustedToUTC") else "ntz"
    return "ntz"


def _events_source_key(sf_dir: str) -> str:
    """Stage-dir key tied to the source file's identity, so a
    regenerated fixture never replays a stale staged copy."""
    import os

    st = os.stat(table_path(sf_dir, "events"))
    return f"{st.st_size}_{int(st.st_mtime)}"


def _normalized_events_stream(spark: SparkSession, stage: str, src: str, **opts):
    """readStream over `stage` with ts normalized to TimestampType
    (µs, session tz UTC) whichever physical encoding `src` has."""
    enc = _events_ts_encoding(src)
    if enc == "ns-long":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = EVENTS_NANOS_SCHEMA
    elif enc == "ltz":
        schema = EVENTS_LTZ_SCHEMA
    else:
        schema = EVENTS_NTZ_SCHEMA
    reader = spark.readStream.schema(schema).format("parquet")
    for k, v in opts.items():
        reader = reader.option(k, v)
    raw = reader.load(stage)
    if enc == "ns-long":
        return raw.withColumn(
            "ts", F.timestamp_micros(F.floor(F.col("ts") / F.lit(1000)).cast("long"))
        )
    if enc == "ntz":
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a replayable file-source stream.

    The file source consumes a *directory* (files arriving over time),
    so the fixture file is staged into a scratch dir once (keyed by the
    source's size+mtime so regenerated fixtures restage). ts is
    normalized to µs TimestampType whichever physical encoding the
    fixture has — see _normalized_events_stream / io.read_table.
    """
    import os

    tag = os.path.basename(os.path.normpath(sf_dir))
    stage = f"{SCRATCH}/{tag}/events_src_{_events_source_key(sf_dir)}"
    os.makedirs(stage, exist_ok=True)
    src = table_path(sf_dir, "events")
    if os.path.isdir(src):
        # directory fixture (gen_sf scale-ups write multi-part
        # tables): stage every part — the file source sees each as
        # one arrived file, same replay semantics
        import glob as _glob

        parts = sorted(_glob.glob(os.path.join(src, "*.parquet")))
        dst = f"{stage}/part00000.parquet"
        if not os.path.exists(dst):
            for i, p in enumerate(parts):
                shutil.copyfile(p, f"{stage}/part{i:05d}.parquet")
    else:
        dst = f"{stage}/events.parquet"
        if not os.path.exists(dst):
            shutil.copyfile(src, dst)
    return _normalized_events_stream(spark, stage, dst)


def with_second_ts(df: DataFrame) -> DataFrame:
    """Normalize ts to second precision (cross-engine-safe granularity)."""
    return df.withColumn("ts2", F.date_trunc("second", F.col("ts")))


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Tumbling 1h windows: count + decimal-sum(value) per (hour, type).

    value sums use the narrow scale-preserving DECIMAL(8,4) image of
    events.value (functions.D4_VALUE domain note): the accumulator
    compacts to a long with bit-identical HALF_UP rounding — batch and
    streaming twins change together (optimization round 13)."""
    e = with_second_ts(events)
    return (
        e.groupBy(F.window("ts2", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(8,4)")).cast("double"), 4).alias(
                "sum_value"
            ),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """Sliding 1h windows every 15 min."""
    e = with_second_ts(events)
    return (
        e.groupBy(F.window("ts2", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def session_windows(events: DataFrame) -> DataFrame:
    """First-level session-window aggregation (streamable: a single
    stateful aggregation; the per-user rollup happens downstream —
    streaming allows only one stateful agg per query)."""
    e = with_second_ts(events)
    return e.groupBy(F.session_window("ts2", "30 minutes").alias("sw"), "user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("ts2").alias("first_ts"),
        F.max("ts2").alias("last_ts"),
    ).select("user_id", "n", "first_ts", "last_ts")


def rollup_sessions(sessions: DataFrame) -> DataFrame:
    """Batch rollup of session rows to per-user stats."""
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n").cast("long").alias("n_events"),
        F.sum(
            F.unix_timestamp("last_ts") - F.unix_timestamp("first_ts")
        )
        .cast("long")
        .alias("total_dur_sec"),
    )


def session_stats(events: DataFrame) -> DataFrame:
    """Session windows (30 min gap) per user → per-user session stats."""
    return rollup_sessions(session_windows(events))


def enrich_with_user_dim(spark: SparkSession, events: DataFrame) -> DataFrame:
    """Stream-static join: events enriched with a synthetic user dim.

    The static side is tiny → Spark broadcasts it into every
    micro-batch; no stream-side shuffle.
    """
    dim = spark.range(0, 100_000).select(
        F.col("id").alias("user_id"),
        F.elt((F.col("id") % 3 + 1).cast("int"), F.lit("bronze"), F.lit("silver"), F.lit("gold")).alias(
            "segment"
        ),
    )
    return events.join(F.broadcast(dim), "user_id")


def segment_rollup(spark: SparkSession, events: DataFrame) -> DataFrame:
    e = enrich_with_user_dim(spark, events)
    return e.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4).alias(
            "sum_value"
        ),
    )


def run_available_now(
    df: DataFrame, *, run_name: str | None = None, output_mode: str = "complete"
) -> DataFrame:
    """Drain a streaming DataFrame with the availableNow trigger into a
    memory sink and return the final table (batch DataFrame)."""
    name = run_name or f"mem_{uuid.uuid4().hex[:8]}"
    ckpt = f"{SCRATCH}/ckpt_{name}"
    shutil.rmtree(ckpt, ignore_errors=True)
    with stream_state_partitions(df.sparkSession):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return df.sparkSession.table(name)


def purchase_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running purchase total kept
    in executor state (applyInPandasWithState — the GroupState API;
    transformWithStateInPandas is the Spark 4 successor but its state
    client requires google.protobuf, absent in this environment, so
    the engine ships the GroupState implementation as the supported
    path and gates the newer API behind availability).

    State is one double per user — at 100 TB of events this is
    bounded by |users|, checkpointed, and evicted per watermark.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    def running_total(key, pdfs, state):
        total = state.get[0] if state.exists else 0.0
        n = 0
        for pdf in pdfs:
            total += float(pdf["value"].sum())
            n += len(pdf)
        state.update((total,))
        yield pd.DataFrame(
            {"user_id": [key[0]], "total_value": [round(total, 4)], "n_rows": [n]}
        )

    e = with_second_ts(events).where(F.col("event_type") == "purchase")
    return (
        e.withWatermark("ts2", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            running_total,
            outputStructType="user_id long, total_value double, n_rows long",
            stateStructType="total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def read_events_stream_batched(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> DataFrame:
    """events as a multi-micro-batch stream: the fixture is staged as
    `n_files` time-sorted parquet slices and the file source consumes
    one per trigger (maxFilesPerTrigger=1), so watermarks advance
    batch-over-batch exactly as they would on a live ingest."""
    import os

    import pyarrow.parquet as pq

    tag = os.path.basename(os.path.normpath(sf_dir))
    stage = f"{SCRATCH}/{tag}/events_src_split{n_files}_{_events_source_key(sf_dir)}"
    if not os.path.exists(stage):
        os.makedirs(stage, exist_ok=True)
        tbl = pq.read_table(table_path(sf_dir, "events"))
        tbl = tbl.sort_by([("ts", "ascending"), ("event_id", "ascending")])
        n = tbl.num_rows
        for i in range(n_files):
            lo, hi = i * n // n_files, (i + 1) * n // n_files
            dst = f"{stage}/part{i:02d}.parquet"
            pq.write_table(tbl.slice(lo, hi - lo), dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    return _normalized_events_stream(
        spark, stage, f"{stage}/part00.parquet", maxFilesPerTrigger=1
    )


def watermarked_tumbling(events: DataFrame) -> DataFrame:
    """Append-mode tumbling rollup under a 1h watermark: a window row is
    emitted exactly once, after the watermark passes its end — the
    shape of an exactly-once hourly rollup feeding a downstream table
    at 100 TB (state is bounded to open windows, eviction is free)."""
    e = with_second_ts(events)
    return (
        e.withWatermark("ts2", "1 hour")
        .groupBy(F.window("ts2", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4).alias(
                "sum_value"
            ),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_foreach_batch_windowed(events: DataFrame, out_path: str) -> None:
    """foreachBatch windowed sink: finalized windows (append mode) land
    in parquet per micro-batch, tagged with batch_id so the write is
    idempotent under retries (checkpoint replays a batch → same rows,
    same batch_id → dedup-able downstream)."""
    ckpt = f"{out_path}_ckpt"
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(out_path, ignore_errors=True)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            out_path
        )

    q = (
        watermarked_tumbling(events)
        .writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_foreach_batch_to_parquet(events: DataFrame, out_path: str) -> None:
    """foreachBatch sink: per-micro-batch custom writer (append parquet).

    foreachBatch is the escape hatch for sinks Spark lacks natively;
    the batch_df inside is a normal DataFrame, so any batch writer
    works, with checkpoint-tracked exactly-once batch ids.
    """
    ckpt = f"{out_path}_ckpt"
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(out_path, ignore_errors=True)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_path)

    q = (
        events.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def view_click_pairs(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: each click matched to the same
    user's views in the preceding 10 minutes.

    Both sides carry a 1h watermark and the join condition bounds
    click_ts to [view_ts, view_ts + 10 min) — exactly what Spark needs
    to evict join state: a buffered view can be dropped once the click
    watermark passes view_ts + 10 min. Unbounded-state stream joins
    don't survive at 100 TB; interval-bounded ones do. In batch the
    watermarks are no-ops and this is a plain range join."""
    e = with_second_ts(events)
    views = (
        e.where(F.col("event_type") == "view")
        .select("user_id", F.col("ts2").alias("view_ts"))
        .withWatermark("view_ts", "1 hour")
    )
    clicks = (
        e.where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user_id"), F.col("ts2").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    return views.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") < F.col("view_ts") + F.expr("INTERVAL 10 MINUTES")),
        "inner",
    ).select("user_id", "view_ts", "click_ts")


def view_click_pairs_outer(events: DataFrame) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the hard half of
    stream-stream joins: views with NO click inside [view_ts,
    view_ts + 10 min) must still emit, with a null click_ts, and in a
    stream that emission is WATERMARK-DRIVEN — a buffered view can
    only be declared unmatched once the click-side watermark passes
    view_ts + 10 min (before that, a matching click may still
    arrive), at which point Spark both evicts the state AND emits the
    null row. Same bounded-state contract as the inner join: the
    interval condition is what lets 100 TB of join state evict
    instead of growing forever. In batch the watermarks are no-ops
    and this is a plain left outer range join — the oracle shape."""
    e = with_second_ts(events)
    views = (
        e.where(F.col("event_type") == "view")
        .select("user_id", F.col("ts2").alias("view_ts"))
        .withWatermark("view_ts", "1 hour")
    )
    clicks = (
        e.where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user_id"), F.col("ts2").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    return views.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") < F.col("view_ts") + F.expr("INTERVAL 10 MINUTES")),
        "left_outer",
    ).select("user_id", "view_ts", "click_ts")


def view_click_pairs_full(events: DataFrame) -> DataFrame:
    """Stream-stream FULL OUTER interval join — BOTH unmatched sides
    emit: a view with no click in [view_ts, view_ts + 10 min) emits a
    null click row once the click watermark passes its eviction bound
    (the left-outer half), and a click preceded by no view in
    (click_ts - 10 min, click_ts] emits a null view row once the view
    watermark passes click_ts (the right-outer half — its eviction
    bound is the click's own timestamp, since any matching view would
    have to be OLDER). Same bounded-state contract as the inner and
    left-outer jobs: the interval condition is what lets join state
    evict instead of growing forever. The emitted user_id is
    COALESCEd across sides (exactly one side is null on an unmatched
    row). In batch the watermarks are no-ops and this is a plain full
    outer range join — the oracle shape."""
    e = with_second_ts(events)
    views = (
        e.where(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user_id"), F.col("ts2").alias("view_ts"))
        .withWatermark("view_ts", "1 hour")
    )
    clicks = (
        e.where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user_id"), F.col("ts2").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    return views.join(
        clicks,
        (F.col("v_user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") < F.col("view_ts") + F.expr("INTERVAL 10 MINUTES")),
        "full_outer",
    ).select(
        F.coalesce("v_user_id", "c_user_id").alias("user_id"),
        "view_ts",
        "click_ts",
    )
