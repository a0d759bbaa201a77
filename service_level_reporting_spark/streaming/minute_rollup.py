"""Streaming operators T1–T5: the reference's updater loop as real streams.

Reference analog: SLR's updater re-polls KairosDB every interval and upserts
the last N minutes (upstream:app/updater.py#update_all_indicators [M]) — a
hand-rolled micro-batch pipeline. Structured Streaming IS that model with
exactly-once state, so each operator below is the declarative form.

Test harness shape: file-source replay of the events parquet with
`trigger(availableNow=True)` into a memory sink, returning the final table —
batch-equivalent by construction, which pytest asserts (SURVEY §5.3).

Scale notes: in production the source is Kafka/files-on-arrival; watermarks
bound state (late points beyond 10 min are dropped exactly like the
reference's bounded backfill window); `dropDuplicatesWithinWatermark` gives
the idempotent-ingest guarantee S4 provides at rest.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from service_level_reporting_spark.registry import register

NORMALIZED_EVENTS_SCHEMA = ("event_id bigint, ts timestamp, user_id bigint, "
                            "event_type string, value double, props string")


def _staged_dir(spark: SparkSession, sf_dir: str) -> str:
    """Spark's file streaming source needs a DIRECTORY; testdata ships a bare
    file. Stage a NORMALIZED copy under /tmp once per sf (idempotent,
    mtime-checked against the source).

    Staging goes through ``tables.load_tables`` — the single seam that owns
    timestamp normalization — so the stream source never has to know whether
    the raw file encodes ``ts`` as int64 nanoseconds (round-1 testdata) or a
    real parquet timestamp (current testdata). A production deployment's
    file/Kafka source lands already-normalized records the same way.
    """
    from service_level_reporting_spark.scratch import app_scratch_dir

    src = f"{sf_dir}/events.parquet"
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    # appId salt: concurrent processes (pytest + scale sweep) must not race
    # on one staging dir (ADVICE r2); stale old-app dirs pruned (ADVICE r3)
    dst_dir = app_scratch_dir(spark, f"slr_stream_norm_{tag}")
    marker = os.path.join(dst_dir, "_STAGED")
    if not (os.path.exists(marker)
            and os.path.getmtime(marker) >= os.path.getmtime(src)):
        from service_level_reporting_spark.tables import load_tables

        shutil.rmtree(dst_dir, ignore_errors=True)
        ev = load_tables(spark, sf_dir, ("events",))["events"]
        ev.coalesce(1).write.mode("overwrite").parquet(dst_dir)
        with open(marker, "w") as fh:
            fh.write("ok")
    return dst_dir


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file-source stream over the normalized staging."""
    return (
        spark.readStream.schema(NORMALIZED_EVENTS_SCHEMA)
        .format("parquet")
        .load(_staged_dir(spark, sf_dir))
    )


def _run_to_table(df: DataFrame, mode: str, name_prefix: str) -> DataFrame:
    """Execute the streaming df to completion into a memory sink.

    AQE does not apply to streams, so the stateful exchange runs at the raw
    ``spark.sql.shuffle.partitions`` (200 in a default session) — 200 state
    stores for a test-size replay is pure scheduling overhead. Pin a sane
    local state-partition count for the lifetime of the query and restore the
    caller's conf after; a production deployment sizes this to the cluster
    ONCE at first start (it is frozen into the checkpoint thereafter).
    """
    spark = df.sparkSession
    name = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(min(int(prev), 32)))
        q = (df.writeStream.format("memory").queryName(name)
             .outputMode(mode).trigger(availableNow=True).start())
        q.awaitTermination()
        try:
            # expose state-store metrics (numRowsTotal etc.) for tests that
            # pin skew/state bounds without changing this function's shape
            LAST_PROGRESS[name_prefix] = q.lastProgress
        except Exception:
            pass
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


# name_prefix -> final StreamingQueryProgress dict of the most recent run
LAST_PROGRESS: dict[str, dict] = {}


# T1 — tumbling 1-minute windows (the A1 resample, streaming)
def stream_minute_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = stream_events(spark, sf_dir).where(F.col("ts") < F.lit("2024-01-02"))
    agg = (
        s.groupBy(F.window("ts", "1 minute"), "event_type")
        .agg(F.round(F.avg("value"), 6).alias("avg_value"),
             F.count(F.lit(1)).alias("n"))
    )
    out = _run_to_table(agg, "complete", "t1_tumbling")
    return out.select(F.col("window.start").alias("minute"), "event_type",
                      "avg_value", "n")


# T2 — sliding windows (10-minute window, 1-minute slide)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = stream_events(spark, sf_dir).where(
        (F.col("event_type") == "error") & (F.col("ts") < F.lit("2024-01-02")))
    agg = (
        s.groupBy(F.window("ts", "10 minutes", "1 minute"))
        .agg(F.round(F.avg("value"), 6).alias("avg_value"),
             F.count(F.lit(1)).alias("n"))
    )
    out = _run_to_table(agg, "complete", "t2_sliding")
    return out.select(F.col("window.start").alias("win_start"),
                      F.col("window.end").alias("win_end"), "avg_value", "n")


# T3 — session windows (bursts per user, 5-minute gap)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = stream_events(spark, sf_dir).where(F.col("ts") < F.lit("2024-01-03"))
    agg = (
        s.groupBy(F.session_window("ts", "5 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.avg("value"), 6).alias("avg_value"))
    )
    out = _run_to_table(agg, "complete", "t3_session")
    return (
        out.select("user_id", F.col("session_window.start").alias("session_start"),
                   "n_events", "avg_value")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"),
             F.sum("n_events").alias("n_events"))
        .orderBy("user_id")
    )


# T4 — watermark + append mode: late data beyond 10 minutes is dropped,
# finalized windows are emitted exactly once
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (stream_events(spark, sf_dir)
         .where(F.col("ts") < F.lit("2024-01-02"))
         .withWatermark("ts", "10 minutes"))
    agg = (
        s.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = _run_to_table(agg, "append", "t4_watermark")
    return out.select(F.col("window.start").alias("hour"), "event_type", "n")


# T5 — stateful dedup on event_id within the watermark (idempotent ingest)
def stream_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (stream_events(spark, sf_dir)
         .where(F.col("ts") < F.lit("2024-01-02"))
         .withWatermark("ts", "10 minutes")
         .dropDuplicatesWithinWatermark(["event_id"]))
    agg = s.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique_events"))
    out = _run_to_table(agg, "complete", "t5_dedup")
    return out.orderBy("event_type")


# ---------------------------------------------------------------------------
# T6 — CUSTOM stateful operator via applyInPandasWithState: per-series SLO
# compliance accumulated across micro-batches. This is the escape hatch for
# stateful semantics the built-in windowed aggs can't express (the runbook
# example: "current compliance since month start, updated per batch, with
# arbitrary Python math"). State = (n, breaches) per event_type — tiny,
# bounded by series cardinality, exactly what GroupState is for.
#
# The replay is staged as MULTIPLE files with maxFilesPerTrigger=1 so the
# state genuinely carries across micro-batches (a single-batch run would
# never exercise state merge).
# ---------------------------------------------------------------------------

STATEFUL_TARGET_LO = 10.0
STATEFUL_TARGET_HI = 90.0


import threading

_STAGE_LOCK = threading.Lock()


def _staged_chunks_dir(spark: SparkSession, sf_dir: str, n_chunks: int = 4) -> str:
    """Stage events as n_chunks parquet files (idempotent per sf).

    Serialized under a module lock (r14): three pooled suite legs share
    this dir, and the marker check-then-write is not atomic — two pool
    threads that both saw a stale marker started overlapping overwrite
    jobs into the same _temporary (observed as a chmod-on-missing-part
    task failure once the pool grew past 4 workers).
    """
    from service_level_reporting_spark.scratch import app_scratch_dir

    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    dst_dir = app_scratch_dir(spark, f"slr_stream_chunks_{tag}")
    marker = os.path.join(dst_dir, "_STAGED")
    src = f"{sf_dir}/events.parquet"
    with _STAGE_LOCK:
        if not (os.path.exists(marker)
                and os.path.getmtime(marker) >= os.path.getmtime(src)):
            from service_level_reporting_spark.tables import load_tables

            shutil.rmtree(dst_dir, ignore_errors=True)
            ev = load_tables(spark, sf_dir, ("events",))["events"]
            ev.repartition(n_chunks).write.mode("overwrite").parquet(dst_dir)
            with open(marker, "w") as fh:
                fh.write("ok")
    return dst_dir


def compliance_state_func(key, pdfs, state):
    """GroupState update: fold each batch's (n, breaches) into the running
    totals and emit the post-batch compliance for this series."""
    import pandas as pd

    n, breaches = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        v = pdf["value"]
        breaches += int(((v < STATEFUL_TARGET_LO)
                         | (v > STATEFUL_TARGET_HI)).sum())
    state.update((n, breaches))
    yield pd.DataFrame({
        "event_type": [key[0]],
        "n": [n],
        "breaches": [breaches],
        "compliance_pct": [round(100.0 * (1 - breaches / n), 6) if n else None],
    })


def stream_stateful_compliance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    chunks = _staged_chunks_dir(spark, sf_dir)
    # chunks were staged from the NORMALIZED table — ts is already a
    # timestamp here, unlike the raw ns-long testdata file
    normalized_schema = ("event_id bigint, ts timestamp, user_id bigint, "
                         "event_type string, value double, props string")
    s = (
        spark.readStream.schema(normalized_schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")   # one micro-batch per file
        .load(chunks)
        .where(F.col("ts") < F.lit("2024-01-08"))
    )
    updated = s.groupBy("event_type").applyInPandasWithState(
        compliance_state_func,
        outputStructType=("event_type string, n long, breaches long, "
                          "compliance_pct double"),
        stateStructType="n long, breaches long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_to_table(updated, "update", "t6_stateful")
    # the memory sink accumulates one row per (series, batch); the final
    # state per series is the row with the largest n (monotone accumulator)
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.desc("n"))
    return (
        out.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("event_type", "n", "breaches", "compliance_pct")
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# T7 — checkpointed parquet file sink: the full source→transform→sink leg
# with exactly-once restart semantics. The file sink's output manifest plus
# the checkpoint's source offsets make a restart process ZERO new rows when
# the input is unchanged — the streaming analog of S4's idempotent upsert
# (re-running an overlapping window never duplicates). The query runs the
# stream TWICE against one checkpoint and returns stats the test pins.
# ---------------------------------------------------------------------------

def stream_sink_checkpointed(spark: SparkSession, sf_dir: str) -> DataFrame:
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    out_dir = os.path.join(tempfile.gettempdir(), f"slr_stream_sink_{tag}")
    ckpt_dir = os.path.join(tempfile.gettempdir(), f"slr_stream_ckpt_{tag}")
    # fresh run each invocation: restart idempotence is demonstrated WITHIN
    # one invocation (two starts against one checkpoint)
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ckpt_dir, ignore_errors=True)

    def run_once() -> None:
        s = (stream_events(spark, sf_dir)
             .where((F.col("event_type") == "error")
                    & (F.col("ts") < F.lit("2024-01-08")))
             .select("event_id", "ts", "user_id", "value"))
        q = (s.writeStream.format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", ckpt_dir)
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()

    run_once()
    first = spark.read.parquet(out_dir)
    n_first = first.count()
    run_once()  # restart against the same checkpoint: no new input → no rows
    sunk = spark.read.parquet(out_dir)
    return sunk.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_id").alias("n_distinct_ids"),
        F.lit(n_first).alias("n_rows_first_run"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# T8 — stream-stream interval join: clicks landing within JOIN_HORIZON
# after an error by the same user ("did the user retry after the failure").
# The horizon is a day because the test fixture is sparse (~7 events/user/
# month); a production deployment would use minutes — the state bound
# scales with rate x horizon either way.
# The canonical Structured Streaming two-stream shape: both sides carry
# watermarks, the join condition bounds event time on BOTH sides, so each
# side's buffered state is capped at watermark + horizon — at production
# rates that is (rate × horizon) rows per side, not the stream's history.
# The join itself shuffles both sides on user_id once.
#
# Chaining a streaming aggregation AFTER a stream-stream join is a
# multi-stateful pipeline with stricter output-mode rules, so the join runs
# to completion (append mode) and the summary aggregate runs on the result
# table — same discipline as the other legs' memory-sink harness.
# ---------------------------------------------------------------------------

JOIN_HORIZON = "24 hours"


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    errors = (
        stream_events(spark, sf_dir)
        .where(F.col("event_type") == "error")
        .select(F.col("user_id").alias("err_user"),
                F.col("ts").alias("err_ts"))
        .withWatermark("err_ts", "10 minutes")
    )
    clicks = (
        stream_events(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("clk_user"),
                F.col("ts").alias("clk_ts"))
        .withWatermark("clk_ts", "10 minutes")
    )
    joined = errors.join(
        clicks,
        (F.col("err_user") == F.col("clk_user"))
        & (F.col("clk_ts") >= F.col("err_ts"))
        & (F.col("clk_ts") <= F.col("err_ts") + F.expr(f"INTERVAL {JOIN_HORIZON}")),
        "inner",
    )
    out = _run_to_table(joined, "append", "t8_ssjoin")
    return out.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("err_user").alias("n_users"),
        F.round(F.avg(
            F.col("clk_ts").cast("timestamp").cast("double")
            - F.col("err_ts").cast("timestamp").cast("double")), 6)
        .alias("avg_lag_sec"),
    )


def batch_stream_join_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch semantics of T8 for the equivalence pytest (and for readers:
    the stream-stream join IS this self-join, incrementalized)."""
    from service_level_reporting_spark.tables import load_tables

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("user_id").alias("err_user"), F.col("ts").alias("err_ts"))
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("clk_user"), F.col("ts").alias("clk_ts"))
    joined = errors.join(
        clicks,
        (F.col("err_user") == F.col("clk_user"))
        & (F.col("clk_ts") >= F.col("err_ts"))
        & (F.col("clk_ts") <= F.col("err_ts") + F.expr(f"INTERVAL {JOIN_HORIZON}")),
        "inner",
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("err_user").alias("n_users"),
        F.round(F.avg(
            F.col("clk_ts").cast("timestamp").cast("double")
            - F.col("err_ts").cast("timestamp").cast("double")), 6)
        .alias("avg_lag_sec"),
    )


# ---------------------------------------------------------------------------
# Round-2 consolidation: the streaming surface registers as TWO labeled
# suites so every part gets a driver CORRECTNESS row (rows-only — streaming
# output is engine-specific; tests/test_streaming_batch_equiv.py pins each
# part against its batch twin).
# ---------------------------------------------------------------------------

def _part(df: DataFrame, part: str, key, win_start, n, metric) -> DataFrame:
    return df.select(
        F.lit(part).alias("part"),
        key.cast("string").alias("key"),
        win_start.cast("timestamp").alias("win_start"),
        n.cast("long").alias("n"),
        metric.cast("double").alias("metric"),
    )


def stream_windows_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    # T3 session, T4 watermark+append, T7 checkpointed exactly-once sink —
    # five independent streaming legs, one summary table.
    null_ts = F.lit(None)
    tumbling = _part(stream_minute_tumbling(spark, sf_dir), "tumbling",
                     F.col("event_type"), F.col("minute"), F.col("n"),
                     F.col("avg_value"))
    sliding = _part(stream_sliding_window(spark, sf_dir), "sliding",
                    F.lit(None), F.col("win_start"), F.col("n"),
                    F.col("avg_value"))
    session = _part(stream_session_window(spark, sf_dir), "session",
                    F.col("user_id"), null_ts, F.col("n_events"),
                    F.col("n_sessions"))
    watermark = _part(stream_watermark_late(spark, sf_dir), "watermark",
                      F.col("event_type"), F.col("hour"), F.col("n"),
                      F.lit(None))
    checkpoint = _part(stream_sink_checkpointed(spark, sf_dir), "checkpoint_sink",
                       F.lit(None), null_ts, F.col("n_rows"),
                       F.col("sum_value"))
    ssjoin = _part(stream_stream_join(spark, sf_dir), "stream_stream_join",
                   F.col("n_users"), null_ts, F.col("n_pairs"),
                   F.col("avg_lag_sec"))
    return (tumbling.unionByName(sliding).unionByName(session)
            .unionByName(watermark).unionByName(checkpoint)
            .unionByName(ssjoin))


def stream_stateful_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    dedup = stream_stateful_dedup(spark, sf_dir).select(
        F.lit("dedup").alias("part"), "event_type",
        F.col("n_unique_events").alias("n"),
        F.lit(None).cast("long").alias("breaches"),
        F.lit(None).cast("double").alias("compliance_pct"))
    compliance = stream_stateful_compliance(spark, sf_dir).select(
        F.lit("compliance").alias("part"), "event_type", "n",
        "breaches", "compliance_pct")
    return dedup.unionByName(compliance).orderBy("part", "event_type")


@register("stream_suite")  # rows-only: streaming output is engine-specific
def stream_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL ten streaming legs as one labeled summary (consolidated so the
    full streaming surface lands one driver CORRECTNESS row): T1 tumbling /
    T2 sliding / T3 session / T4 watermark+append / T7 checkpointed
    exactly-once sink / T8 stream-stream interval join from
    stream_windows_suite, plus T5 stateful dedup, T6 custom
    applyInPandasWithState compliance, T9 incremental LSH-index
    maintenance (streaming/ann_index.py — per-table bucket populations
    accumulated across micro-batches), and T10 exactly-once ingestion into
    the TxLog lakehouse table (streaming/txlog_sink.py — foreachBatch +
    atomic transactional batch markers, replayed batch skipped).
    Batch-equivalence per leg is pytest-pinned in
    tests/test_streaming_batch_equiv.py."""
    from service_level_reporting_spark.legs import run_legs
    from service_level_reporting_spark.streaming.ann_index import (
        stream_lsh_index_summary)
    from service_level_reporting_spark.streaming.txlog_sink import (
        stream_txlog_ingest)

    # r13 (guide §2.6): the ten legs are INDEPENDENT availableNow queries
    # that used to run strictly back-to-back — each one blocks on
    # awaitTermination while most cores idle through its micro-batch tail.
    # run_legs overlaps them. Two shared-state hazards handled:
    # * the normalized file-source staging dir is written ONCE serially
    #   before the legs (its mtime-marker check is not rename-atomic);
    # * _run_to_table pins spark.sql.shuffle.partitions per leg with a
    #   set/restore — racy across threads — so the suite pins the SAME
    #   value for the whole overlapped phase; every leg's inner
    #   set/restore then writes that identical value (idempotent), and
    #   the caller's conf is restored once at the end. Leg outputs are
    #   unchanged.
    _staged_dir(spark, sf_dir)
    _staged_chunks_dir(spark, sf_dir)   # shared by three legs — stage once
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    null_ts = F.lit(None).cast("timestamp")
    try:
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(min(int(prev), 32)))
        legs = {
            "tumbling": lambda: _part(
                stream_minute_tumbling(spark, sf_dir), "tumbling",
                F.col("event_type"), F.col("minute"), F.col("n"),
                F.col("avg_value")),
            "sliding": lambda: _part(
                stream_sliding_window(spark, sf_dir), "sliding",
                F.lit(None), F.col("win_start"), F.col("n"),
                F.col("avg_value")),
            "session": lambda: _part(
                stream_session_window(spark, sf_dir), "session",
                F.col("user_id"), F.lit(None), F.col("n_events"),
                F.col("n_sessions")),
            "watermark": lambda: _part(
                stream_watermark_late(spark, sf_dir), "watermark",
                F.col("event_type"), F.col("hour"), F.col("n"),
                F.lit(None)),
            "checkpoint_sink": lambda: _part(
                stream_sink_checkpointed(spark, sf_dir), "checkpoint_sink",
                F.lit(None), F.lit(None), F.col("n_rows"),
                F.col("sum_value")),
            "stream_stream_join": lambda: _part(
                stream_stream_join(spark, sf_dir), "stream_stream_join",
                F.col("n_users"), F.lit(None), F.col("n_pairs"),
                F.col("avg_lag_sec")),
            "stateful_dedup": lambda: stream_stateful_dedup(
                spark, sf_dir).select(
                F.lit("stateful_dedup").alias("part"),
                F.col("event_type").alias("key"),
                null_ts.alias("win_start"),
                F.col("n_unique_events").alias("n"),
                F.lit(None).cast("double").alias("metric")),
            "stateful_compliance": lambda: stream_stateful_compliance(
                spark, sf_dir),
            "lsh_index_maintain": lambda: _part(
                stream_lsh_index_summary(spark, sf_dir),
                "lsh_index_maintain", F.col("table_idx"),
                F.lit(None), F.col("n_vectors"), F.col("max_bucket")),
            # T10: exactly-once ingestion into the TxLog lakehouse table —
            # the '_txn' key's n is (table_rows - source_rows) +
            # replay_applied and must be 0 (no loss, no duplication,
            # replayed batch skipped)
            "txlog_ingest": lambda: _part(
                stream_txlog_ingest(spark, sf_dir), "txlog_ingest",
                F.col("key"), F.lit(None), F.col("n"),
                F.col("n2").cast("double")),
        }
        res = run_legs(legs)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    comp = res["stateful_compliance"]
    compliance = comp.select(
        F.lit("stateful_compliance").alias("part"),
        F.col("event_type").alias("key"), null_ts.alias("win_start"),
        "n", F.col("compliance_pct").alias("metric"))
    breaches = comp.select(
        F.lit("stateful_breaches").alias("part"),
        F.col("event_type").alias("key"), null_ts.alias("win_start"),
        F.col("breaches").alias("n"),
        F.lit(None).cast("double").alias("metric"))
    windows = (res["tumbling"].unionByName(res["sliding"])
               .unionByName(res["session"]).unionByName(res["watermark"])
               .unionByName(res["checkpoint_sink"])
               .unionByName(res["stream_stream_join"]))
    return (windows.unionByName(res["stateful_dedup"])
            .unionByName(compliance)
            .unionByName(breaches).unionByName(res["lsh_index_maintain"])
            .unionByName(res["txlog_ingest"])
            .orderBy("part", "key", "win_start"))
