"""Streaming materialized-view maintenance: the txlog CDC source feeding
the incremental view fold (r7 s2 — the streaming composition of
`sources/txlog_datasource.py` mode=changes and `operators/matview.py`).

Shape: `readStream.format("txlog").option("mode", "changes")` delivers
each commit's row-level changes as micro-batches whose offsets ARE log
versions; `foreachBatch` folds every batch into the algebraic view state
with `mv_apply_changes`; the state persists as its OWN txlog table, one
atomic `overwrite` per folded batch.

Exactly-once FOLDS on top of at-least-once batch delivery: foreachBatch
may replay a batch after a crash between the state commit and the source
checkpoint commit. Every CDC row carries `_commit_version`, so the state
stores a watermark column `__applied_ver` = the highest base-table
version folded in; a batch whose max version is at or below the
watermark is a replay and is SKIPPED — the same idempotence shape as the
txn marker protocol of `txlog.txn_append`, keyed by base-log version
instead of (writer, batch).

Feed semantics: the raw (non-net) feed re-emits rows a rewrite merely
carried through a touched file as delete+insert pairs. Additive
aggregates cancel them exactly (signed sums); a carried extreme may mark
its group suspect, triggering a scoped base recompute that is wasteful
but CORRECT (recompute-from-base is idempotent). Batches fold against
the base's LATEST snapshot — safe for min/max because every suspect fix
re-reads that same snapshot, and the stream's final state is defined at
exactly that version.

Scale notes: per micro-batch work = one groupBy over the batch's change
rows + one key-join against the state — write-traffic-bound, never a
base scan except the suspect fix. The state table is itself a txlog
table: snapshot-isolated readers see whole view versions, never a
half-folded batch.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from service_level_reporting_spark.operators import matview as MV
from service_level_reporting_spark.sources.txlog import TxLogTable


def stream_matview(spark: SparkSession, table_path: str, spec: dict,
                   state_path: str, checkpoint_dir: str,
                   timeout_sec: float = 180.0,
                   max_commits_per_trigger: int | None = None
                   ) -> TxLogTable:
    """Run one availableNow maintenance pass: fold every unprocessed base
    commit into the view state table at ``state_path`` (created on first
    run) and return its TxLogTable. Re-running with the same checkpoint
    folds only NEW commits; a replayed batch is detected by the
    ``__applied_ver`` watermark and skipped.

    ``max_commits_per_trigger`` (r9): bound each micro-batch by the CDC
    source's admission control — a maintenance pass bootstrapping
    against a deep base backlog folds bounded pieces with checkpoint
    progress after each, instead of one monolithic batch that must
    succeed or replay wholesale. The pass drains through
    ``txlog_datasource.drain_available``, which loops capped
    availableNow passes on the same checkpoint until its committed
    offset reaches the head seen at entry (progress is the committed
    offset, so a window of metadata-only commits that folds no rows
    does not stall it), and a crash between passes loses nothing."""
    from service_level_reporting_spark.sources.txlog_datasource import (
        drain_available)

    base = TxLogTable.open(table_path)
    keys = list(spec["keys"])
    st = TxLogTable(state_path, key_cols=keys, stats_col=keys[0])

    def fold(batch, _bid):
        if batch.limit(1).count() == 0:
            return
        maxv = batch.agg(F.max("_commit_version")).first()[0]
        if st.latest_version() >= 0:
            cur = st.read(spark)
            applied = cur.agg(F.max("__applied_ver")).first()[0]
            if maxv <= applied:
                return                    # replayed batch: already folded
            state = cur.drop("__applied_ver")
        else:
            state = MV.mv_init(base.read(spark).limit(0), spec)
        res = MV.mv_apply_changes(state, batch, spec,
                                  base=base.read(spark))
        new_state = (res["state"]
                     .withColumn("__applied_ver",
                                 F.lit(maxv).cast("long")))
        st.overwrite(new_state.localCheckpoint(eager=True))

    drain_available(spark, table_path, checkpoint_dir,
                    lambda df: df.writeStream.foreachBatch(fold),
                    mode="changes",
                    max_commits_per_trigger=max_commits_per_trigger,
                    timeout_sec=timeout_sec)
    return st


def read_view(spark: SparkSession, st: TxLogTable, spec: dict):
    """The user-facing view from the persisted state table (snapshot-
    isolated: a concurrent maintenance pass never exposes a half-folded
    batch)."""
    return MV.mv_read(st.read(spark).drop("__applied_ver"), spec)
