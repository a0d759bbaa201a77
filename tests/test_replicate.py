"""CDF-driven replication keyed by stable row ids (r10) — the keyless
consumer the row-tracking feature exists for. Pins: replica == source
after every lakehouse op (including on a table with FULLY DUPLICATE
rows, where no natural-key merge can work), pure-carry rewrites move
zero rows through the pipe, idempotent/no-op re-sync, crash-replay
safety, and the NULL-id refusal."""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pytest

# r14: heavy system suite — builder-loop tier (driver fast tier skips it; run with -m "")
pytestmark = __import__('pytest').mark.slow
from pyspark.sql import functions as F

from service_level_reporting_spark.operators.replicate import (
    replica_divergence, replicate_bootstrap, replicate_sync)
from service_level_reporting_spark.sources.txlog import (
    TxLogTable, read_sync, write_sync)


@pytest.fixture()
def paths():
    root = os.path.join(tempfile.gettempdir(),
                        f"slr_repl_{uuid.uuid4().hex[:8]}")
    yield os.path.join(root, "src"), os.path.join(root, "rep")
    shutil.rmtree(root, ignore_errors=True)


def _frame(spark, rows):
    return spark.createDataFrame(rows, "k string, v long").coalesce(1)


def test_replica_tracks_source_through_op_mix(spark, paths):
    src_path, rep_path = paths
    t = TxLogTable(src_path, key_cols=["k"], stats_col="k")
    # duplicate rows on purpose: no natural key exists, only row ids
    # can address these
    t.append(_frame(spark, [("dup", 1), ("dup", 1), ("dup", 1)]
                    + [(f"k{i:02d}", i) for i in range(8)]))
    t.enable_row_tracking()

    r = replicate_bootstrap(spark, src_path, rep_path)
    assert r["rows"] == 11
    assert replica_divergence(spark, src_path, rep_path) == 0

    # several commits folded in ONE sync: append + CoW update + MoR
    # delete + MoR update
    t.append(_frame(spark, [("k90", 90), ("dup", 1)]))
    t.update(F.col("k") == "k03", {"v": "v + 1000"})
    t.delete(F.col("k") == "k05", mode="mor")
    t.update(F.col("k") == "k07", {"v": "v + 7"}, mode="mor")
    out = replicate_sync(spark, src_path, rep_path)
    assert out["mode"] == "fold"
    assert replica_divergence(spark, src_path, rep_path) == 0

    # pure-carry rewrites net to ZERO rows through the pipe
    t.optimize(target_files=1)
    out = replicate_sync(spark, src_path, rep_path)
    assert (out["upserted"], out["deleted"]) == (0, 0)
    assert replica_divergence(spark, src_path, rep_path) == 0

    # merge_into on the source (update + fresh insert)
    t.merge_into(
        spark.createDataFrame([("k02", 222), ("knew", 5)],
                              "k string, v long"),
        [("update", None, {"v": "src_v"}), ("insert", None, None)])
    replicate_sync(spark, src_path, rep_path)
    assert replica_divergence(spark, src_path, rep_path) == 0

    # restore rolls the source back; the feed carries the rollback
    t.restore(t.latest_version() - 1)
    replicate_sync(spark, src_path, rep_path)
    assert replica_divergence(spark, src_path, rep_path) == 0

    # idempotent: same-version sync is a no-op
    assert replicate_sync(spark, src_path, rep_path)["mode"] == "noop"

    # duplicates were replicated as three ADDRESSABLE rows: delete one
    # of them by id upstream (MoR predicate hits all three; use CoW on
    # v to shrink to two via update? — simplest: delete ALL dups and
    # re-check)
    t.delete(F.col("k") == "dup", mode="mor")
    replicate_sync(spark, src_path, rep_path)
    assert replica_divergence(spark, src_path, rep_path) == 0


def test_replay_after_crash_is_exactly_once(spark, paths):
    """A sync that merged but crashed BEFORE advancing the watermark
    re-runs the same merge on replay — upserts and deletes are
    idempotent by id, so the replica converges, not double-folds."""
    src_path, rep_path = paths
    t = TxLogTable(src_path, key_cols=["k"], stats_col="k")
    t.append(_frame(spark, [(f"k{i}", i) for i in range(6)]))
    t.enable_row_tracking()
    replicate_bootstrap(spark, src_path, rep_path)
    t.update(F.col("k") == "k1", {"v": "v + 10"})
    t.delete(F.col("k") == "k2")
    before = read_sync(rep_path)
    replicate_sync(spark, src_path, rep_path)
    # crash: watermark regresses, the merge's effect stays
    write_sync(rep_path, before)
    out = replicate_sync(spark, src_path, rep_path)
    assert out["mode"] == "fold"          # it DID re-fold the window
    assert replica_divergence(spark, src_path, rep_path) == 0


def test_unaddressable_rows_refused(spark, paths):
    """Rows that churned before the enable backfill have NULL ids in a
    bootstrap-range feed — the sync refuses them loudly instead of
    silently guessing a key."""
    src_path, rep_path = paths
    t = TxLogTable(src_path, key_cols=["k"], stats_col="k")
    t.append(_frame(spark, [("gone", 1), ("stays", 2)]))
    v0 = t.latest_version()
    t.delete(F.col("k") == "gone")
    t.enable_row_tracking()
    # hand-seed a replica whose watermark SPLITS the pre-enable
    # insert/delete pair: the feed sees the delete of a never-
    # backfilled file but not its insert, so a NULL-id row survives
    # netting (a full-history feed would cancel it away)
    replicate_bootstrap(spark, src_path, rep_path)
    write_sync(rep_path, {"version": v0})
    with pytest.raises(ValueError, match="unaddressable"):
        replicate_sync(spark, src_path, rep_path)
    # re-seed: back in business
    replicate_bootstrap(spark, src_path, rep_path)
    t.append(_frame(spark, [("more", 3)]))
    replicate_sync(spark, src_path, rep_path)
    assert replica_divergence(spark, src_path, rep_path) == 0


def test_delete_keys_frame_sourced_mor(spark, paths):
    """delete_keys (r10 s2): MoR delete by KEY FRAME — semi-join
    membership, no isin literal, typed pruning bounds derived from the
    frame (provably match-free files carry by reference). Pins exact
    match semantics, multi-column keys, derived-bound file pruning, and
    the empty-schema raise."""
    src_path, _ = paths
    t = TxLogTable(src_path, key_cols=["k"], stats_col="k")
    # three range-clustered files: keys k00..k09, k10..k19, k20..k29
    for lo in (0, 10, 20):
        t.append(_frame(spark, [(f"k{i:02d}", i)
                                for i in range(lo, lo + 10)]))
    keys = spark.createDataFrame([("k03",), ("k07",), ("k05",)],
                                 "k string")
    d = t.delete_keys(keys)
    assert d["matched_rows"] == 3
    # derived bounds [k03, k07] prune the k10+/k20+ files entirely:
    # only file 1 gains a DV, the others carry untouched
    assert d["dv_files"] == 1
    left = {r["k"] for r in t.read(spark).collect()}
    assert left == {f"k{i:02d}" for i in range(30)} - {"k03", "k05",
                                                       "k07"}
    # multi-column frame: only the exact (k, v) pair goes
    t2keys = spark.createDataFrame([("k12", 12), ("k15", 999)],
                                   "k string, v long")
    d2 = t.delete_keys(t2keys)
    assert d2["matched_rows"] == 1            # (k15, 999) matches nothing
    assert "k12" not in {r["k"] for r in t.read(spark).collect()}
    # the CDF serves the masked pre-images
    ch = t.changes(spark, d2["version"] - 1, d2["version"]).collect()
    assert [(r["k"], r["_change_type"]) for r in ch] == [("k12", "delete")]
    with pytest.raises(ValueError, match="empty key frame"):
        t.delete_keys(spark.createDataFrame([], "struct<>"))


def test_random_op_walk_replica_and_generated_invariants(spark, paths):
    """Seeded random walk over the full r10-s2 surface on ONE table:
    appends (duplicate rows included), CoW/MoR update+delete,
    delete_keys, OPTIMIZE, bin-pack, RESTORE — with a generated column
    active throughout and the replica synced at random points. Two
    invariants after every sync: (1) replica == source by multiset
    (divergence 0), (2) every stored generated value equals its
    recomputed expression. Catches interactions no directed test
    stages (e.g. restore across a MoR delete feeding the fold, a
    bin-pack materializing ids under an active generation expression)."""
    import random

    src_path, rep_path = paths
    t = TxLogTable(src_path, key_cols=["k"], stats_col="k")
    t.add_generated_column("klen", "int", "length(k)")
    t.append(_frame(spark, [("dup", 1)] * 2
                    + [(f"k{i:02d}", i) for i in range(10)]))
    t.enable_row_tracking()
    # r11: type widening active on BOTH tables — the walk widens the
    # source's v mid-stream and the replica widens implicitly when the
    # first long post-image folds in
    t.enable_type_widening()
    replicate_bootstrap(spark, src_path, rep_path)
    TxLogTable.open(rep_path).enable_type_widening()

    def check():
        assert replica_divergence(spark, src_path, rep_path) == 0
        snap = t.read(spark)
        assert snap.filter(
            ~F.col("klen").eqNullSafe(F.length("k"))).count() == 0
        # r11: the SQL/catalog surface serves the same snapshot
        from service_level_reporting_spark.sources.txlog_catalog import (
            register_table)
        view = register_table(spark, "walk_view", src_path)
        assert (view.exceptAll(snap)
                .unionAll(snap.exceptAll(view)).count()) == 0
        spark.catalog.dropTempView("walk_view")

    widened = False
    for seed in (7, 23):
        rnd = random.Random(seed)
        n_new = 100 * seed
        for step in range(10):
            kind = rnd.choice(
                ["append", "cow_up", "mor_up", "cow_del", "mor_del",
                 "del_keys", "del_keys_app", "widen",
                 "optimize", "binpack", "restore"])
            keys = [r["k"] for r in t.read(spark)
                    .select("k").distinct().collect()]
            pick = rnd.choice(sorted(keys)) if keys else "k00"
            if kind == "append":
                n_new += 1
                t.append(_frame(spark, [(f"n{n_new}", n_new),
                                        ("dup", 1)]))
            elif kind == "cow_up":
                t.update(F.col("k") == pick, {"v": "v + 1"})
            elif kind == "mor_up":
                t.update(F.col("k") == pick, {"v": "v + 2"},
                         mode="mor")
            elif kind == "cow_del":
                t.delete(F.col("k") == pick)
            elif kind == "mor_del":
                t.delete(F.col("k") == pick, mode="mor")
            elif kind == "del_keys":
                t.delete_keys(spark.createDataFrame([(pick,)],
                                                    "k string"))
            elif kind == "del_keys_app":
                # r11 atomic mask+append (the replicate/dedup-state
                # fold primitive) as a first-class walk op
                n_new += 1
                t.delete_keys(
                    spark.createDataFrame([(pick,)], "k string"),
                    append_df=_frame(spark, [(f"n{n_new}", n_new)]))
            elif kind == "widen":
                if not widened:
                    t.widen_column("v", "long")   # mid-walk widening
                    widened = True
                else:
                    n_new += 1
                    t.append(_frame(spark, [(f"n{n_new}", n_new)]))
            elif kind == "optimize":
                t.optimize(target_files=2)
            elif kind == "binpack":
                t.optimize_bin_pack(small_file_rows=4)
            elif kind == "restore":
                t.restore(max(t.latest_version() - 1,
                              t.earliest_version()))
            if t.read(spark).limit(1).count() == 0:
                t.append(_frame(spark, [("reseed", 0)]))
            if rnd.random() < 0.4:
                replicate_sync(spark, src_path, rep_path)
                check()
        replicate_sync(spark, src_path, rep_path)
        check()
