"""Row tracking (r10 — Delta's row tracking as a writer feature): stable
row identities that survive rewrites, so keyless consumers can identify
rows without key columns. Pins: enable backfill, commit-time allocation
(racing writers never collide), preservation through OPTIMIZE /
bin-pack / CoW DELETE / CoW+MoR UPDATE / merge_into UPDATE clauses,
commit-version bumps on update, clone carry, checkpoint+retention
survival, and invisibility to normal reads and the recorded schema."""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from concurrent.futures import ThreadPoolExecutor

import pytest

# r14: heavy system suite — builder-loop tier (driver fast tier skips it; run with -m "")
pytestmark = __import__('pytest').mark.slow
from pyspark.sql import functions as F

from service_level_reporting_spark.sources.txlog import (
    CHECKPOINT_EVERY, ProtocolError, TxLogTable)


@pytest.fixture()
def table_path():
    p = os.path.join(tempfile.gettempdir(),
                     f"slr_rowtrack_{uuid.uuid4().hex[:8]}")
    yield p
    shutil.rmtree(p, ignore_errors=True)
    shutil.rmtree(p + "_clone", ignore_errors=True)


def _frame(spark, rows):
    return spark.createDataFrame(rows, "k string, v long").coalesce(1)


def _ids(spark, t):
    return {r["k"]: (r["_row_id"], r["_row_commit_version"])
            for r in t.read(spark, with_row_ids=True).collect()}


def test_lifecycle_preserves_identities(spark, table_path):
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    t.append(_frame(spark, [(f"k{i:02d}", i) for i in range(10)]))
    # not enabled: actionable raise; normal reads never see system cols
    with pytest.raises(ValueError, match="row tracking is not enabled"):
        t.read(spark, with_row_ids=True)
    t.enable_row_tracking()
    assert t.enable_row_tracking() == t.latest_version()   # idempotent
    assert "rowTracking" in t.table_protocol()["writerFeatures"]
    ids0 = _ids(spark, t)
    assert len({i for i, _ in ids0.values()}) == 10        # all unique
    assert "_row_id" not in t.read(spark).columns
    sch, _ = t.table_schema_info()
    assert {f.name for f in sch.fields} == {"k", "v"}      # not schema

    # append: fresh unique ids; existing ids stable
    t.append(_frame(spark, [(f"k{i:02d}", i) for i in range(10, 14)]))
    ids1 = _ids(spark, t)
    assert len({i for i, _ in ids1.values()}) == 14
    assert all(ids1[k][0] == ids0[k][0] for k in ids0)

    # CoW delete: survivors keep ids AND commit versions
    t.delete(F.col("k") == "k03")
    ids2 = _ids(spark, t)
    assert len(ids2) == 13
    assert all(ids2[k] == ids1[k] for k in ids2)

    # CoW update: id stable, commit version bumps ONLY for the hit
    t.update(F.col("k") == "k05", {"v": "v + 1000"})
    ids3 = _ids(spark, t)
    assert ids3["k05"][0] == ids2["k05"][0]
    assert ids3["k05"][1] > ids2["k05"][1]
    assert all(ids3[k] == ids2[k] for k in ids3 if k != "k05")

    # MoR delete/update: identity trivially/materially preserved
    t.delete(F.col("k") == "k09", mode="mor")
    t.update(F.col("k") == "k07", {"v": "v + 5"}, mode="mor")
    ids4 = _ids(spark, t)
    assert "k09" not in ids4
    assert ids4["k07"][0] == ids3["k07"][0]
    assert ids4["k07"][1] > ids3["k07"][1]

    # OPTIMIZE (DV purge included) and bin-pack change NO identity
    t.optimize(target_files=2)
    assert _ids(spark, t) == ids4
    t.append(_frame(spark, [("k90", 90)]))
    ids5 = _ids(spark, t)
    t.optimize_bin_pack(small_file_rows=1000)
    assert _ids(spark, t) == ids5

    # merge_into: UPDATE clause preserves id + bumps version; NOT
    # MATCHED INSERT mints a fresh unique id
    src = _frame(spark, [("k02", 222), ("k_new", 7)])
    t.merge_into(src, [
        ("update", None, {"v": "src_v"}),
        ("insert", None, None)])
    ids6 = _ids(spark, t)
    assert ids6["k02"][0] == ids5["k02"][0]
    assert ids6["k02"][1] > ids5["k02"][1]
    assert ids6["k_new"][0] not in {i for i, _ in ids5.values()}
    assert len({i for i, _ in ids6.values()}) == len(ids6)
    vals = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert vals["k02"] == 222 and vals["k_new"] == 7

    # clone keeps the source's identities
    c = t.clone(table_path + "_clone")
    assert _ids(spark, c) == ids6


def test_concurrent_appends_never_collide(spark, table_path):
    """Base ids allocate at COMMIT time against the current high-water
    mark — a conflict retry re-stamps from the winner's mark, so racing
    appenders can never produce duplicate row ids."""
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    t.append(_frame(spark, [("seed", 0)]))
    t.enable_row_tracking()
    dfs = [
        spark.createDataFrame([(f"w{w}_{i}", w * 100 + i)
                               for i in range(5)],
                              "k string, v long").coalesce(1)
        for w in range(4)]

    def run(df):
        TxLogTable.open(table_path).append(df)

    with ThreadPoolExecutor(max_workers=4) as ex:
        for f in [ex.submit(run, df) for df in dfs]:
            f.result()
    ids = _ids(spark, t)
    assert len(ids) == 21
    assert len({i for i, _ in ids.values()}) == 21          # no collision
    hwm = t.row_tracking()["highWaterMark"]
    assert hwm >= max(i for i, _ in ids.values())


def test_survives_checkpoints_and_log_retention(spark, table_path):
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    t.append(_frame(spark, [(f"k{i:02d}", i) for i in range(6)]))
    t.enable_row_tracking()
    want = _ids(spark, t)
    while t.latest_version() <= CHECKPOINT_EVERY + 2:
        t.append(_frame(spark, [(f"x{t.latest_version()}", 1)]))
    t.vacuum(retain_versions=3, min_age_sec=0, log_retain_versions=5)
    assert t.earliest_version() > 0      # the enable commit is EXPIRED
    t2 = TxLogTable.open(table_path)     # fresh handle: checkpoint seed
    assert t2.row_tracking() is not None
    got = _ids(spark, t2)
    assert all(got[k] == want[k] for k in want)
    assert len({i for i, _ in got.values()}) == len(got)

    # a downlevel writer that doesn't speak rowTracking must refuse
    v = t2.latest_version() + 1
    import json as _json
    with open(t2._commit_path(v), "w") as fh:
        _json.dump({"ts": t2._commit_ts(v - 1) + 1e-6, "version": v,
                    "actions": [{"protocol": {
                        "minReaderVersion": 1, "minWriterVersion": 7,
                        "writerFeatures": ["rowTracking",
                                           "futureFeature99"]}}]}, fh)
    t2._commit_memo.clear()
    with pytest.raises(ProtocolError, match="futureFeature99"):
        t2.append(_frame(spark, [("z", 1)]))


def test_cdf_never_leaks_materialized_system_columns(spark, table_path):
    """Rewrites MATERIALIZE _tx_row_id/_tx_rcv into data files; the CDF's
    raw scans must strip them like every snapshot read does. Before the
    r10 fix they surfaced as data columns and poisoned net=True's
    group-by-all-columns cancel: a carried row's NULL-id pre-image and
    materialized-id post-image stopped cancelling, so a pure-carry
    OPTIMIZE emitted 2x(table) spurious net changes — double-folding
    every keyless consumer (dedup_state, ann_index_incremental)."""
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    t.append(_frame(spark, [(f"k{i:02d}", i) for i in range(10)]))
    t.enable_row_tracking()
    t.append(_frame(spark, [(f"k{i:02d}", i) for i in range(10, 14)]))
    carry_from = t.latest_version()
    t.optimize(target_files=1)           # materializes ids into the file
    cdf = t.changes(spark, -1)
    assert not [c for c in cdf.columns if c.startswith("_tx_")]
    # the pure-carry rewrite nets to ZERO effective changes
    assert t.changes(spark, carry_from, net=True).count() == 0
    # and the full-history net feed still reproduces the snapshot
    net = t.changes(spark, -1, net=True)
    assert {(r["k"], r["v"]) for r in net.collect()} == \
        {(r["k"], r["v"]) for r in t.read(spark).collect()}


def test_cdf_metadata_only_readd_moves_no_rows(spark, table_path):
    """enable_row_tracking's backfill re-publishes every LIVE file with a
    base_row_id — a METADATA-only commit. Before the r10 fix both CDF
    walkers (table API and datasource) emitted those re-adds as inserts
    with no matching delete, so an incremental consumer that had already
    folded the original appends double-counted the whole table the
    moment tracking was enabled mid-stream."""
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    t.append(_frame(spark, [(f"k{i}", i) for i in range(3)]))
    seen = t.latest_version()            # consumer already folded this
    ev = t.enable_row_tracking()
    assert t.changes(spark, seen, ev).count() == 0
    sets = t._change_files(seen, ev)
    assert all(not adds and not removes for _, adds, removes in sets)
    # RESTORE across a delete still emits: its re-add pairs with a
    # remove in the same commit (or re-publishes a non-live path)
    t.delete(F.col("k") == "k1")
    v_del = t.latest_version()
    t.restore(v_del - 1)
    got = {(r["k"], r["_change_type"])
           for r in t.changes(spark, v_del).collect()}
    assert ("k1", "insert") in got


def test_cdf_with_row_ids(spark, table_path):
    """changes(with_row_ids=True): the stable identity handle on every
    change row — the contract that lets a KEYLESS consumer fold the
    feed. Pins: retroactive ids across the enable boundary (bootstrap
    from -1 coheres), id stability across OPTIMIZE, MoR delete/update
    pre-image ids from the change-data sidecar, rcv bump on update,
    net-with-ids == snapshot-with-ids, and the not-enabled raise."""
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    t.append(_frame(spark, [(f"k{i:02d}", i) for i in range(6)]))
    with pytest.raises(ValueError, match="row tracking is not enabled"):
        t.changes(spark, -1, with_row_ids=True)
    t.enable_row_tracking()
    t.append(_frame(spark, [(f"k{i:02d}", i) for i in range(6, 9)]))
    t.optimize(target_files=1)

    r = t.changes(spark, -1, with_row_ids=True).collect()
    assert {x["_row_id"] for x in r if x["_row_id"] is None} == set()
    by_k = {}
    for x in r:                     # every leg of one row: ONE identity
        by_k.setdefault(x["k"], set()).add(x["_row_id"])
    assert all(len(s) == 1 for s in by_k.values()), by_k

    # MoR delete: the pre-image id rides the change-data sidecar
    v = t.latest_version()
    t.delete(F.col("k") == "k02", mode="mor")
    mor = t.changes(spark, v, with_row_ids=True).collect()
    assert [(x["_change_type"], x["_row_id"]) for x in mor] == \
        [("delete", by_k["k02"].pop())]

    # MoR update: same id on both legs, rcv bumps on the post-image
    v = t.latest_version()
    t.update(F.col("k") == "k04", {"v": "v + 100"}, mode="mor")
    up = sorted(t.changes(spark, v, with_row_ids=True).collect(),
                key=lambda x: x["_change_type"])
    assert up[0]["_row_id"] == up[1]["_row_id"]
    assert up[1]["_row_commit_version"] > up[0]["_row_commit_version"]

    # the net feed with ids reproduces the id-bearing snapshot exactly
    net = t.changes(spark, -1, net=True, with_row_ids=True)
    assert {(x["k"], x["v"], x["_row_id"], x["_row_commit_version"])
            for x in net.filter("_change_type = 'insert'").collect()} == \
        {(x["k"], x["v"], x["_row_id"], x["_row_commit_version"])
         for x in t.read(spark, with_row_ids=True).collect()}

    # a row deleted BEFORE enable never had an identity: NULL id, and
    # its insert/delete legs still cancel under net
    p2 = table_path + "_pre"
    t2 = TxLogTable(p2, key_cols=["k"], stats_col="k")
    try:
        t2.append(_frame(spark, [("gone", 1), ("stays", 2)]))
        t2.delete(F.col("k") == "gone")
        t2.enable_row_tracking()
        feed = t2.changes(spark, -1, with_row_ids=True).collect()
        gone = [x for x in feed if x["k"] == "gone"]
        assert gone and all(x["_row_id"] is None for x in gone)
        netted = t2.changes(spark, -1, net=True,
                            with_row_ids=True).collect()
        assert {x["k"] for x in netted} == {"stays"}
    finally:
        shutil.rmtree(p2, ignore_errors=True)


def test_cdf_row_ids_with_column_mapping(spark, table_path):
    """Interaction pin: with column mapping ON, the CDF's mapping
    projection must carry _row_id/_row_commit_version through to the
    renamed LOGICAL schema (the projection selects schema fields — a
    regression would silently drop the id columns)."""
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    t.append(_frame(spark, [(f"k{i}", i) for i in range(4)]))
    t.enable_row_tracking()
    t.enable_column_mapping()
    t.rename_column("v", "val")
    t.append(spark.createDataFrame([("k9", 9)],
                                   "k string, val long").coalesce(1))
    feed = t.changes(spark, -1, with_row_ids=True)
    assert feed.columns == ["k", "val", "_row_id",
                            "_row_commit_version", "_change_type",
                            "_commit_version"]
    rows = feed.collect()
    assert {r["k"] for r in rows} == {f"k{i}" for i in range(4)} | {"k9"}
    assert all(r["_row_id"] is not None for r in rows)
    # net feed with ids equals the id-bearing snapshot, renamed schema
    net = t.changes(spark, -1, net=True, with_row_ids=True)
    assert {(r["k"], r["val"], r["_row_id"]) for r in net.collect()} == \
        {(r["k"], r["val"], r["_row_id"])
         for r in t.read(spark, with_row_ids=True).collect()}
