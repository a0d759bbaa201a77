"""r12 migration/backup surface: CONVERT TO TXLOG (register a plain
parquet directory in place — Delta's CONVERT TO DELTA) and DEEP CLONE
(fully self-contained byte-copy — source vacuum can never orphan it)."""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from service_level_reporting_spark.sources.txlog import (
    TxLogTable, VacuumedReferenceError)


@pytest.fixture()
def work_dir():
    p = os.path.join(tempfile.gettempdir(),
                     f"slr_convert_{uuid.uuid4().hex[:8]}")
    os.makedirs(p)
    yield p
    shutil.rmtree(p, ignore_errors=True)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, v int")


def test_convert_registers_in_place_and_ops_work(spark, work_dir):
    plain = os.path.join(work_dir, "plain")
    # a pre-existing plain-parquet dataset: 2 files, no log
    _df(spark, [("a", 1), ("b", 2)]).coalesce(1).write.parquet(plain)
    _df(spark, [("c", 3)]).coalesce(1).write.mode("append").parquet(plain)
    n_files = len([f for r, _, fs in os.walk(plain)
                   for f in fs if f.endswith(".parquet")])
    assert n_files >= 2

    t = TxLogTable.convert(plain, key_cols=["k"], stats_col="k")
    assert t.latest_version() == 0
    live = t._resolve()
    # every original file registered in place, with footer metadata
    assert len(live) == n_files
    assert all("stats" in a and a["rows"] >= 1
               and a["stats"]["k"]["lo"] is not None
               for a in live)
    assert {(r["k"], r["v"]) for r in t.read(spark).collect()} \
        == {("a", 1), ("b", 2), ("c", 3)}
    # the converted table is a full citizen: merge + delete + travel
    t.merge(_df(spark, [("b", 20)]).coalesce(1))
    t.delete("k = 'a'")
    assert {(r["k"], r["v"]) for r in t.read(spark).collect()} \
        == {("b", 20), ("c", 3)}
    assert {(r["k"], r["v"]) for r in t.read(spark, version=0).collect()} \
        == {("a", 1), ("b", 2), ("c", 3)}
    # the data source reads it too (schema from the v0 metaData)
    from service_level_reporting_spark.sources.txlog_catalog import (
        _ensure_registered)
    _ensure_registered(spark)
    via = spark.read.format("txlog").load(plain)
    assert via.count() == 2

    # re-convert refuses; bad config refuses
    with pytest.raises(ValueError, match="already has commits"):
        TxLogTable.convert(plain, key_cols=["k"], stats_col="k")
    plain2 = os.path.join(work_dir, "plain2")
    _df(spark, [("a", 1)]).write.parquet(plain2)
    with pytest.raises(ValueError, match="do not exist"):
        TxLogTable.convert(plain2, key_cols=["nope"], stats_col="k")


def test_deep_clone_is_self_contained(spark, work_dir):
    src_p = os.path.join(work_dir, "src")
    s = TxLogTable(src_p, key_cols=["k"], stats_col="k")
    s.append(_df(spark, [("a", 1), ("b", 2)]).coalesce(1))
    s.append(_df(spark, [("c", 3), ("d", 4)]).coalesce(1))
    s.delete("k = 'c'", mode="mor")        # live DV chain rides the clone
    want = {(r["k"], r["v"]) for r in s.read(spark).collect()}

    deep = s.clone(os.path.join(work_dir, "deep"), deep=True)
    shallow = s.clone(os.path.join(work_dir, "shallow"))
    # deep: zero foreign references; shallow: all foreign
    assert deep.verify_references()["foreign"] == 0
    assert shallow.verify_references()["foreign"] > 0
    assert {(r["k"], r["v"]) for r in deep.read(spark).collect()} == want

    # source vacuum (after an overwrite orphans the originals) breaks
    # the SHALLOW clone but not the DEEP one
    s.overwrite(_df(spark, [("z", 99)]).coalesce(1))
    s.vacuum(retain_versions=1, min_age_sec=0)
    assert {(r["k"], r["v"]) for r in deep.read(spark).collect()} == want
    with pytest.raises(VacuumedReferenceError):
        shallow.read(spark)

    # the deep clone's history labels itself
    assert deep.history()[-1]["op"] == "clone_deep"


def test_vacuum_reclaims_converted_originals(spark, work_dir):
    """r12: once a rewrite removes a registered-in-place original from
    the live set, vacuum reclaims it from the table ROOT (the Delta
    contract: the table directory is table-owned) — while files still
    referenced by retained snapshots survive."""
    plain = os.path.join(work_dir, "plainv")
    _df(spark, [("a", 1), ("b", 2)]).coalesce(1).write.parquet(plain)
    t = TxLogTable.convert(plain, key_cols=["k"], stats_col="k")
    orig = [a["path"] for a in t._resolve()]
    assert all(not p.startswith("data/") for p in orig)
    t.overwrite(_df(spark, [("z", 9)]).coalesce(1))     # originals dead
    res = t.vacuum(retain_versions=1, min_age_sec=0)
    assert res["removed_files"] >= len(orig)
    assert all(not os.path.exists(os.path.join(plain, p)) for p in orig)
    assert {(r["k"], r["v"]) for r in t.read(spark).collect()} \
        == {("z", 9)}


def test_deep_clone_pins_version_under_concurrent_appends(spark,
                                                          work_dir):
    """A deep clone of an explicit version is that version — commits
    landing on the source while (or after) the copy runs never leak
    into the clone, and the clone's own log starts fresh at v0."""
    src_p = os.path.join(work_dir, "race_src")
    s = TxLogTable(src_p, key_cols=["k"], stats_col="k")
    s.append(_df(spark, [("a", 1)]).coalesce(1))           # v0
    s.append(_df(spark, [("b", 2)]).coalesce(1))           # v1
    pinned = s.latest_version()
    s.append(_df(spark, [("c", 3)]).coalesce(1))           # v2: not ours
    deep = s.clone(os.path.join(work_dir, "race_deep"),
                   version=pinned, deep=True)
    s.append(_df(spark, [("d", 4)]).coalesce(1))
    assert {(r["k"], r["v"]) for r in deep.read(spark).collect()} \
        == {("a", 1), ("b", 2)}
    assert deep.latest_version() == 0
    assert deep.verify_references()["foreign"] == 0


def test_convert_distributed_parity_past_threshold(spark, work_dir,
                                                   monkeypatch):
    """r13 (VERDICT #4): past DISTRIBUTE_MIN_FILES, convert()'s footer
    reads run on executors. Parity: the distributed branch commits the
    IDENTICAL add list (paths, rows, min/max, stats) as the driver
    loop over the same files."""
    from service_level_reporting_spark.sources import txlog as TX

    plain_a = os.path.join(work_dir, "plain_a")
    plain_b = os.path.join(work_dir, "plain_b")
    df = spark.createDataFrame(
        [(f"k{i:03d}", i) for i in range(300)], "k string, v int")
    df.repartition(80).write.parquet(plain_a)     # > 64 files
    shutil.copytree(plain_a, plain_b)

    monkeypatch.setattr(TX, "DISTRIBUTE_MIN_FILES", 64)
    t_dist = TxLogTable.convert(plain_a, key_cols=["k"], stats_col="k")
    monkeypatch.setattr(TX, "DISTRIBUTE_MIN_FILES", 10**9)
    t_drv = TxLogTable.convert(plain_b, key_cols=["k"], stats_col="k")

    strip = (lambda adds: sorted(
        ({**a, "path": os.path.basename(a["path"])} for a in adds),
        key=lambda a: a["path"]))
    assert strip(t_dist._resolve()) == strip(t_drv._resolve())
    assert {(r["k"], r["v"]) for r in t_dist.read(spark).collect()} \
        == {(f"k{i:03d}", i) for i in range(300)}


def test_deep_clone_distributed_parity_past_threshold(spark, work_dir,
                                                      monkeypatch):
    """r13 (VERDICT #4): past DISTRIBUTE_MIN_FILES the deep-clone byte
    copy fans out over executors; the clone is still self-contained
    (foreign refs 0), byte-identical content, and a missing source file
    still surfaces as VacuumedReferenceError from the distributed leg."""
    from service_level_reporting_spark.sources import txlog as TX

    monkeypatch.setattr(TX, "DISTRIBUTE_MIN_FILES", 8)
    src_p = os.path.join(work_dir, "big_src")
    s = TxLogTable(src_p, key_cols=["k"], stats_col="k")
    df = spark.createDataFrame(
        [(f"k{i:03d}", i) for i in range(200)], "k string, v int")
    s.append(df.repartition(20))                  # 20 files > threshold
    deep = s.clone(os.path.join(work_dir, "big_deep"), deep=True)
    assert deep.verify_references()["foreign"] == 0
    assert {(r["k"], r["v"]) for r in deep.read(spark).collect()} \
        == {(f"k{i:03d}", i) for i in range(200)}
    # distributed missing-file path: drop one source file, clone again
    gone = [a for a in s._resolve()][3]["path"]
    os.remove(os.path.join(src_p, gone))
    with pytest.raises(VacuumedReferenceError):
        s.clone(os.path.join(work_dir, "big_deep2"), deep=True)
