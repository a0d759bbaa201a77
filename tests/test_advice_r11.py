"""Directed regressions for the round-11 ADVICE findings.

1. append() pinned-base: a constraint/generation-expression commit
   landing AFTER append's fingerprint read (the r10 TOCTOU window)
   must surface as VersionConflict and re-validate the staged files —
   a violating append raises with nothing committed.
2. add_generated_column / add_constraint revalidate-on-conflict: an
   append landing mid-flight (writer-gated against the OLD rule set)
   with rows violating the rule being declared must fail the
   declaration, preserving 'value == expr holds for every physical
   row'.
3. _delete_mor retry fast path: the (constraints, generated_columns)
   tuple comparison (r10 compared a dict against a tuple — always
   False) — a logically-unrelated conflict must take the no-restage
   fast path (rebases == 0).
4. UPDATE / merge_into assignments targeting a GENERATED column are
   rejected (Delta parity), not silently recomputed over.
5. delete_keys(append_df=...) lands mask + post-images in ONE atomic
   commit — the replicate MoR fold has no reader-visible gap.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from service_level_reporting_spark.sources.txlog import (
    ConstraintViolation, GeneratedColumnViolation, TxLogTable)


@pytest.fixture()
def table_path():
    p = os.path.join(tempfile.gettempdir(),
                     f"slr_adv11_{uuid.uuid4().hex[:8]}")
    yield p
    shutil.rmtree(p, ignore_errors=True)


def _t(path):
    return TxLogTable(path, key_cols=["k"], stats_col="k")


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, v int").coalesce(1)


def test_append_revalidates_constraint_landing_after_fingerprint(
        spark, table_path):
    """r10 TOCTOU: constraint lands AFTER append read its metadata
    fingerprint but BEFORE the commit — the pinned-base commit must
    conflict, re-read the rules, and reject the violating staged rows."""
    t = _t(table_path)
    t.append(_df(spark, [("a", 5)]))
    base0 = t.latest_version()

    calls = {"n": 0}
    orig = t.constraints

    def hooked(version=None, use_checkpoint=True):
        res = orig(version, use_checkpoint)
        calls["n"] += 1
        # call 1 = append's pinned-base fingerprint, call 2 =
        # _write_data_files' staging check; fire the concurrent
        # metadata commit after staging validated against the OLD set
        if calls["n"] == 2:
            _t(table_path).add_constraint("small", "v < 10")
        return res

    t.constraints = hooked
    with pytest.raises(ConstraintViolation, match="small"):
        t.append(_df(spark, [("b", 50)]))
    t.constraints = orig
    # the constraint committed; the violating rows never did
    assert t.constraints() == {"small": "v < 10"}
    assert {r["k"] for r in t.read(spark).collect()} == {"a"}
    assert t.latest_version() == base0 + 1
    # a compliant append still lands
    t.append(_df(spark, [("c", 3)]))
    assert {r["k"] for r in t.read(spark).collect()} == {"a", "c"}


def test_add_constraint_revalidates_concurrent_append(spark, table_path):
    """An append landing between add_constraint's snapshot validation
    and its commit holds rows the declaration never saw — the conflict
    retry must re-check exactly those files and refuse."""
    t = _t(table_path)
    t.append(_df(spark, [("a", 5)]))

    orig_commit = t.commit
    fired = {}

    def hooked(actions, version, **kw):
        if not fired and kw.get("op") == "add_constraint":
            fired["x"] = True
            # gated against the OLD (empty) constraint set -> accepted
            _t(table_path).append(_df(spark, [("z", 99)]))
        return orig_commit(actions, version, **kw)

    t.commit = hooked
    with pytest.raises(ConstraintViolation, match="small"):
        t.add_constraint("small", "v < 10")
    t.commit = orig_commit
    assert t.constraints() == {}
    # both data commits visible; declaration never landed
    assert {r["k"] for r in t.read(spark).collect()} == {"a", "z"}


def test_add_generated_column_revalidates_concurrent_append(
        spark, table_path):
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    good = spark.createDataFrame(
        [("a", 4, 8)], "k string, v int, dbl int").coalesce(1)
    t.append(good)

    orig_commit = t.commit
    fired = {}

    def hooked(actions, version, **kw):
        if not fired and kw.get("op") == "add_generated_column":
            fired["x"] = True
            bad = spark.createDataFrame(
                [("z", 5, 11)], "k string, v int, dbl int").coalesce(1)
            TxLogTable(table_path, key_cols=["k"],
                       stats_col="k").append(bad)
        return orig_commit(actions, version, **kw)

    t.commit = hooked
    with pytest.raises(GeneratedColumnViolation):
        t.add_generated_column("dbl", "int", "v * 2")
    t.commit = orig_commit
    assert t.generated_columns() == {}
    assert {r["k"] for r in t.read(spark).collect()} == {"a", "z"}
    # with compliant concurrent data the declaration succeeds
    fired.clear()

    def hooked_ok(actions, version, **kw):
        if not fired and kw.get("op") == "add_generated_column":
            fired["x"] = True
            ok = spark.createDataFrame(
                [("y", 6, 12)], "k string, v int, dbl int").coalesce(1)
            TxLogTable(table_path, key_cols=["k"],
                       stats_col="k").append(ok)
        return orig_commit(actions, version, **kw)

    t.commit = hooked_ok
    # the violating row from the failed attempt is still in the table
    # — remove it first so the snapshot validates
    t.commit = orig_commit
    t.delete(F.col("k") == "z")
    t.commit = hooked_ok
    t.add_generated_column("dbl", "int", "v * 2")
    t.commit = orig_commit
    assert "dbl" in t.generated_columns()


def test_mor_update_retry_fast_path_no_restage(spark, table_path):
    """The r10 tuple/dict comparison made the MoR-UPDATE conflict fast
    path dead (always restaged). A conflict from a PRUNED-OUT append
    with unchanged metadata must re-commit without re-staging."""
    t = _t(table_path)
    t.append(_df(spark, [("a", 1), ("b", 2), ("c", 3)]))

    orig_commit = t.commit
    fired = {}

    def hooked(actions, version, **kw):
        if not fired and kw.get("op") == "update_mor":
            fired["x"] = True
            # keys 'x' sort outside key_range ('a','c') -> pruned out
            _t(table_path).append(_df(spark, [("x", 7)]))
        return orig_commit(actions, version, **kw)

    t.commit = hooked
    res = t.update(F.col("k") == "b", {"v": "v + 10"},
                   key_range=("a", "c"), mode="mor")
    t.commit = orig_commit
    assert res["retries"] == 1
    assert res["rebases"] == 0, (
        "fast path not taken: the (constraints, generated_columns) "
        "tuple comparison regressed")
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {"a": 1, "b": 12, "c": 3, "x": 7}


def test_update_and_merge_reject_generated_assignment(spark, table_path):
    t = _t(table_path)
    t.add_generated_column("dbl", "int", "v * 2")
    t.append(_df(spark, [("a", 1)]))
    with pytest.raises(GeneratedColumnViolation, match="dbl"):
        t.update(F.col("k") == "a", {"dbl": "99"})
    with pytest.raises(GeneratedColumnViolation, match="dbl"):
        t.update(F.col("k") == "a", {"dbl": "99"}, mode="mor")
    src = spark.createDataFrame([("a", 9)], "k string, v int")
    with pytest.raises(GeneratedColumnViolation, match="dbl"):
        t.merge_into(src, [("update", None, {"dbl": "99"})])
    # non-generated assignments still work and recompute the gen col
    t.update(F.col("k") == "a", {"v": "5"})
    row = t.read(spark).collect()[0]
    assert (row["v"], row["dbl"]) == (5, 10)


def test_delete_keys_with_append_is_one_atomic_commit(spark, table_path):
    t = _t(table_path)
    t.append(_df(spark, [("a", 1), ("b", 2)]))
    v0 = t.latest_version()
    keys = spark.createDataFrame([("a",)], "k string")
    post = _df(spark, [("a", 100), ("n", 7)])
    res = t.delete_keys(keys, append_df=post)
    assert t.latest_version() == v0 + 1          # ONE commit
    assert res["matched_rows"] == 1
    assert res["appended_files"] >= 1
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {"a": 100, "b": 2, "n": 7}
    # CDF for that single commit: pre-image delete + both inserts
    ch = t.changes(spark, v0, v0 + 1)
    kinds = {(r["k"], r["_change_type"]) for r in ch.collect()}
    assert kinds == {("a", "delete"), ("a", "insert"), ("n", "insert")}


def test_replicate_mor_fold_is_single_commit(spark, table_path):
    from service_level_reporting_spark.operators.replicate import (
        replicate_bootstrap, replicate_sync, replica_divergence)
    src_path = table_path + "_src"
    rep_path = table_path + "_rep"
    try:
        s = TxLogTable(src_path, key_cols=["k"], stats_col="k")
        s.append(_df(spark, [("a", 1), ("b", 2), ("c", 3)]))
        s.enable_row_tracking()
        replicate_bootstrap(spark, src_path, rep_path)
        r = TxLogTable(rep_path, key_cols=["_src_row_id"],
                       stats_col="_src_row_id")
        v_before = r.latest_version()
        s.update(F.col("k") == "b", {"v": "20"})
        s.append(_df(spark, [("d", 4)]))
        s.delete(F.col("k") == "a")
        out = replicate_sync(spark, src_path, rep_path)
        assert out["mode"] == "fold"
        # the whole fold (mask + post-images) is ONE replica commit
        assert r.latest_version() == v_before + 1
        assert replica_divergence(spark, src_path, rep_path) == 0
    finally:
        shutil.rmtree(src_path, ignore_errors=True)
        shutil.rmtree(rep_path, ignore_errors=True)
