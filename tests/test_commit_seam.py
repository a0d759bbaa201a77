"""Every TxLogTable write commits through one pinned-base loop
(``_commit_retrying``):

1. Lost updates. A metadata op derives its actions from the snapshot at
   the version it pins and claims exactly that version + 1, so a commit
   from a second handle landing between the op's state read and its
   claim forces a re-plan against the winner's state — the winner's
   protocol feature, added column or config change survives.
2. One deadline. A writer that keeps losing the version race raises
   VersionConflict once COMMIT_DEADLINE_SEC has passed instead of
   spinning forever.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import time
import uuid

import pytest

from service_level_reporting_spark.sources import txlog as TX
from service_level_reporting_spark.sources.txlog import (
    TxLogTable, VersionConflict)


@pytest.fixture()
def table_path():
    p = os.path.join(tempfile.gettempdir(),
                     f"slr_seam_{uuid.uuid4().hex[:8]}")
    yield p
    shutil.rmtree(p, ignore_errors=True)


def _t(path):
    return TxLogTable(path, key_cols=["k"], stats_col="k")


def _seed(spark, path):
    t = _t(path)
    t.append(spark.createDataFrame([("a", 1, "x"), ("b", 2, "y")],
                                   "k string, v int, tag string")
             .coalesce(1))
    return t


def _race(t, walker: str, nth: int, compete) -> dict:
    """Hook ``t.<walker>``: its ``nth`` call returns the state it read,
    but only after ``compete()`` committed through a second handle —
    the window between an op's state read and its claim."""
    orig = getattr(t, walker)
    seen = {"calls": 0, "fired": False}

    def hooked(*args, **kw):
        res = orig(*args, **kw)
        seen["calls"] += 1
        if seen["calls"] == nth:
            compete()
            seen["fired"] = True
        return res

    setattr(t, walker, hooked)
    return seen


def _logical(t) -> set:
    return {f["logical"] for f in t.column_mapping()["fields"]}


def _fields(t) -> dict:
    sch, _ = t.table_schema_info()
    return {f.name: f.dataType.simpleString() for f in sch.fields}


# ---- lost updates -----------------------------------------------------


def test_enable_type_widening_keeps_concurrent_protocol_feature(
        spark, table_path):
    t = _seed(spark, table_path)
    # call 1 is the idempotence check, call 2 the read the actions use
    seen = _race(t, "table_protocol", 2, lambda: _t(table_path)
                 .upgrade_protocol(writer_features=["checkConstraints"]))
    t.enable_type_widening()
    assert seen["fired"]
    wf = set(_t(table_path).table_protocol()["writerFeatures"])
    assert {"typeWidening", "checkConstraints"} <= wf


def test_upgrade_protocol_keeps_concurrent_protocol_feature(
        spark, table_path):
    t = _seed(spark, table_path)
    seen = _race(t, "table_protocol", 1, lambda: _t(table_path)
                 .upgrade_protocol(reader_features=["deletionVectors"]))
    t.upgrade_protocol(writer_features=["checkConstraints"])
    assert seen["fired"]
    p = _t(table_path).table_protocol()
    assert "deletionVectors" in p["readerFeatures"]
    assert {"deletionVectors", "checkConstraints"} <= set(
        p["writerFeatures"])


def test_widen_column_keeps_concurrent_widening(spark, table_path):
    t = _t(table_path)
    t.append(spark.createDataFrame([("a", 1, 2)],
                                   "k string, v smallint, w smallint")
             .coalesce(1))
    t.enable_type_widening()
    seen = _race(t, "table_schema_info", 1,
                 lambda: _t(table_path).widen_column("w", "int"))
    t.widen_column("v", "int")
    assert seen["fired"]
    # the loser re-derived from the winner's schema: both widenings
    # stand and the log still replays
    got = _fields(_t(table_path))
    assert got["v"] == "int" and got["w"] == "int"


def test_enable_column_mapping_keeps_concurrently_added_column(
        spark, table_path):
    t = _seed(spark, table_path)

    def add_column():
        _t(table_path).append(spark.createDataFrame(
            [("c", 3, "z", 9)], "k string, v int, tag string, extra int")
            .coalesce(1))

    seen = _race(t, "table_schema_info", 1, add_column)
    t.enable_column_mapping()
    assert seen["fired"]
    t2 = _t(table_path)
    assert "extra" in _fields(t2)
    assert "extra" in _logical(t2)
    got = {r["k"]: r["extra"]
           for r in t2.read(spark, merge_schema=True).collect()}
    assert got == {"a": None, "b": None, "c": 9}


def test_rename_column_keeps_concurrently_added_column(spark, table_path):
    t = _seed(spark, table_path)
    t.enable_column_mapping()

    def add_column():
        _t(table_path).append(spark.createDataFrame(
            [("c", 3, "z", 9)], "k string, v int, tag string, extra int")
            .coalesce(1))

    seen = _race(t, "table_schema_info", 1, add_column)
    t.rename_column("tag", "label")
    assert seen["fired"]
    t2 = _t(table_path)
    fields = _fields(t2)
    assert "label" in fields and "tag" not in fields
    assert "extra" in fields
    assert {"label", "extra"} <= _logical(t2)
    got = {r["k"]: (r["label"], r["extra"])
           for r in t2.read(spark, merge_schema=True).collect()}
    assert got == {"a": ("x", None), "b": ("y", None), "c": ("z", 9)}


def test_drop_column_keeps_concurrent_config_change(spark, table_path):
    t = _seed(spark, table_path)
    t.enable_column_mapping()
    # the winner renames the key/stats column: a config action plus the
    # renamed mapping and schema
    seen = _race(t, "table_schema_info", 1,
                 lambda: _t(table_path).rename_column("k", "key"))
    t.drop_column("tag")
    assert seen["fired"]
    t2 = TxLogTable.open(table_path)
    cfg = t2.effective_config()
    assert cfg["stats_col"] == "key" and cfg["key_cols"] == ["key"]
    fields = _fields(t2)
    assert "key" in fields and "k" not in fields and "tag" not in fields
    assert _logical(t2) == {"key", "v"}
    assert sorted(r["key"] for r in t2.read(spark).collect()) == ["a", "b"]


# ---- one deadline ------------------------------------------------------


class _GaveUp(Exception):
    """The hooked commit stopped a loop that ignored the deadline."""


def _raise_in_thread(fn, give_up_sec: float = 20.0):
    """Run ``fn`` in a daemon thread and return what it raised. The
    hooked commit stops an unbounded retry loop with _GaveUp after
    ``give_up_sec``, so such a loop fails the test instead of hanging
    it."""
    out = {}

    def run():
        try:
            fn()
        except Exception as exc:            # reported to the test below
            out["exc"] = exc

    th = threading.Thread(target=run, daemon=True)
    th.start()
    th.join(timeout=give_up_sec + 60)
    assert not th.is_alive(), "writer still retrying past its deadline"
    return out.get("exc")


def _always_conflict(t, give_up_sec: float = 20.0):
    t0 = time.monotonic()

    def commit(actions, version, **kw):
        if time.monotonic() - t0 > give_up_sec:
            raise _GaveUp(version)
        raise VersionConflict(version)

    t.commit = commit


@pytest.mark.parametrize("op", ["drop_constraint", "append", "merge"])
def test_every_writer_raises_at_the_deadline(spark, table_path,
                                             monkeypatch, op):
    t = _seed(spark, table_path)
    t.add_constraint("pos", "v > 0")
    v0 = t.latest_version()
    frame = spark.createDataFrame([("b", 5, "q")],
                                  "k string, v int, tag string").coalesce(1)
    monkeypatch.setattr(TX, "COMMIT_DEADLINE_SEC", 0.5)
    _always_conflict(t)
    run = {"drop_constraint": lambda: t.drop_constraint("pos"),
           "append": lambda: t.append(frame),
           "merge": lambda: t.merge(frame)}[op]
    exc = _raise_in_thread(run)
    assert isinstance(exc, VersionConflict), repr(exc)
    assert _t(table_path).latest_version() == v0    # nothing committed
