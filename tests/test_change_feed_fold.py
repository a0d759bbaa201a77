"""Driver-built lookup frames and the change-feed fold, in the fast tier.

``tables.local_frame`` builds the small (file -> version / row-id) maps of
the txlog change feed, the MoR stage map and the BPE merge table as
JVM-local relations; ``matview.mv_apply_changes`` folds the feed with the
delta evaluated once. Both must give the rows the list-built frame and a
full recompute give."""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from service_level_reporting_spark.operators import matview as MV
from service_level_reporting_spark.sources.txlog import TxLogTable
from service_level_reporting_spark.tables import local_frame

DDL = "f string, a long, b long"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("rows", [
    [("x", 1, None), (None, None, 2), ("z", 3, 4)],
    [],
], ids=["nulls", "empty"])
def test_local_frame_matches_list_frame(spark, rows):
    got = local_frame(spark, rows, DDL)
    want = spark.createDataFrame(rows, DDL)
    assert got.schema == want.schema
    assert sorted(got.collect(), key=repr) == \
        sorted(want.collect(), key=repr)


def test_local_frame_plans_as_local_relation(spark):
    df = local_frame(spark, [("x", 1, 2)], DDL)
    plan = _plan(df.join(F.broadcast(df.select("f")), "f"))
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


@pytest.fixture()
def table_path():
    p = os.path.join(tempfile.gettempdir(),
                     f"slr_fold_{uuid.uuid4().hex[:8]}")
    yield p
    shutil.rmtree(p, ignore_errors=True)


MINMAX = {"keys": ["g"],
          "aggs": {"n": ("count", None), "s": ("sum", "v"),
                   "lo": ("min", "v"), "hi": ("max", "v")}}
ADDITIVE = {"keys": ["g"],
            "aggs": {"n": ("count", None), "s": ("sum", "v"),
                     "m": ("avg", "v")}}


def _view(df):
    return sorted(tuple(r) for r in df.collect())


def test_mor_delete_of_group_extremes_folds_to_recompute(spark,
                                                         table_path):
    t = TxLogTable(table_path, key_cols=["k"], stats_col="g")
    t.append(spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "a", 3.0),
         (4, "b", 5.0), (5, "b", 7.0)], "k long, g string, v double")
        .coalesce(1))
    t.enable_row_tracking()
    v0 = t.latest_version()
    ids = {r["k"]: r["_row_id"]
           for r in t.read(spark, with_row_ids=True).collect()}
    states = {name: MV.mv_init(t.read(spark), spec)
              .localCheckpoint(eager=True)
              for name, spec in (("minmax", MINMAX),
                                 ("additive", ADDITIVE))}

    # merge-on-read delete of both of a's extremes (min 1.0, max 3.0)
    t.delete("k IN (1, 3)", mode="mor")

    feed = t.changes(spark, v0, net=True)
    assert "ExistingRDD" not in _plan(feed)
    snap = t.read(spark)
    for name, spec in (("minmax", MINMAX), ("additive", ADDITIVE)):
        res = MV.mv_apply_changes(states[name], feed, spec, base=snap)
        want = _view(MV.mv_read(MV.mv_init(snap, spec), spec))
        assert _view(MV.mv_read(res["state"], spec)) == want, name
        suspects = {r["g"] for r in res["suspects"].collect()}
        assert suspects == ({"a"} if name == "minmax" else set()), name

    # the row-id maps (MoR stage, change feed) carry the deleted rows'
    # stable identities
    deleted = {(r["k"], r["_row_id"])
               for r in t.changes(spark, v0, with_row_ids=True).collect()}
    assert deleted == {(1, ids[1]), (3, ids[3])}
