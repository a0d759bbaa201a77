"""One change feed: ``TxLogTable.changes`` and the data source agree.

Both plan through ``TxLogTable._change_files`` and read every file in
the schema the log records at the range end, so at every start version
the API feed and ``spark.read.format("txlog").option("mode", "changes")``
give the same columns (those of ``read(to_version)``) and the same rows,
with and without row ids. A file that omits a recorded column yields it
as NULL, building the feed runs no Spark job (no footer inference),
one source read walks the commits once, and a batch read from
``startingVersion=latest`` is an empty feed.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections import Counter
from functools import reduce

import pytest
from pyspark.sql import functions as F

from service_level_reporting_spark.sources.txlog import TxLogTable
from service_level_reporting_spark.sources.txlog_datasource import (
    TxLogBatchReader, TxLogDataSource, _pin_snapshot)


@pytest.fixture()
def table_path():
    p = os.path.join(tempfile.gettempdir(),
                     f"slr_cfeed_{uuid.uuid4().hex[:8]}")
    yield p
    shutil.rmtree(p, ignore_errors=True)


@pytest.fixture(scope="module")
def feed_table(spark):
    """Every kind of commit the feed plans, on a ``(k, v, b)`` table;
    yields the table and its row-tracking enable version. The tests
    only read it."""
    path = os.path.join(tempfile.gettempdir(),
                        f"slr_cfeed_{uuid.uuid4().hex[:8]}")
    t = TxLogTable(path, key_cols=["k"], stats_col="k")

    def frame(rows, ddl="k long, v long, b string"):
        return spark.createDataFrame(rows, ddl).coalesce(1)

    t.append(frame([(1, 10, "a"), (2, 20, "b"), (3, 30, "c")]))
    t.append(frame([(4, 40, "d"), (5, 50, "e"), (6, 60, "f")]))
    ev = t.enable_row_tracking()
    t.append(frame([(9,)], "k long"))                 # narrow file
    t.merge_into(frame([(2, 21, "B"), (7, 70, "g")]),
                 [("update", None, {"v": "src_v", "b": "src_b"}),
                  ("insert", None, None)])
    t.delete(F.col("k") == 4, mode="mor")
    v_dv = t.latest_version()                         # [4-6] file: 1 DV
    t.update(F.col("k") == 5, {"v": "55"}, mode="mor")  # 2 DVs
    t.delete(F.col("k") == 1, mode="cow")
    t.optimize(target_files=1)        # removes the 2-DV file
    t.restore(v_dv)                   # re-adds it under its 1-DV chain
    t.enable_column_mapping()
    t.rename_column("b", "tag")
    t.append(frame([(8, 80, "h")], "k long, v long, tag string"))
    yield t, ev
    shutil.rmtree(path, ignore_errors=True)


def _source(spark, path, start, row_ids=False):
    spark.dataSource.register(TxLogDataSource)
    return (spark.read.format("txlog").option("mode", "changes")
            .option("startingVersion", str(start))
            .option("withRowIds", str(row_ids).lower()).load(path))


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def _mismatched_starts(pairs) -> set:
    """Start versions whose two feeds differ as multisets, in ONE Spark
    job over every ``(start, api, src)`` pair."""
    tagged = [df.withColumn("__start", F.lit(s))
              .withColumn("__side", F.lit(side))
              for s, api, src in pairs
              for df, side in ((api, 1), (src, -1))]
    both = reduce(lambda a, b: a.unionByName(b), tagged)
    keys = [c for c in both.columns if c != "__side"]
    return {r["__start"] for r in both.groupBy(*keys)
            .agg(F.sum("__side").alias("d")).where("d != 0").collect()}


def test_api_and_source_feeds_agree_at_every_start(spark, feed_table):
    t, ev = feed_table
    head = t.latest_version()
    cols = t.read(spark).columns
    assert cols == ["k", "v", "tag"]
    plain = [(s, t.changes(spark, s), _source(spark, t.path, s))
             for s in range(-1, head + 1)]
    ids = [(s, t.changes(spark, s, with_row_ids=True),
            _source(spark, t.path, s, row_ids=True))
           for s in range(ev, head + 1)]
    for s, api, src in plain:
        assert api.columns == src.columns == cols + [
            "_change_type", "_commit_version"], s
    for s, api, src in ids:
        assert api.columns == src.columns == cols + [
            "_row_id", "_row_commit_version",
            "_change_type", "_commit_version"], s
    assert _mismatched_starts(plain) == set()
    assert _mismatched_starts(ids) == set()
    # the ranges are not trivially empty: every commit kind emits rows
    full = _rows(t.changes(spark, -1).select("_change_type",
                                             "_commit_version"))
    assert {v for _, v in full} == set(range(head + 1)) - {ev, head - 2,
                                                          head - 1}
    assert full[("delete", ev + 3)] == 1      # MoR delete: sidecar row
    # an empty range nets to the columns of a non-empty one
    assert (t.changes(spark, head, net=True).columns
            == t.changes(spark, -1, net=True).columns
            == cols + ["_change_type", "_n"])


def test_narrow_file_yields_recorded_column_as_null(spark, table_path):
    """``(k, b)`` then a ``(k)``-only append: the range over the narrow
    file alone still has ``b``, NULL, as ``read()`` and the source do."""
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    t.append(spark.createDataFrame([(1, "x"), (2, "y")], "k long, b string")
             .coalesce(1))
    t.append(spark.createDataFrame([(10,)], "k long").coalesce(1))
    api = t.changes(spark, 0)
    assert api.columns == ["k", "b", "_change_type", "_commit_version"]
    assert api.columns == _source(spark, table_path, 0).columns
    assert _rows(api) == Counter([(10, None, "insert", 1)])
    assert t.read(spark).columns == ["k", "b"]


def test_building_the_feed_runs_no_spark_job(spark, feed_table):
    t, ev = feed_table
    sc = spark.sparkContext
    group = f"change-feed-jobs-{uuid.uuid4().hex[:6]}"
    sc.setJobGroup(group, "build change feeds")
    try:
        t.changes(spark, -1)
        t.changes(spark, ev, net=True, with_row_ids=True)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup(None, None)
    assert jobs == [], f"{len(jobs)} jobs"


@pytest.mark.parametrize("empty", [False, True])
def test_a_source_read_walks_the_commits_once(feed_table, monkeypatch,
                                              empty):
    """Pinning the snapshot reads log state only; planning the
    partitions is the one ``_change_files`` walk, for a full range and
    for an empty one alike."""
    t, _ = feed_table
    real, calls = TxLogTable._change_files, []

    def counting(self, s, e):
        calls.append((s, e))
        return real(self, s, e)

    monkeypatch.setattr(TxLogTable, "_change_files", counting)
    start = t.latest_version() if empty else -1
    opts = {"mode": "changes", "startingVersion": str(start)}
    parts = TxLogBatchReader(t.path, opts,
                             _pin_snapshot(t.path, opts)).partitions()
    assert len(calls) == 1
    assert bool(parts[0].path) != empty


def test_batch_feed_from_latest_is_empty(spark, feed_table):
    """``startingVersion=latest`` on a batch read is the empty range
    after the head, with the change-feed columns."""
    t, _ = feed_table
    feed = _source(spark, t.path, "latest")
    assert feed.columns == t.read(spark).columns + [
        "_change_type", "_commit_version"]
    assert feed.count() == 0
