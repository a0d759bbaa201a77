"""``TxLogTable.merge_into`` evaluates its plan once.

One aggregate over the source rejects duplicate keys (before anything
is written) and derives the pruning bounds; one write lands the
rewritten touched files together with the inserts; the clause counts
ride that write as ``observe`` metrics, fresh per staging. Pinned here:
ordered clause semantics and their counts, carried files, row ids, the
duplicate-key refusal, an inserts-only merge, a merge into a table with
no commits, a rebase's counts, and the Spark job budget of one call on
the benchmark's table shape. ``merge()`` is the upsert clause list over
``merge_into``; the row-id, duplicate-key and empty-table cases run
through both.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from service_level_reporting_spark.sources.txlog import TxLogTable

CLAUSES = [
    # matched: the first clause whose condition holds wins
    ("update", "src_v > 100", {"v": "src_v", "tag": "'upd'"}),
    ("delete", "v < 0", None),
    # not matched: the condition sees the source row's own columns
    ("insert", "tag <> 'skip'", None),
]
UPSERT = [("update", None, {"v": "src_v", "tag": "src_tag"}),
          ("insert", None, None)]


def _upsert(t, source, how):
    """The same upsert through ``merge`` or the ``merge_into`` clauses."""
    return t.merge(source) if how == "merge" else t.merge_into(source,
                                                               UPSERT)


@pytest.fixture()
def table_path():
    p = os.path.join(tempfile.gettempdir(),
                     f"slr_merge1_{uuid.uuid4().hex[:8]}")
    yield p
    shutil.rmtree(p, ignore_errors=True)


def _table(spark, path) -> TxLogTable:
    """Three one-file appends on the key/stats column ``k``: [1-3],
    [10-12], [20-22]."""
    t = TxLogTable(path, key_cols=["k"], stats_col="k")
    for rows in ([(1, 5, "a"), (2, -1, "a"), (3, 7, "a")],
                 [(10, 5, "b"), (11, -2, "b"), (12, 9, "b")],
                 [(20, 1, "c"), (21, 2, "c"), (22, 3, "c")]):
        t.append(spark.createDataFrame(rows, "k long, v long, tag string")
                 .coalesce(1))
    return t


def _source(spark, rows):
    return spark.createDataFrame(rows, "k long, v long, tag string")


def _rows(t, spark) -> dict:
    return {r["k"]: (r["v"], r["tag"]) for r in t.read(spark).collect()}


def _data_dirs(t) -> set:
    return set(os.listdir(t.data_dir))


def test_ordered_clauses_counts_and_carried_file(spark, table_path):
    t = _table(spark, table_path)
    carried = next(a["path"] for a in t._resolve()
                   if a["stats"]["k"]["lo"] == 20)
    r = t.merge_into(_source(spark, [
        (1, 500, "s"),       # matched, src_v > 100: update
        (2, 500, "s"),       # matched, update fires first (v < 0 too)
        (11, 50, "s"),       # matched, update fails, v < 0: delete
        (12, 50, "s"),       # matched, no clause fires: unchanged
        (5, 8, "new"),       # not matched, insert
        (6, 8, "skip"),      # not matched, insert condition false
    ]), CLAUSES)
    assert (r["updated"], r["deleted"], r["inserted"]) == (2, 1, 1)
    assert r["rewritten_files"] == 2 and r["carried_files"] == 1
    assert carried in {a["path"] for a in t._resolve()}
    assert _rows(t, spark) == {
        1: (500, "upd"), 2: (500, "upd"), 3: (7, "a"),
        10: (5, "b"), 12: (9, "b"),
        20: (1, "c"), 21: (2, "c"), 22: (3, "c"),
        5: (8, "new")}


def test_cluster_by_table_counts_each_row_once(spark, table_path):
    """A ``cluster_by`` table range-partitions the rewrite before the
    write, and the range partitioner samples its input in a job of its
    own. The counts still describe each row once, and the rows are the
    same as on an unclustered table."""
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k",
                   cluster_by=["k"])
    for rows in ([(1, 5, "a"), (2, -1, "a"), (3, 7, "a")],
                 [(10, 5, "b"), (11, -2, "b"), (12, 9, "b")]):
        t.append(spark.createDataFrame(rows, "k long, v long, tag string")
                 .coalesce(1))
    r = t.merge_into(_source(spark, [
        (1, 500, "s"), (2, 500, "s"), (11, 50, "s"), (12, 50, "s"),
        (5, 8, "new"), (6, 8, "skip")]), CLAUSES)
    assert (r["updated"], r["deleted"], r["inserted"]) == (2, 1, 1)
    assert _rows(t, spark) == {
        1: (500, "upd"), 2: (500, "upd"), 3: (7, "a"),
        10: (5, "b"), 12: (9, "b"), 5: (8, "new")}


@pytest.mark.parametrize("how", ["merge", "merge_into"])
def test_row_ids_carry_through_update_and_mint_for_insert(spark,
                                                          table_path, how):
    t = _table(spark, table_path)
    t.enable_row_tracking()

    def ids():
        return {r["k"]: r["_row_id"]
                for r in t.read(spark, with_row_ids=True).collect()}

    before = ids()
    r = _upsert(t, _source(spark, [(1, 500, "s"), (7, 1, "new")]), how)
    after = ids()
    assert after[1] == before[1]                 # updated: same identity
    assert after[3] == before[3]                 # rewritten, untouched
    assert after[7] is not None and after[7] not in before.values()
    assert len(set(after.values())) == len(after)
    assert (r["updated"], r["inserted"]) == (1, 1)


@pytest.mark.parametrize("how", ["merge", "merge_into"])
def test_duplicate_source_key_raises_before_any_write(spark, table_path,
                                                      how):
    t = _table(spark, table_path)
    v, dirs = t.latest_version(), _data_dirs(t)
    with pytest.raises(ValueError, match="multiple source rows share"):
        _upsert(t, _source(spark, [(1, 500, "s"), (1, 600, "s")]), how)
    assert t.latest_version() == v
    assert _data_dirs(t) == dirs


@pytest.mark.parametrize("how", ["merge", "merge_into"])
def test_upsert_into_table_with_no_commits(spark, table_path, how):
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    r = _upsert(t, _source(spark, [(1, 5, "a"), (2, 6, "b")]), how)
    assert _rows(t, spark) == {1: (5, "a"), 2: (6, "b")}
    assert r["version"] == 0 and r["rewritten_files"] == 0
    assert (r["updated"], r["deleted"], r["inserted"]) == (0, 0, 2)


def test_merge_names_a_column_set_difference(spark, table_path):
    t = _table(spark, table_path)
    v = t.latest_version()
    with pytest.raises(ValueError, match=r"missing \['tag'\], "
                                         r"unknown \['w'\]"):
        t.merge(spark.createDataFrame([(1, 5, 6)], "k long, v long, w long"))
    assert t.latest_version() == v


def test_inserts_only_touch_no_file(spark, table_path):
    t = _table(spark, table_path)
    r = t.merge_into(_source(spark, [(30, 1, "new"), (31, 2, "skip")]),
                     CLAUSES)
    assert r["rewritten_files"] == 0 and r["carried_files"] == 3
    assert (r["updated"], r["deleted"], r["inserted"]) == (0, 0, 1)
    got = _rows(t, spark)
    assert got[30] == (1, "new") and 31 not in got and len(got) == 10


def test_rebase_recounts_the_committed_attempt(spark, table_path):
    """A second handle appends key 5 into the source's range after the
    merge staged and before it claims: the re-plan sees a new touched
    file, re-stages, and the counts are the committed attempt's — key 5
    is now an update, not an insert."""
    t = _table(spark, table_path)
    real = t.commit
    fired = {"n": 0}

    def commit(actions, version, **kw):
        if not fired["n"]:
            fired["n"] += 1
            TxLogTable.open(table_path).append(
                _source(spark, [(5, 0, "race")]).coalesce(1))
        return real(actions, version, **kw)

    t.commit = commit
    r = t.merge_into(_source(spark, [(1, 500, "s"), (5, 700, "s")]),
                     CLAUSES)
    assert fired["n"] == 1 and r["rebases"] == 1
    assert (r["updated"], r["deleted"], r["inserted"]) == (2, 0, 0)
    got = _rows(t, spark)
    assert got[5] == (700, "upd") and got[1] == (500, "upd")
    assert len(got) == 10


def test_one_call_runs_at_most_eight_jobs(spark, table_path):
    """The benchmark's shape: a 20k-row history file, two 5k-row
    appends in a later hour, a 500-row source read from parquet (half
    re-values rows of the appends, half are new ids). The count includes
    the source read's own footer job; the pre-change plan ran 18."""
    t = TxLogTable(table_path, key_cols=["event_id"], stats_col="ts")

    def events(lo, n, start):
        return spark.range(lo, lo + n).select(
            F.col("id").alias("event_id"),
            F.timestamp_seconds(F.lit(start) + F.col("id") % 3600)
            .alias("ts"),
            (F.col("id") % 97).cast("double").alias("value"))

    t.append(events(0, 20_000, 1_704_067_200).coalesce(1))
    for j in range(2):
        t.append(events(100_000 + j * 5_000, 5_000, 1_706_745_600)
                 .coalesce(1))
    src_path = os.path.join(table_path, "_late")
    events(100_000, 250, 1_706_745_600).unionByName(
        events(110_000, 250, 1_706_745_600)).withColumn(
        "value", F.lit(-1.0)).coalesce(1).write.parquet(src_path)

    sc = spark.sparkContext
    group = f"merge-into-jobs-{uuid.uuid4().hex[:6]}"
    sc.setJobGroup(group, "one merge_into")
    try:
        r = t.merge_into(spark.read.parquet(src_path),
                         [("update", None, {"value": "src_value"}),
                          ("insert", None, None)])
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup(None, None)
    assert (r["updated"], r["inserted"]) == (250, 250)
    assert r["rewritten_files"] == 2 and r["carried_files"] == 1
    assert 0 < len(jobs) <= 8, f"{len(jobs)} jobs"
    got = t.read(spark).agg(F.count(F.lit(1)).alias("n"),
                            F.sum((F.col("value") == -1).cast("long"))
                            .alias("late")).first()
    assert (got["n"], got["late"]) == (30_250, 500)
