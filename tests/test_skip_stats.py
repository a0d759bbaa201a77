"""One skip-stats format and one file-skipping path for txlog DML.

1. ``key_range`` is a bound on the stats column in the typed-stats
   domain, pruned by ``_prune_files`` like any ``column_ranges`` bound:
   on a numeric stats column, numeric bounds prune numerically and
   string bounds (cross-kind) prune nothing — neither raises. Adds carry
   only the typed ``stats``, no string ``min``/``max``.
2. The scope probe runs at every commit attempt: a predicate-matching
   row appended OUTSIDE ``key_range`` by a second handle between the
   delete's staging and its claim makes the delete raise instead of
   committing its reused actions past that row.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from service_level_reporting_spark.sources.txlog import TxLogTable


@pytest.fixture()
def table_path():
    p = os.path.join(tempfile.gettempdir(),
                     f"slr_skip_{uuid.uuid4().hex[:8]}")
    yield p
    shutil.rmtree(p, ignore_errors=True)


def _numeric_table(spark, path) -> TxLogTable:
    """A ``long`` stats column ``k`` over three files: [1-4], [6-9],
    [10-15] — '9' > '10' and '4' < '5' as strings."""
    t = TxLogTable(path, key_cols=["k"], stats_col="k")
    for lo, hi in ((1, 4), (6, 9), (10, 15)):
        t.append(spark.range(lo, hi + 1).select(
            F.col("id").alias("k"), F.lit("x").alias("tag")).coalesce(1))
    return t


def _adds(t) -> list[dict]:
    out = []
    for v in range(t.latest_version() + 1):
        with open(t._commit_path(v)) as fh:
            out += [a["add"] for a in json.load(fh)["actions"]
                    if "add" in a]
    return out


def test_string_key_range_on_numeric_stats_prunes_nothing(spark,
                                                          table_path):
    t = _numeric_table(spark, table_path)
    adds = _adds(t)
    assert len(adds) == 3
    assert all("min" not in a and "max" not in a for a in adds)
    assert sorted((a["stats"]["k"]["lo"], a["stats"]["k"]["hi"])
                  for a in adds) == [(1, 4), (6, 9), (10, 15)]
    r = t.delete(F.col("k") == 9, key_range=("5", "10"))
    assert r["matched_rows"] == 1
    # cross-kind bounds never prune: every file is a rewrite candidate
    assert r["carried_files"] == 0
    assert sorted(x["k"] for x in t.read(spark).collect()) \
        == [k for k in range(1, 16) if k not in (5, 9)]


def test_numeric_key_range_prunes_numerically(spark, table_path):
    t = _numeric_table(spark, table_path)
    low = next(a["path"] for a in t._resolve()
               if a["stats"]["k"]["hi"] == 4)
    r = t.delete(F.col("k") == 9, key_range=(5, 10))
    assert r["matched_rows"] == 1
    # typed stats carry [1-4] (4 < 5); [6-9] and [10-15] overlap [5, 10]
    assert r["carried_files"] == 1 and r["rewritten_files"] == 2
    assert low in {a["path"] for a in t._resolve()}
    assert sorted(x["k"] for x in t.read(spark).collect()) \
        == [k for k in range(1, 16) if k not in (5, 9)]


def _string_table(spark, path) -> TxLogTable:
    t = TxLogTable(path, key_cols=["k"], stats_col="k")
    for row in (("a", 1), ("b", 99), ("c", 3)):
        t.append(spark.createDataFrame([row], "k string, v int")
                 .coalesce(1))
    return t


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_probe_covers_files_landing_after_staging(spark, table_path,
                                                  mode):
    """A second handle appends ('z', 99) — predicate-matching, outside
    key_range — after the delete staged its actions and before it
    claims; the lost race reuses the staged actions, and the re-plan's
    probe must still see the new file."""
    t = _string_table(spark, table_path)
    real = t.commit
    fired = {"n": 0}

    def commit(actions, version, **kw):
        if not fired["n"]:
            fired["n"] += 1
            TxLogTable.open(table_path).append(spark.createDataFrame(
                [("z", 99)], "k string, v int").coalesce(1))
        return real(actions, version, **kw)

    t.commit = commit
    v_race = t.latest_version() + 1
    with pytest.raises(ValueError, match="exclude file"):
        t.delete(F.col("v") == 99, key_range=("a", "c"), mode=mode)
    assert fired["n"] == 1
    fresh = TxLogTable.open(table_path)
    assert fresh.latest_version() == v_race      # the delete never landed
    assert sorted(r["k"] for r in fresh.read(spark).collect()
                  if r["v"] == 99) == ["b", "z"]
