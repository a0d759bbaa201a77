"""Every txlog file read takes the schema the log records.

A table whose files hold different column sets — here a later append
omits a recorded column, which needs no metaData action — must read
every recorded column, NULL where a file lacks it. A reader that
inferred its schema from one sampled footer lost the column when it
sampled the narrow file, and every rewrite through that reader then
wrote files without the column, destroying its values.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pytest

from service_level_reporting_spark.sources.txlog import TxLogTable


@pytest.fixture()
def table_path():
    p = os.path.join(tempfile.gettempdir(),
                     f"slr_rschema_{uuid.uuid4().hex[:8]}")
    yield p
    shutil.rmtree(p, ignore_errors=True)


def _table(spark, path) -> TxLogTable:
    """``(k, b)`` rows 1 and 2, then a ``(k)``-only row 10. The narrow
    file is written under a data subdirectory that sorts first, so a
    reader sampling the first footer samples it."""
    t = TxLogTable(path, key_cols=["k"], stats_col="k")
    t.data_dir = os.path.join(path, "data", "z")
    t.append(spark.createDataFrame([(1, "x"), (2, "y")], "k long, b string")
             .coalesce(1))
    t.data_dir = os.path.join(path, "data", "a")
    t.append(spark.createDataFrame([(10,)], "k long").coalesce(1))
    sch, evolved = t.table_schema_info()
    assert [f.name for f in sch.fields] == ["k", "b"] and not evolved
    return t


def _b(t, spark) -> dict:
    return {r["k"]: r["b"] for r in t.read(spark).collect()}


def test_read_keeps_recorded_column(spark, table_path):
    t = _table(spark, table_path)
    df = t.read(spark)
    assert df.columns == ["k", "b"]
    assert _b(t, spark) == {1: "x", 2: "y", 10: None}


@pytest.mark.parametrize("op, left", [
    ("cow_delete", {1: "x", 10: None}),
    ("merge_into", {1: "x"}),
    ("optimize", {1: "x", 2: "y", 10: None}),
])
def test_rewrite_keeps_recorded_column(spark, table_path, op, left):
    t = _table(spark, table_path)
    if op == "cow_delete":
        t.delete("k = 2", mode="cow")
    elif op == "merge_into":
        # keys 2 and 10 span both files, so both are rewritten
        t.merge_into(spark.createDataFrame([(2,), (10,)], "k long"),
                     [("delete", None, None)])
    else:
        t.optimize(target_files=1)
    assert _b(t, spark) == left
