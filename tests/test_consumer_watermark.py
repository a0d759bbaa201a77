"""The one change-feed consumer contract: every atomic JSON publish in the
package goes through ``sources/txlog.py``, a consumer watermark is one
``read_sync``/``write_sync`` pair, and a consumer's first write is a
plain ``overwrite`` (which lands version 0 on a table with no commits
exactly like ``append``)."""

from __future__ import annotations

import ast
import os
import pathlib
import shutil
import tempfile
import uuid

import pytest

import service_level_reporting_spark
from service_level_reporting_spark.sources.txlog import (
    TxLogTable, read_sync, write_sync)


@pytest.fixture()
def tmp_root():
    root = os.path.join(tempfile.gettempdir(),
                        f"slr_watermark_{uuid.uuid4().hex[:8]}")
    os.makedirs(root)
    yield root
    shutil.rmtree(root, ignore_errors=True)


def test_only_txlog_calls_os_replace():
    pkg = pathlib.Path(service_level_reporting_spark.__file__).parent
    callers = set()
    for path in pkg.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "replace"
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "os"):
                callers.add(path.relative_to(pkg).as_posix())
    assert callers == {"sources/txlog.py"}


def test_watermark_round_trip_overwrites_and_leaves_no_tmp(tmp_root):
    with pytest.raises(FileNotFoundError):
        read_sync(tmp_root)
    write_sync(tmp_root, {"version": 3, "counts": {"0": 5}})
    assert read_sync(tmp_root) == {"version": 3, "counts": {"0": 5}}
    write_sync(tmp_root, {"version": 7})
    assert read_sync(tmp_root) == {"version": 7}
    assert [n for n in os.listdir(tmp_root) if ".tmp." in n] == []


def test_overwrite_on_a_table_with_no_commits_lands_version_0(
        spark, tmp_root):
    df = spark.createDataFrame(
        [("a", 1, None), ("b", 2, 2.5), ("c", 3, 0.5)],
        "k string, n long, x double")
    by_append = TxLogTable(os.path.join(tmp_root, "append"),
                           key_cols=["k"], stats_col="k")
    by_overwrite = TxLogTable(os.path.join(tmp_root, "overwrite"),
                              key_cols=["k"], stats_col="k")
    by_append.append(df)
    by_overwrite.overwrite(df)
    assert by_overwrite.latest_version() == 0
    [h] = by_overwrite.history()
    assert (h["op"], h["n_removed_files"], h["rows_added"]) == (
        "overwrite", 0, 3)
    got = by_overwrite.read(spark)
    assert got.dtypes == df.dtypes
    assert sorted(got.collect()) == sorted(df.collect())
    assert (by_overwrite.table_schema_info(0)
            == by_append.table_schema_info(0))
