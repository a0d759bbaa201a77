"""Pruning bounds on a ``TimestampType`` stats column compare in the
footer stats' form: ``str()`` of the UTC instant with its offset
(``'2024-01-02 00:00:00+00:00'``).

1. A merge derives its bounds from the collected source, which PySpark
   returns as naive driver-local datetimes; under a non-UTC driver time
   zone those read hours off, so the file holding the matching key was
   pruned and the update became a duplicate insert.
2. A ``key_range`` string bound reads as a ``timestamp'…'`` literal does
   (naive = session time zone). Passed through as written, the bound
   ``'2024-01-02 00:00:00'`` sorted before the stat
   ``'2024-01-02 00:00:00+00:00'`` and pruned the file whose minimum
   equals the inclusive upper bound. An unparseable bound prunes
   nothing.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
import uuid

import pytest

from service_level_reporting_spark.sources.txlog import TxLogTable


@pytest.fixture()
def table_path():
    p = os.path.join(tempfile.gettempdir(),
                     f"slr_tsb_{uuid.uuid4().hex[:8]}")
    yield p
    shutil.rmtree(p, ignore_errors=True)


def _rows(spark, *rows):
    """(event_id, 'yyyy-MM-dd HH:mm:ss', value) rows; the timestamps are
    SQL literals, read in the session time zone."""
    return spark.sql(" UNION ALL ".join(
        f"SELECT {i}L AS event_id, timestamp'{ts}' AS ts, {v}D AS value"
        for i, ts, v in rows))


def test_merge_prunes_in_utc_under_a_non_utc_driver(spark, table_path):
    t = TxLogTable(table_path, key_cols=["event_id"], stats_col="ts")
    t.append(_rows(spark, (1, "2024-02-01 10:00:00", 1.0)).coalesce(1))
    t.append(_rows(spark, (2, "2024-02-03 10:00:00", 2.0)).coalesce(1))
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        r = t.merge_into(_rows(spark, (1, "2024-02-01 10:00:00", 9.0)),
                         [("update", None, {"value": "src_value"}),
                          ("insert", None, None)])
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()
    assert (r["updated"], r["inserted"]) == (1, 0)
    assert r["rewritten_files"] == 1 and r["carried_files"] == 1
    got = sorted((x["event_id"], x["value"])
                 for x in t.read(spark).collect())
    assert got == [(1, 9.0), (2, 2.0)]


def test_key_range_string_bound_reads_as_a_timestamp(spark, table_path):
    t = TxLogTable(table_path, key_cols=["event_id"], stats_col="ts")
    t.append(_rows(spark, (1, "2024-01-01 12:00:00", 1.0)).coalesce(1))
    t.append(_rows(spark, (2, "2024-01-02 00:00:00", 2.0)).coalesce(1))
    t.append(_rows(spark, (3, "2024-01-05 00:00:00", 3.0)).coalesce(1))
    r = t.delete("ts = timestamp'2024-01-02 00:00:00'",
                 key_range=("2024-01-01", "2024-01-02 00:00:00"))
    assert r["matched_rows"] == 1
    assert r["rewritten_files"] == 2 and r["carried_files"] == 1
    # an unparseable lower bound does not prune: only the upper one does
    r = t.delete("ts = timestamp'2024-01-01 12:00:00'",
                 key_range=("yesterday", "2024-01-02 00:00:00"))
    assert r["matched_rows"] == 1 and r["carried_files"] == 1
    assert [x["event_id"] for x in t.read(spark).collect()] == [3]
