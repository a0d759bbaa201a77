"""r12 (VERDICT #1/#3): copy-on-write rewrites (merge / merge_into /
CoW delete-update) resolve parquet checkpoints COLUMN-SELECTIVELY —
the bloom/extra_json chunks are never requested unless the op derived
bloom probes — and parsed checkpoint payloads are CACHED per handle so
the merge→delete→fold cadence parses the parts once, not per op.

Counted-COLUMN proofs against a planted 100k-add parquet checkpoint
whose fake adds live in a key range disjoint from the real rows (so
pruning carries them by reference and the rewrite only ever opens real
data files); counted-CALL proofs for the payload cache.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid

import pytest

# r14: heavy system suite — builder-loop tier (driver fast tier skips it; run with -m "")
pytestmark = __import__('pytest').mark.slow
import pyarrow.parquet as _pq

from service_level_reporting_spark.sources.txlog import (
    TxLogTable, bloom_build)

# the physical part columns a probe-less rewrite may request
REWRITE_PHYS = {"path", "rows", "dv", "base_row_id", "default_rcv",
                "stats_json"}


@pytest.fixture()
def table_path():
    p = os.path.join(tempfile.gettempdir(),
                     f"slr_rwsel_{uuid.uuid4().hex[:8]}")
    yield p
    shutil.rmtree(p, ignore_errors=True)


def _frame(spark, v):
    return spark.createDataFrame(
        [(f"k{v:03d}", v)], "k string, v long").coalesce(1)


def _plant(t, spark, n=100_000):
    """Real checkpoint at v10, then rewrite its shards to ALSO carry
    ``n`` fabricated adds in a DISJOINT key range (z...) with realistic
    stats AND bloom payloads — the bytes a selective read must skip."""
    for v in range(11):
        t.append(_frame(spark, v))
    bloom = bloom_build([f"z{i:06d}" for i in range(64)])
    fake = [{"path": f"data/fake/{i:06d}.parquet", "rows": 1000,
             "stats": {"k": {"lo": f"z{i:06d}", "hi": f"z{i + 1:06d}",
                             "nulls": 0},
                       "v": {"lo": i, "hi": i + 1000, "nulls": 0}},
             "bloom": bloom}
            for i in range(n)]
    cp = os.path.join(t.log_dir, "00000000000000000010.checkpoint.json")
    meta = json.load(open(cp))
    real = t._resolve(10, use_checkpoint=False)
    allf = real + fake
    psz = 30_000
    parts = [allf[i:i + psz] for i in range(0, len(allf), psz)]
    for i in range(int(meta["files_parts"])):
        os.remove(t._part_path(10, i))
    for i, part in enumerate(parts):
        t._write_ckpt_part(t._part_path(10, i), part)
    meta["files_parts"] = len(parts)
    meta["n_files"] = len(allf)
    with open(cp, "w") as fh:
        json.dump(meta, fh)
    return len(allf)


def _spy(monkeypatch):
    requested: list = []
    real = _pq.read_table

    def spying(path, *a, columns=None, **k):
        if "_txlog" in str(path):
            requested.append(columns)
        return real(path, *a, columns=columns, **k)

    monkeypatch.setattr(_pq, "read_table", spying)
    return requested


def test_merge_into_requests_no_bloom_or_extra(spark, table_path,
                                               monkeypatch):
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    n_all = _plant(t, spark)
    t2 = TxLogTable.open(table_path)
    requested = _spy(monkeypatch)
    src = spark.createDataFrame([("k005", 555)], "k string, v long")
    res = t2.merge_into(src, [("update", None, {"v": "src_v"})])
    assert res["updated"] == 1
    # only the one real overlapping file rewrote; every fake carried
    assert res["rewritten_files"] == 1
    assert res["carried_files"] == n_all - 1
    assert requested, "merge_into never touched the parquet parts?"
    for cols in requested:
        assert cols is not None, "rewrite did a FULL part read"
        assert set(cols) <= REWRITE_PHYS, cols
        assert "bloom_json" not in cols and "extra_json" not in cols
    # value check reads ONLY the commit's new file (the planted fake
    # paths don't exist on disk, so a full-table read can't run here)
    rec = json.load(open(t2._commit_path(11)))
    adds = [a["add"] for a in rec["actions"] if "add" in a]
    rows = {(r["k"], r["v"])
            for r in t2._files_df(spark, adds).collect()}
    assert ("k005", 555) in rows


def test_cow_delete_requests_no_bloom_or_extra(spark, table_path,
                                               monkeypatch):
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    _plant(t, spark)
    t2 = TxLogTable.open(table_path)
    requested = _spy(monkeypatch)
    res = t2.delete("k = 'k007'", key_range=("k007", "k007"),
                    verify_scope=False)
    assert res["matched_rows"] == 1 and res["rewritten_files"] == 1
    assert requested
    for cols in requested:
        assert cols is not None and set(cols) <= REWRITE_PHYS, cols
    # the 1-row k007 file became an all-deleted rewrite: pure remove
    assert res["added_files"] == 0
    live = TxLogTable.open(table_path)._resolve()
    assert "k007" not in {a["stats"]["k"]["lo"] for a in live}


def test_merge_with_probes_requests_bloom(spark, table_path, monkeypatch):
    """When the table HAS a bloom column and the source derives probes,
    the rewrite requests bloom_json too — selective means 'exactly what
    the op consumes', not 'never bloom'."""
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k",
                   bloom_col="k")
    for v in range(11):
        t.append(_frame(spark, v))
    t2 = TxLogTable.open(table_path)
    requested = _spy(monkeypatch)
    t2.merge(spark.createDataFrame([("k004", 44)], "k string, v long"))
    assert requested
    for cols in requested:
        assert cols is not None and "bloom_json" in cols, cols
        assert "extra_json" not in cols


def test_mor_delete_resolves_full(spark, table_path, monkeypatch):
    """MoR delete re-adds touched files' dicts wholesale (stats/bloom
    must stay the original file's), so it deliberately resolves FULL —
    the documented exclusion from the selective set."""
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    for v in range(11):
        t.append(_frame(spark, v))
    # a 2-row file so the MoR delete re-adds it WITH a DV (a 1-row file
    # would go fully dead and leave as a plain remove)
    t.append(spark.createDataFrame(
        [("k900", 900), ("k901", 901)], "k string, v long").coalesce(1))
    t2 = TxLogTable.open(table_path)
    requested = _spy(monkeypatch)
    res = t2.delete("k = 'k901'", key_range=("k900", "k901"),
                    verify_scope=False, mode="mor")
    assert res["matched_rows"] == 1
    assert requested and all(c is None for c in requested), requested
    # the DV re-add kept the original file's stats
    live = TxLogTable.open(table_path)._resolve()
    dvd = [a for a in live if a.get("dv")]
    assert dvd and all("stats" in a for a in dvd)


def test_ckpt_payload_cache_parses_once(spark, table_path, monkeypatch):
    """Successive resolves of DIFFERENT versions over one checkpoint
    parse its parquet parts once; a cached full payload serves
    selective requests; the no-cache validators still hit the disk."""
    t = TxLogTable(table_path, key_cols=["k"], stats_col="k")
    for v in range(13):
        t.append(_frame(spark, v))           # checkpoint at v10
    t2 = TxLogTable.open(table_path)
    requested = _spy(monkeypatch)
    full = t2._resolve(12)
    assert requested, "first resolve must parse the parts"
    requested.clear()
    assert len(t2._resolve(11)) == 12        # other version: cache hit
    assert t2._resolve(12, columns=("dv",)) == full   # full serves sel.
    assert requested == [], requested
    # the no-cache reader (what use_checkpoint=False validators use)
    # must hit the disk and must not populate anything
    ckpt = t2._latest_checkpoint(12)
    t2._ckpt_files(ckpt, use_cache=False)
    assert requested, "use_cache=False must re-read the disk"
    # and the validating resolve still equals the cached one
    assert t2._resolve(12, use_checkpoint=False) == full
