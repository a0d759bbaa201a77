"""One log-replay seam: every TxLog state walker (file resolution, txn
markers, CHECK constraints, generated columns, the recorded schema and
the last-wins protocol / columnMapping / config / rowTracking actions)
seeds from the latest checkpoint and folds the commit tail through
``TxLogTable._replay``. Pins, on one table with two checkpoints:
checkpointed and raw-log replay agree at every version; every
checkpoint is parquet-sharded and carries every state key; a checkpoint
in any other format raises; a hole in the log raises in every walker."""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid

import pytest

from service_level_reporting_spark.sources.txlog import TxLogTable

STATE_KEYS = ("txns", "constraints", "generated", "schema", "protocol",
              "columnMapping", "config", "rowTracking")


def _schema(t, v, c):
    sch, evolved = t.table_schema_info(v, use_checkpoint=c)
    return (None if sch is None else sch.json()), evolved


WALKERS = {
    "files": lambda t, v, c: t._resolve(v, use_checkpoint=c),
    "txns": lambda t, v, c: t._txn_map(v, use_checkpoint=c),
    "constraints": lambda t, v, c: t.constraints(v, use_checkpoint=c),
    "generated": lambda t, v, c: t.generated_columns(v, use_checkpoint=c),
    "schema": _schema,
    **{key: (lambda k: lambda t, v, c: t._replay_last(
        k, v, use_checkpoint=c))(key)
       for key in ("protocol", "columnMapping", "config", "rowTracking")},
}


@pytest.fixture(scope="module")
def table(spark):
    """23 commits (v0..v22), checkpoints at v10 and v20: mostly cheap
    metadata-only commits, three small appends."""
    path = os.path.join(tempfile.gettempdir(),
                        f"slr_replay_{uuid.uuid4().hex[:8]}")
    t = TxLogTable(path, key_cols=["k"], stats_col="k")

    def rows(lo, hi, region=False):
        if region:
            return spark.createDataFrame(
                [(f"k{i:02d}", i, "eu") for i in range(lo, hi)],
                "k string, v long, region string").coalesce(1)
        return spark.createDataFrame(
            [(f"k{i:02d}", i) for i in range(lo, hi)],
            "k string, v long").coalesce(1)

    def marker(writer, batch):
        t.commit([], t.latest_version() + 1,
                 txn={"writer": writer, "batch": batch})

    t.add_generated_column("ku", "string", "upper(k)")             # v0
    t.append(rows(0, 4))                                           # v1
    t.add_constraint("v_nonneg", "v >= 0")                         # v2
    for b in range(4):                                             # v3-6
        marker("w1", b)
    t.upgrade_protocol(writer_features=["checkConstraints"])       # v7
    t.enable_column_mapping()                                      # v8
    t.append(rows(4, 6, region=True))      # v9: additive + mapping add
    t.enable_row_tracking()                                        # v10
    for b in range(6):                                             # v11-16
        marker("w2", b)
    t.add_constraint("v_small", "v < 1000")                        # v17
    t.drop_constraint("v_small")                                   # v18
    marker("w1", 4)                                                # v19
    t.append(rows(6, 8))                                           # v20
    marker("w2", 6)                                                # v21
    t.commit([{"config": t.effective_config()}],
             t.latest_version() + 1)                               # v22
    assert t.latest_version() == 22
    yield t
    shutil.rmtree(path, ignore_errors=True)


def test_checkpointed_replay_matches_raw_log_at_every_version(table):
    fresh = TxLogTable.open(table.path)          # cold caches
    for v in range(table.latest_version() + 1):
        for name, walk in WALKERS.items():
            want = walk(table, v, False)
            assert walk(table, v, True) == want, (name, v)
            assert walk(fresh, v, True) == want, (name, v)
    # the fold is not vacuous: every kind of state is present at the end
    assert table._txn_map() == {"w1": 4, "w2": 6}
    assert table.constraints() == {"v_nonneg": "v >= 0"}
    assert set(table.generated_columns()) == {"ku"}
    sch, evolved = table.table_schema_info()
    assert {f.name for f in sch.fields} == {"k", "v", "ku", "region"}
    assert evolved
    assert "checkConstraints" in table.table_protocol()["writerFeatures"]
    assert {f["logical"] for f in table.column_mapping()["fields"]} \
        == {"k", "v", "ku", "region"}
    assert table.row_tracking() is not None
    assert len(table._resolve()) == 3


def test_every_checkpoint_is_parquet_and_carries_every_key(table):
    metas = sorted(f for f in os.listdir(table.log_dir)
                   if f.endswith(".checkpoint.json"))
    assert [int(f[:20]) for f in metas] == [10, 20]
    for f in metas:
        with open(os.path.join(table.log_dir, f)) as fh:
            meta = json.load(fh)
        assert meta["parts_format"] == "parquet", f
        assert set(STATE_KEYS) <= set(meta), (f, sorted(meta))


def test_foreign_checkpoint_format_raises(table):
    cp = os.path.join(table.log_dir,
                      "00000000000000000020.checkpoint.json")
    with open(cp) as fh:
        orig = fh.read()
    meta = json.loads(orig)
    meta["parts_format"] = "json"
    t = TxLogTable.open(table.path)
    try:
        with open(cp, "w") as fh:
            json.dump(meta, fh)
        for name, walk in WALKERS.items():
            with pytest.raises(ValueError, match="parts_format 'json'"):
                walk(t, 21, True)
        # opening the table replays its config, so it refuses too
        with pytest.raises(ValueError, match="parts_format 'json'"):
            TxLogTable.open(table.path)
    finally:
        with open(cp, "w") as fh:
            fh.write(orig)


def test_missing_commit_raises_in_every_walker(table):
    victim = table._commit_path(15)
    with open(victim) as fh:
        orig = fh.read()
    os.remove(victim)
    try:
        t = TxLogTable.open(table.path)
        for name, walk in WALKERS.items():
            # checkpointed: v17's tail (from the v10 checkpoint) crosses
            # the hole; raw replay crosses it at any later version
            for v, c in ((17, True), (17, False), (22, False)):
                with pytest.raises(ValueError, match="missing version 15"):
                    walk(t, v, c)
        # a checkpointed read past the next checkpoint never needs it
        assert len(t._resolve()) == 3
    finally:
        with open(victim, "w") as fh:
            fh.write(orig)
