"""Quantify D28 — incremental text-dedup state — at scale (r11,
VERDICT #5, the BENCH_REPL treatment): 1M-doc corpus as a txlog table,
a 2.5% increment (appends + text updates + deletes), then

  - ``dedup_state_sync``   — fold the net change feed (O(delta)
                             signatures + one MERGE INTO)
  - ``build_dedup_state``  — the full rebuild the fold replaces

timed with state-table bytes written per path, and fold==rebuild
verified by a row-level state diff. Writes BENCH_DEDUP_SYNC.json.

Run: python tools/dedup_sync_probe.py [n_docs]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def main(n_docs: int = 1_000_000) -> dict:
    from pyspark.sql import SparkSession, functions as F

    from service_level_reporting_spark.operators.dedup_state import (
        build_dedup_state, dedup_state_sync)
    from service_level_reporting_spark.sources.txlog import TxLogTable

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .config("spark.sql.shuffle.partitions", cpus)
             .config("spark.driver.memory", "24g")
             .config("spark.ui.enabled", "false")
             .appName("dedup-sync-probe").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    root = "/tmp/slr_dedup_sync_probe"
    shutil.rmtree(root, ignore_errors=True)
    corp_p, fold_p, fresh_p = (os.path.join(root, d)
                               for d in ("corpus", "folded", "fresh"))
    out: dict = {"metric": "dedup_sync_probe", "n_docs": n_docs}

    def synth_docs(ids):
        # deterministic ~30-word texts over a 4k-word vocabulary —
        # shingle-rich, with natural cross-doc shingle collisions
        return ids.select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", F.transform(
                F.sequence(F.lit(1), F.lit(30)),
                lambda i: F.format_string(
                    "w%04d", F.pmod(F.xxhash64(F.col("id") * 131 + i),
                                    F.lit(4000))))).alias("text"))

    try:
        t = TxLogTable(corp_p, key_cols=["doc_id"], stats_col="doc_id")
        t.append(synth_docs(spark.range(n_docs))
                 .repartitionByRange(16, F.col("doc_id")))

        # initial state build (outside the comparison — both paths
        # start from a fully-built state at version v0)
        t0 = time.monotonic()
        b0 = build_dedup_state(spark, corp_p, fold_p)
        out["initial_build_sec"] = round(time.monotonic() - t0, 2)
        out["initial_signed"] = b0["signed"]
        bytes_before = _dir_bytes(fold_p)

        # 2.5% increment: 1.5% appends, 0.5% text updates, 0.5% deletes
        n_app, n_upd, n_del = (int(n_docs * p)
                               for p in (0.015, 0.005, 0.005))
        t.append(synth_docs(
            spark.range(n_docs, n_docs + n_app))
            .repartitionByRange(4, F.col("doc_id")))
        t.update(f"doc_id < {n_upd}",
                 {"text": "concat(text, ' updated tail words')"},
                 key_range=(0, n_upd), verify_scope=False,
                 mode="mor")
        t.delete_keys(spark.range(n_upd, n_upd + n_del)
                      .select(F.col("id").alias("doc_id")))
        out["delta"] = {"appended": n_app, "updated": n_upd,
                        "deleted": n_del}

        # fold the delta
        t0 = time.monotonic()
        s = dedup_state_sync(spark, corp_p, fold_p)
        out["fold_sec"] = round(time.monotonic() - t0, 2)
        out["fold_signed"] = s["signed"]
        out["fold_deleted"] = s["deleted"]
        out["fold_bytes_written"] = _dir_bytes(fold_p) - bytes_before

        # the alternative: full rebuild at the same corpus version
        t0 = time.monotonic()
        b1 = build_dedup_state(spark, corp_p, fresh_p)
        out["rebuild_sec"] = round(time.monotonic() - t0, 2)
        out["rebuild_signed"] = b1["signed"]
        out["rebuild_bytes_written"] = _dir_bytes(fresh_p)

        # fold == rebuild, row for row
        a = TxLogTable.open(fold_p).read(spark)
        b = TxLogTable.open(fresh_p).read(spark)
        out["state_divergence"] = (a.exceptAll(b)
                                   .unionAll(b.exceptAll(a)).count())
        out["fold_advantage_x"] = round(
            out["rebuild_sec"] / out["fold_sec"], 2)
        out["bytes_advantage_x"] = round(
            out["rebuild_bytes_written"]
            / max(out["fold_bytes_written"], 1), 2)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCH_DEDUP_SYNC.json"),
            "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000)
