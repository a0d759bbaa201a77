"""r12 (VERDICT #5): the D27/D28 composition measured END-TO-END — the
D29 incremental curation pipeline at 10^6 docs with a 2.5% increment,
stage-by-stage wall/bytes, fold-vs-batch divergence checked in-probe.

Corpus (10^6 synthetic ~30-word docs) staged as a txlog table; then:

  initial pass   : quality fold (algebraic state) + dedup state build
  2.5% increment : 1.5% appends + 0.5% MoR text updates + 0.5% deletes
  incremental    : quality_sync + dedup_state_sync (each timed alone),
                   then the two derived outputs (verdicts, packed
                   training sequences) materialized and timed
  batch twin     : batch_recompute over the final snapshot + the same
                   outputs — the cost the incremental path replaces

Divergence rows (quality report / verdicts / packed) must be 0.
Writes BENCH_CURATION.json. Run: python tools/curation_pipeline_probe.py [n_docs]
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

    from service_level_reporting_spark.operators import (
        curation_pipeline as CP, dedup_state as DS)
    from service_level_reporting_spark.sources.txlog import TxLogTable

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .config("spark.sql.shuffle.partitions", cpus)
             .config("spark.driver.memory", "24g")
             .config("spark.ui.enabled", "false")
             .appName("curation-pipeline-probe").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    root = "/tmp/slr_curation_probe"
    shutil.rmtree(root, ignore_errors=True)
    corp_p = os.path.join(root, "corpus")
    work_p = os.path.join(root, "work")
    fresh_p = os.path.join(root, "fresh")
    out: dict = {"metric": "curation_pipeline_probe", "n_docs": n_docs}

    def synth_docs(ids):
        # same deterministic shingle-rich synth as dedup_sync_probe
        return ids.select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", F.transform(
                F.sequence(F.lit(1), F.lit(30)),
                lambda i: F.format_string(
                    "w%04d", F.pmod(F.xxhash64(F.col("id") * 131 + i),
                                    F.lit(4000))))).alias("text"))

    def timed(fn):
        t0 = time.monotonic()
        r = fn()
        return round(time.monotonic() - t0, 2), r

    try:
        t = TxLogTable(corp_p, key_cols=["doc_id"], stats_col="doc_id")
        t.append(synth_docs(spark.range(n_docs))
                 .repartitionByRange(16, F.col("doc_id")))

        # ---- initial pass (both states built from scratch, once)
        sec, _ = timed(lambda: CP.pipeline_sync(spark, corp_p, work_p))
        out["initial_pass_sec"] = sec
        bytes0 = _dir_bytes(work_p)
        out["initial_state_bytes"] = bytes0

        # ---- the 2.5% increment
        n_app, n_upd, n_del = (int(n_docs * p)
                               for p in (0.015, 0.005, 0.005))
        t.append(synth_docs(spark.range(n_docs, n_docs + n_app))
                 .repartitionByRange(4, F.col("doc_id")))
        t.update(f"doc_id < {n_upd}",
                 {"text": "concat(text, ' updated tail words')"},
                 key_range=(0, n_upd), verify_scope=False,
                 mode="mor")
        t.delete_keys(spark.range(n_upd, n_upd + n_del)
                      .select(F.col("id").alias("doc_id")))
        out["delta"] = {"appended": n_app, "updated": n_upd,
                        "deleted": n_del}

        # ---- incremental pass, stage by stage
        stages: dict = {}
        b_before = _dir_bytes(work_p)
        sec, q = timed(lambda: CP.quality_sync(spark, corp_p, work_p))
        stages["quality_fold"] = {"sec": sec, "mode": q["mode"]}
        b_q = _dir_bytes(work_p)
        stages["quality_fold"]["bytes"] = b_q - b_before
        sec, d = timed(lambda: DS.dedup_state_sync(
            spark, corp_p, os.path.join(work_p, "dedup_state")))
        b_d = _dir_bytes(work_p)
        stages["dedup_fold"] = {"sec": sec, "mode": d["mode"],
                                "signed": d.get("signed"),
                                "deleted": d.get("deleted"),
                                "bytes": b_d - b_q}
        sec, vi = timed(lambda: CP.verdicts(spark, corp_p, work_p)
                        .localCheckpoint(eager=True))
        stages["verdicts"] = {"sec": sec, "rows": vi.count()}
        sec, pi = timed(lambda: CP.packed_sequences(spark, corp_p,
                                                    work_p)
                        .localCheckpoint(eager=True))
        stages["packed"] = {"sec": sec, "rows": pi.count()}
        # r12: the multi-stratum pack — N window partitions instead of
        # the single global sort; docs/tokens conserved (asserted)
        sec, p32 = timed(lambda: CP.packed_sequences(
            spark, corp_p, work_p, n_strata=32)
            .localCheckpoint(eager=True))
        from pyspark.sql import functions as _F
        assert (tuple(pi.agg(_F.sum("n_docs"),
                             _F.sum("seq_tokens")).first())
                == tuple(p32.agg(_F.sum("n_docs"),
                                 _F.sum("seq_tokens")).first()))
        stages["packed_strata32"] = {"sec": sec, "rows": p32.count()}
        out["incremental"] = stages
        out["incremental_fold_sec"] = round(
            stages["quality_fold"]["sec"] + stages["dedup_fold"]["sec"],
            2)
        out["incremental_fold_bytes"] = b_d - b_before

        # ---- the batch twin over the final snapshot
        sec, _ = timed(lambda: CP.batch_recompute(spark, corp_p,
                                                  fresh_p))
        out["batch_recompute_sec"] = sec
        out["batch_recompute_bytes"] = _dir_bytes(fresh_p)
        sec, vb = timed(lambda: CP.verdicts(spark, corp_p, fresh_p)
                        .localCheckpoint(eager=True))
        out["batch_verdicts_sec"] = sec
        sec, pb = timed(lambda: CP.packed_sequences(spark, corp_p,
                                                    fresh_p)
                        .localCheckpoint(eager=True))
        out["batch_packed_sec"] = sec

        # ---- fold == batch, row for row, on every output
        def div(a, b) -> int:
            return a.exceptAll(b).unionAll(b.exceptAll(a)).count()

        out["divergence"] = {
            "quality": div(CP.quality_report(spark, work_p),
                           CP.quality_report(spark, fresh_p)),
            "verdicts": div(vi, vb),
            "packed": div(pi, pb)}
        out["fold_advantage_x"] = round(
            out["batch_recompute_sec"] / out["incremental_fold_sec"], 2)
        out["bytes_advantage_x"] = round(
            out["batch_recompute_bytes"]
            / max(1, out["incremental_fold_bytes"]), 1)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()

    dest = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH_CURATION.json")
    with open(dest, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000)
