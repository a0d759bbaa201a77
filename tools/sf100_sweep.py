"""r13 (VERDICT #5): sf100 pooled two-window sweep of ALL FIVE sf10
headliners — BENCH_SF100.json previously carried only the two
events-kernel queries from the r5/r7 floor probes, so the "flat across
sf10->sf100" claim rested on a subset. Builds /tmp/slr_sf100 as 10
key-shifted copies of sf10's orders/lineitem/events/documents (~17 GB
parquet; dims copied through unchanged so FK joins keep resolving —
only PK-side keys shift), then runs bench.py's `measure_pairwise`
(engines interleaved run-by-run) in TWO windows separated by a fixed
gap and pools them with bench.py's `_pooled_sf10_block` — the same
protocol the sf10 contract block uses. Writes BENCH_SF100.json.

BASELINE.md standing rule: quote the per-query ABSOLUTE spark_med
series cross-round; the DuckDB ratio carries the oracle's own window
weather (documented 4x swings).

Usage: python tools/sf100_sweep.py [n_runs] (default 4)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

from pyspark.sql import functions as F          # noqa: E402

SF100 = "/tmp/slr_sf100"
MARKER = os.path.join(SF100, "_SLR_BUILD_OK_ALL")
KEY_SHIFT_100 = 1_000_000_000_000_000   # above sf10's ~1e12 key reach
GAP_SEC = 120.0
DUCK_CAP_SEC = 300.0


def build_sf100(spark) -> None:
    """All tables the five headliners touch, at 100x sf0.1. The r5
    events-only build (SCALE.md §2, decade 3) used a different marker;
    this build is a superset and re-stages events too."""
    import shutil

    from service_level_reporting_spark.tables import load_tables
    from tools import floor_curve, scale_sweep

    if os.path.exists(MARKER):
        return
    scale_sweep.ensure_built(spark)
    floor_curve.build_sf10(spark)
    os.makedirs(SF100, exist_ok=True)
    for name in ("region", "nation", "customer", "supplier", "part"):
        dst = os.path.join(SF100, f"{name}.parquet")
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(os.path.join(floor_curve.SF10, f"{name}.parquet"),
                        dst)
    for name, cols in (("orders", ("o_orderkey",)),
                       ("lineitem", ("l_orderkey",)),
                       ("events", ("event_id", "user_id")),
                       ("documents", ("doc_id",))):
        base = load_tables(spark, floor_curve.SF10, (name,))[name]
        copies = [
            base.select(*[
                (F.col(c) + F.lit(i * KEY_SHIFT_100)).alias(c)
                if c in cols else F.col(c) for c in base.columns])
            for i in range(10)
        ]
        df = copies[0]
        for c in copies[1:]:
            df = df.unionByName(c)
        (df.repartition(128).write.mode("overwrite")
         .parquet(os.path.join(SF100, f"{name}.parquet")))
        print(f"staged sf100 {name}", file=sys.stderr)
    with open(MARKER, "w") as fh:
        fh.write("ok")


def main() -> None:
    import bench
    from service_level_reporting_spark.session import get_spark
    from service_level_reporting_spark.tables import (
        cache_tables, clear_table_cache)
    from tools import floor_curve

    n_runs = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    spark = get_spark(app_name="slr-sf100-sweep", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    build_sf100(spark)
    clear_table_cache()
    cache_tables(spark, SF100,
                 ("customer", "orders", "lineitem", "events", "documents"))
    spark.conf.set("spark.sql.shuffle.partitions", "32")

    w1 = bench.measure_pairwise(
        spark, SF100, floor_curve.AGG_HEADLINERS, n_runs,
        cap_sec=DUCK_CAP_SEC, adaptive=True, min_pairs=3)
    w1_end = time.time()
    print(f"window 1 done; sleeping {GAP_SEC}s", file=sys.stderr)
    time.sleep(GAP_SEC)
    w2 = bench.measure_pairwise(
        spark, SF100, floor_curve.AGG_HEADLINERS, n_runs,
        cap_sec=DUCK_CAP_SEC, adaptive=True, min_pairs=3)
    block = bench._pooled_sf10_block(w1, w2, time.time() - w1_end)
    block["sf"] = 100.0
    block["metric"] = "sf100_pooled_sweep"
    block["n_runs_per_window"] = n_runs
    out_path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH_SF100.json")
    with open(out_path, "w") as fh:
        json.dump(block, fh, indent=1)
    print(json.dumps({k: block[k] for k in
                      ("sf", "queries", "baseline_sec", "total_sec",
                       "baseline_total_sec", "ratio_vs_baseline",
                       "per_query_ratio")}))


if __name__ == "__main__":
    main()
