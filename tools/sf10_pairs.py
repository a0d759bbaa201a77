"""Quiet-window pairwise sf10 re-measurement of the four r10 perf-weak
headliners (+ top_revenue_orders as control), engines interleaved
run-by-run with >= 7 pairs each — the r11 evidence for VERDICT #1.
Writes BENCH_SF10.json (same shape as bench.py's sf10 block)."""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")

from service_level_reporting_spark.session import get_spark
from service_level_reporting_spark.tables import cache_tables, clear_table_cache
from tools import floor_curve, scale_sweep

N_PAIRS = 7


def main() -> None:
    import bench

    spark = get_spark(app_name="slr-sf10-pairs", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    scale_sweep.ensure_built(spark)
    floor_curve.build_sf10(spark)
    clear_table_cache()
    cache_tables(spark, floor_curve.SF10,
                 ("customer", "orders", "lineitem", "events", "documents"))
    t10, b10, n10 = bench.measure_pairwise(
        spark, floor_curve.SF10, floor_curve.AGG_HEADLINERS,
        N_PAIRS, cap_sec=bench.SF1_DUCKDB_CAP_SEC, adaptive=True,
        min_pairs=5)
    runs = n10.get("_runs", {})
    per_query = {}
    for name in floor_curve.AGG_HEADLINERS:
        s, d = runs[name]["spark"], runs[name]["duckdb"]
        per_query[name] = {
            "spark_runs": s, "duckdb_runs": d,
            "spark_med": round(statistics.median(s), 4),
            "duckdb_med": round(statistics.median(d), 4),
            "ratio_of_mins": round(min(s) / min(d), 3),
            "ratio_of_medians": round(statistics.median(s)
                                      / statistics.median(d), 3),
        }
    out = {"metric": "sf10_pairwise_quiet_window_r11",
           "sf": 10, "n_pairs": N_PAIRS,
           "queries": per_query,
           "note": ("r11 VERDICT #1 evidence: interleaved pairs, fresh "
                    "plans per run, one process; candidate rewrites "
                    "(long-bucket key, packed counters, bitmap distinct, "
                    "derived dedup total) measured and rejected — see "
                    "SCALE.md §2, round 11")}
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCH_SF10.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({n: per_query[n]["ratio_of_medians"]
                      for n in per_query}))


if __name__ == "__main__":
    main()
