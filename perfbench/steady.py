"""Steadiness check: two sets of benchmark runs, compared per metric.

    python3 perfbench/steady.py [--runs 10] [--workloads a,b]

Run from the root of a checkout. Each set runs every workload ``--runs``
times, each run with its own seed (set 1 uses seeds 1..N, set 2 the next
N), one run at a time. For every (metric, workload) pair it prints the two
sets' medians and quartiles, the spread (interquartile distance over the
median) of each set, and whether the sets agree: both spreads are within
the metric's bound, and the two medians differ by no more than the bound
(as a share of the first). Exits 1 when any pair disagrees or any run
fails.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time

SETS = 2


def one_run(bench: dict, workload: str, seed: int) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", "0"]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {out.returncode}")
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    return res


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default="")
    args = ap.parse_args(argv)
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    names = ([w for w in args.workloads.split(",") if w]
             or [w["name"] for w in bench["workloads"]])
    ok = True
    for wl in names:
        sets = []
        for s in range(SETS):
            runs = []
            for i in range(args.runs):
                seed = 1 + s * args.runs + i
                r = one_run(bench, wl, seed)
                ok &= r["failed"] == 0 and r["correct"]
                runs.append(r)
                print(f"# {wl} set {s + 1} seed {seed}: wall {r['wall_s']:.1f}s "
                      f"failed {r['failed']}/{r['attempted']} "
                      + " ".join(f"{k}={v['value']:.4g}"
                                 for k, v in r["metrics"].items()),
                      flush=True)
            sets.append(runs)
        walls = [r["wall_s"] for runs in sets for r in runs]
        print(f"{wl}: run wall median {statistics.median(walls):.1f}s "
              f"max {max(walls):.1f}s")
        for m in bench["end_to_end"]:
            stats = [spread([r["metrics"][m["name"]]["value"] for r in runs])
                     for runs in sets]
            (_, med1, _, _), (_, med2, _, _) = stats
            agree = (all(st[3] <= m["bound"] for st in stats)
                     and abs(med2 - med1) / med1 <= m["bound"])
            ok &= agree
            print(f"  {m['name']:28s} " + " | ".join(
                f"med {st[1]:.4g} q1 {st[0]:.4g} q3 {st[2]:.4g} "
                f"spread {st[3]:.3f}" for st in stats)
                + f" | bound {m['bound']} {'ok' if agree else 'DISAGREE'}",
                flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
