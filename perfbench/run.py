"""Benchmark runner for the SLI/SLO engine.

    python3 perfbench/run.py --workload slo_report_corpus --seed 1 \
        --seconds 8 --trace 0

Run from the root of a checkout. It generates the workload's inputs from
the seed, drives the package through its public functions with one
closed-loop client (each operation waits for its result) on
``local[<nproc>]``, checks every measured result, and prints one JSON
object as the last line of stdout:

* ``--trace 0``: the end-to-end metrics, tracing off.
  - ``setup_s``: one cold set-up: session start (including the JVM
    launch), program-side staging and cache fill, and the untimed warm-up
    rounds that follow. Input generation is reported apart, on stderr.
  - ``cpu_per_op_s``: the CPU time a typical operation costs: for each
    kind of operation the median of its operations' CPU time, then the
    geometric mean over the kinds (every kind weighs the same, as in
    TPC-H's power metric). An operation's CPU time is that of the process
    tree (Python driver, JVM, Python workers) read from /proc around the
    call, less the JVM's JIT compiler threads.
  - ``rows_per_cpu_s``: input rows (events scanned or committed, documents
    or vectors processed) per CPU second of the measured operations that
    take input rows (on ``sli_ingest_txlog`` the commit, the merge and the
    backfill; the table maintenance operations count in ``cpu_per_op_s``
    only).

  CPU time rather than wall time, because on a shared host the hypervisor
  steals CPU from the guest for minutes at a time and a run's wall-clock
  latencies move with it (on a 4-core guest, the median latency of two
  runs of one workload differed 1.7x while their CPU per operation stayed
  within 5%). JIT compilation is left out because a one-minute run never
  finishes it: the compiler threads burned about as much CPU as the
  measured operations, and how far they had got differed from run to run.
  It is reported per layer. The client's wall-clock figures are on stderr
  and in the traced run.
* ``--trace 1``: the per-layer metrics. The run measures twice on the
  same inputs: first traced, from a cold JVM with Spark's event log on,
  spans, a job group per operation and a streaming listener; then
  untraced, in a new session of the same JVM with the event log off.
  ``trace.overhead_frac`` is the traced ``cpu_per_op_s`` over the
  untraced one, minus one. The untraced measurement runs on a JVM that has
  already compiled more of the code, so the figure is an upper estimate.
  ``client.*`` are the untraced measurement's wall-clock latency (p50,
  p90 over all operations) and input rows per second of the operations
  that take input rows, and ``jvm.jit_cpu_per_op_s`` its JIT
  compiler CPU per operation.
  ``process.peak_rss_mb`` is the peak RSS of the process tree (driver, JVM,
  Python workers) in the traced measurement, sampled from /proc. Layers a
  workload does not exercise read 0.

``failed`` counts operations whose call raised or whose result did not
match its oracle. Everything the run writes goes under
``.perfbench-scratch/`` in the checkout and is removed before it exits.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
TAIL_PCT = 90
E2E_UNITS = {"setup_s": "s", "cpu_per_op_s": "s", "rows_per_cpu_s": "1/s"}
T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench +{time.perf_counter() - T_START:.1f}s] {msg}",
          file=sys.stderr, flush=True)


def per_layer_spec() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def measure(wl, seconds: float, tracer):
    """Set up once from a cold JVM, run the workload's warm-up, then run
    whole rounds of operations until their summed latency reaches
    ``seconds``. Returns the live session and the measurements."""
    import host
    from service_level_reporting_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    session_s = time.perf_counter() - t0
    wl.setup(spark, tracer)
    for op in wl.warmup(spark, tracer):
        op.run()
    setup_s = time.perf_counter() - t0
    log(f"set-up {setup_s:.2f}s (session {session_s:.2f}s)")
    tracer.reset()

    lat, cpu, jit, rows, kinds, rounds = [], [], [], [], {}, []
    failed = attempted = 0
    while sum(lat) < seconds:
        for op in wl.round(spark, tracer):
            attempted += 1
            with tracer.operation(spark, attempted, op.kind):
                c0, j0 = host.tree_cpu_s()
                t0 = time.perf_counter()
                try:
                    result, why = op.run(), None
                except Exception as e:  # a failed operation is counted
                    result, why = None, f"raised {e!r}"
                dt = time.perf_counter() - t0
                c1, j1 = host.tree_cpu_s()
                cpu.append(c1 - c0 - (j1 - j0))
                jit.append(j1 - j0)
            if why is None:
                try:
                    why = op.check(result)
                except Exception as e:
                    why = f"check raised {e!r}"
            if why is not None:
                failed += 1
                log(f"op {attempted} {op.kind} failed: {why}")
            lat.append(dt)
            rows.append(op.rows)
            kinds.setdefault(op.kind, []).append((dt, cpu[-1]))
        rounds.append(round(sum(lat) - sum(rounds), 3))
    log(f"measured {len(lat)} ops in rounds of {rounds}s")
    return spark, {"setup_s": setup_s, "session_s": session_s, "lat": lat,
                   "cpu": cpu, "jit": jit, "rows": rows, "kinds": kinds,
                   "failed": failed, "attempted": attempted}


def stop(wl, spark) -> None:
    try:
        wl.teardown(spark)
    finally:
        spark.stop()


def cpu_per_op(m: dict) -> float:
    """Geometric mean over operation kinds of each kind's median CPU."""
    meds = [statistics.median(c for _, c in v) for v in m["kinds"].values()]
    tick = 1 / os.sysconf("SC_CLK_TCK")    # /proc's resolution
    return math.exp(statistics.fmean(math.log(max(c, tick)) for c in meds))


def per_row_op(m: dict, cost: str) -> float:
    """Input rows per second of ``cost`` ("cpu" or "lat") of the
    operations that take input rows."""
    return sum(m["rows"]) / sum(c for c, r in zip(m[cost], m["rows"]) if r)


def e2e_metrics(m: dict) -> dict[str, float]:
    return {
        "setup_s": m["setup_s"],
        "cpu_per_op_s": cpu_per_op(m),
        "rows_per_cpu_s": per_row_op(m, "cpu"),
    }


def client_metrics(m: dict) -> dict[str, float]:
    """What the closed-loop client sees: wall-clock latency per operation
    and input rows per second of operation time."""
    return {
        "client.latency_p50_s": statistics.median(m["lat"]),
        "client.latency_tail_s": float(np.percentile(m["lat"], TAIL_PCT)),
        "client.rows_per_s": per_row_op(m, "lat"),
    }


def traced_run(wl, seconds: float, dirs: dict) -> tuple[dict, dict]:
    """Measure traced, from a cold JVM with the event log on, then untraced
    in a new session of the same JVM with the event log off; returns the
    traced measurements and the per-layer metrics."""
    import eventlog
    import host
    import spans
    from pyspark import SparkContext

    host.write_spark_conf(dirs, event_log=True)
    tracer = spans.Tracer(True)
    with host.PeakRss() as rss:
        spark, on = measure(wl, seconds, tracer)
    try:
        app = spark.sparkContext.applicationId
        layer = wl.layer_metrics(tracer)
    finally:
        stop(wl, spark)
    # the launch conf reaches a new session as JVM system properties
    SparkContext._jvm.java.lang.System.setProperty("spark.eventLog.enabled",
                                                   "false")
    spark, off = measure(wl, seconds, spans.Tracer(False))
    stop(wl, spark)
    layer.update(eventlog.summarize(
        eventlog.load(os.path.join(dirs["eventlog"], app)),
        tracer.op_windows()))
    layer["session.start_s"] = on["session_s"]
    layer["process.peak_rss_mb"] = rss.peak / (1 << 20)
    layer.update(client_metrics(off))
    layer["jvm.jit_cpu_per_op_s"] = statistics.fmean(off["jit"])
    layer["trace.overhead_frac"] = cpu_per_op(on) / cpu_per_op(off) - 1.0
    on["failed"] += off["failed"]
    on["attempted"] += off["attempted"]
    return on, layer


def run(args) -> dict:
    import host
    import spans
    import workloads

    if not os.path.isdir(os.path.join(ROOT, "service_level_reporting_spark")):
        raise SystemExit("perfbench: run from the root of a checkout that "
                         "holds service_level_reporting_spark/")
    wl = workloads.make(args.workload)
    scratch = os.path.join(ROOT, ".perfbench-scratch", f"run-{os.getpid()}")
    dirs = host.make_scratch(scratch)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    spark = None
    try:
        t0 = time.perf_counter()
        inputs = wl.generate(dirs["data"], args.seed)
        gen_s = time.perf_counter() - t0
        if args.trace:
            m, metrics = traced_run(wl, args.seconds, dirs)
            units = per_layer_spec()
            metrics = {k: float(metrics.get(k, 0.0)) for k in units}
        else:
            spark, m = measure(wl, args.seconds, spans.Tracer(False))
            units, metrics = E2E_UNITS, e2e_metrics(m)
        log("detail " + json.dumps({
            "workload": args.workload, "seed": args.seed,
            "input_gen_s": round(gen_s, 3), "input_rows": inputs.rows,
            "input_bytes": inputs.bytes, "samples": len(m["lat"]),
            "tail_pct": TAIL_PCT, "cpus": host.cpus(),
            "driver_heap": host.driver_heap(),
            "cpu_s": round(sum(m["cpu"]), 2),
            "jit_cpu_s": round(sum(m["jit"]), 2),
            "cpu_p50_s": statistics.median(m["cpu"]),
            "cpu_tail_s": float(np.percentile(m["cpu"], TAIL_PCT)),
            **{k: round(v, 4) for k, v in client_metrics(m).items()},
            "kinds_wall_cpu": {
                k: [round(statistics.median(x[i] for x in v), 3)
                    for i in (0, 1)]
                for k, v in m["kinds"].items()}}))
        return {"correct": m["failed"] == 0, "attempted": m["attempted"],
                "failed": m["failed"],
                "metrics": {k: {"value": metrics[k], "unit": units[k]}
                            for k in units}}
    finally:
        if spark is not None:
            stop(wl, spark)
        shutdown_jvm()
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, HERE)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
