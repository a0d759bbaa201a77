"""Per-operation Spark metrics from an uncompressed, non-rolling event log.

Jobs map to benchmark operations through their job group
(``perfbench-op-<id>``); stages and tasks map through the jobs that list
them. SQL metrics of the Python evaluation nodes (``MapInPandas``,
``ArrowEvalPython``, ...) are found in the SQL plan infos, including the
plans adaptive execution re-issues, and summed from the task accumulator
updates.
"""

from __future__ import annotations

import json

from spans import JOB_GROUP_PREFIX

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_ADAPTIVE = ("org.apache.spark.sql.execution.ui."
                "SparkListenerSQLAdaptiveExecutionUpdate")
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
ROWS = "number of output rows"


def load(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _is_python_node(name: str) -> bool:
    return "Python" in name or "Pandas" in name or "Arrow" in name


def _python_accumulators(events: list[dict]) -> dict[str, set[int]]:
    """Accumulator ids of the Python nodes' byte metrics, and of the
    ``number of output rows`` metric of the nearest node below each Python
    node that has one (the rows sent to the workers)."""
    ids = {"sent": set(), "received": set(), "rows_sent": set()}

    def first_rows(node: dict) -> int | None:
        for m in node["metrics"]:
            if m["name"] == ROWS:
                return m["accumulatorId"]
        for child in node["children"]:
            found = first_rows(child)
            if found is not None:
                return found
        return None

    def walk(node: dict) -> None:
        if _is_python_node(node["nodeName"]):
            for m in node["metrics"]:
                if m["name"] == PY_SENT:
                    ids["sent"].add(m["accumulatorId"])
                elif m["name"] == PY_RECEIVED:
                    ids["received"].add(m["accumulatorId"])
            for child in node["children"]:
                rows = first_rows(child)
                if rows is not None:
                    ids["rows_sent"].add(rows)
        for child in node["children"]:
            walk(child)

    for e in events:
        if e["Event"] in (SQL_START, SQL_ADAPTIVE):
            walk(e["sparkPlanInfo"])
    return ids


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def summarize(events: list[dict],
              op_windows: dict[int, tuple[float, float]]) -> dict[str, float]:
    """Spark-layer metrics per operation (means over the traced ops).

    ``op_windows`` maps op id to its (start, end) wall clock in epoch
    seconds; jobs outside any op's group are ignored."""
    job_op: dict[int, int] = {}
    job_span: dict[int, list[float]] = {}
    stage_op: dict[int, int] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id", "")
            if not group.startswith(JOB_GROUP_PREFIX):
                continue
            op = int(group[len(JOB_GROUP_PREFIX):])
            if op not in op_windows:
                continue
            job_op[e["Job ID"]] = op
            job_span[e["Job ID"]] = [e["Submission Time"] / 1e3, None]
            for sid in e["Stage IDs"]:
                stage_op[sid] = op
        elif e["Event"] == "SparkListenerJobEnd" and e["Job ID"] in job_span:
            job_span[e["Job ID"]][1] = e["Completion Time"] / 1e3

    ran = {e["Stage Info"]["Stage ID"] for e in events
           if e["Event"] == "SparkListenerStageCompleted"
           and e["Stage Info"]["Stage ID"] in stage_op}
    py_ids = _python_accumulators(events)
    tot = dict.fromkeys(
        ("tasks", "run", "cpu", "gc", "deser", "shuffle_w", "shuffle_r",
         "spill", "in_bytes", "in_rows", "py_sent", "py_recv", "py_rows"),
        0.0)
    peak_mem = 0
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or e["Stage ID"] not in stage_op:
            continue
        m = e.get("Task Metrics") or {}
        tot["tasks"] += 1
        tot["run"] += m.get("Executor Run Time", 0) / 1e3
        tot["cpu"] += m.get("Executor CPU Time", 0) / 1e9
        tot["gc"] += m.get("JVM GC Time", 0) / 1e3
        tot["deser"] += m.get("Executor Deserialize Time", 0) / 1e3
        sw = m.get("Shuffle Write Metrics") or {}
        tot["shuffle_w"] += sw.get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        tot["shuffle_r"] += (sr.get("Remote Bytes Read", 0)
                             + sr.get("Local Bytes Read", 0))
        tot["spill"] += (m.get("Memory Bytes Spilled", 0)
                         + m.get("Disk Bytes Spilled", 0))
        im = m.get("Input Metrics") or {}
        tot["in_bytes"] += im.get("Bytes Read", 0)
        tot["in_rows"] += im.get("Records Read", 0)
        peak_mem = max(peak_mem, m.get("Peak Execution Memory", 0))
        for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
            try:        # SQL metric updates are logged as strings
                upd = float(acc["Update"])
            except (KeyError, TypeError, ValueError):
                continue
            if acc["ID"] in py_ids["sent"]:
                tot["py_sent"] += upd
            elif acc["ID"] in py_ids["received"]:
                tot["py_recv"] += upd
            elif acc["ID"] in py_ids["rows_sent"]:
                tot["py_rows"] += upd

    gaps = []
    for op, (lo, hi) in op_windows.items():
        spans = [(max(lo, s), min(hi, t)) for j, (s, t) in job_span.items()
                 if job_op[j] == op and t is not None]
        gaps.append((hi - lo) - _union_length([s for s in spans if s[1] > s[0]]))
    n_ops = max(1, len(op_windows))
    all_stages = len(stage_op)
    return {
        "spark.driver_gap_s": sum(gaps) / n_ops,
        "spark.jobs_per_op": len(job_op) / n_ops,
        "spark.stages_per_op": len(ran) / n_ops,
        "spark.tasks_per_op": tot["tasks"] / n_ops,
        "spark.stages_skipped_frac": ((all_stages - len(ran)) / all_stages
                                      if all_stages else 0.0),
        "spark.executor_run_s": tot["run"] / n_ops,
        "spark.executor_cpu_s": tot["cpu"] / n_ops,
        "spark.gc_s": tot["gc"] / n_ops,
        "spark.deserialize_s": tot["deser"] / n_ops,
        "spark.shuffle_write_bytes": tot["shuffle_w"] / n_ops,
        "spark.shuffle_read_bytes": tot["shuffle_r"] / n_ops,
        "spark.spill_bytes": tot["spill"] / n_ops,
        "spark.peak_exec_mem_bytes": float(peak_mem),
        "spark.python_rows_sent": tot["py_rows"] / n_ops,
        "spark.python_bytes_sent": tot["py_sent"] / n_ops,
        "spark.python_bytes_received": tot["py_recv"] / n_ops,
        "tables.scan_input_bytes": tot["in_bytes"] / n_ops,
        "tables.scan_input_rows": tot["in_rows"] / n_ops,
    }
