"""Host sizing, scratch space and process-tree memory for the benchmark.

Everything the run writes lives under one scratch directory inside the
checkout, removed when the run ends: Spark's local dirs (shuffle, spill),
the JVM and Python temp dirs, the warehouse, the event log and the
generated inputs.
"""

from __future__ import annotations

import os
import shutil
import threading

MIN_FREE_BYTES = 3 << 30
RSS_INTERVAL_S = 0.2
# Thread names (as /proc shows them, cut to 15 characters) of HotSpot's JIT
# compilers; the JVM is launched with a fixed set of them, so none exits
# and takes its CPU time out of the per-thread figures.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def cpus() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap() -> str:
    """Driver heap sized from host memory: a sixth of MemTotal, clamped to
    1-4 GiB, so the JVM, the Python workers and page cache all fit on a
    shared host."""
    gib = mem_total_bytes() / (1 << 30) / 6
    return f"{max(1, min(4, int(gib)))}g"


def make_scratch(root: str) -> dict[str, str]:
    """Create the run's scratch tree under ``root`` and point Spark, the JVM
    and Python's tempfile at it. Raises if the filesystem is short of
    space."""
    os.makedirs(root, exist_ok=True)
    free = shutil.disk_usage(root).free
    if free < MIN_FREE_BYTES:
        raise RuntimeError(f"only {free >> 20} MiB free under {root}; "
                           f"the benchmark needs {MIN_FREE_BYTES >> 20} MiB")
    dirs = {k: os.path.join(root, k) for k in
            ("local", "tmp", "warehouse", "conf", "eventlog", "data")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    write_spark_conf(dirs, event_log=False)
    os.environ.update({
        "SPARK_CONF_DIR": dirs["conf"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_GRAFT_DRIVER_MEM": driver_heap(),
    })
    import tempfile
    tempfile.tempdir = dirs["tmp"]
    return dirs


def write_spark_conf(dirs: dict[str, str], event_log: bool) -> None:
    """Write the ``spark-defaults.conf`` the next JVM launch reads; with
    ``event_log``, Spark writes its event log under the scratch tree,
    uncompressed and non-rolling (one JSON-lines file per application)."""
    with open(os.path.join(dirs["conf"], "spark-defaults.conf"), "w") as fh:
        fh.write(f"spark.local.dir {dirs['local']}\n"
                 f"spark.sql.warehouse.dir {dirs['warehouse']}\n"
                 f"spark.driver.extraJavaOptions -Djava.io.tmpdir={dirs['tmp']}"
                 f" -Dderby.system.home={dirs['tmp']}"
                 " -XX:-UseDynamicNumberOfCompilerThreads\n")
        if event_log:
            fh.write("spark.eventLog.enabled true\n"
                     f"spark.eventLog.dir file://{dirs['eventlog']}\n"
                     "spark.eventLog.compress false\n"
                     "spark.eventLog.rolling.enabled false\n")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree() -> list[int]:
    """This process and all its descendants."""
    kids = _children()
    pids, stack = [], [os.getpid()]
    while stack:
        p = stack.pop()
        pids.append(p)
        stack.extend(kids.get(p, ()))
    return pids


def _cpu_ticks(stat: str, fields: slice) -> int:
    return sum(int(x) for x in stat[stat.rfind(")") + 2:].split()[fields])


def tree_cpu_s() -> tuple[float, float]:
    """CPU seconds (user + system) that this process and its descendants
    (the Python driver, the JVM and the Python workers) have used, with
    reaped children's, read from /proc; and, of those, the seconds of the
    JVM's JIT compiler threads. Time the hypervisor steals from the
    guest's CPUs is in neither."""
    total = jit = 0
    for p in _tree():
        try:
            with open(f"/proc/{p}/stat") as fh:
                total += _cpu_ticks(fh.read(), slice(11, 15))
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tids:
            try:
                with open(f"/proc/{p}/task/{t}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            if stat[stat.index("(") + 1:].startswith(JIT_THREADS):
                jit += _cpu_ticks(stat, slice(11, 13))
    tick = os.sysconf("SC_CLK_TCK")
    return total / tick, jit / tick


def tree_rss_bytes() -> int:
    """Resident set size of this process and all its descendants (the
    Python driver, the JVM and the Python workers), read from /proc."""
    total, page = 0, os.sysconf("SC_PAGE_SIZE")
    for p in _tree():
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the process tree's RSS in a background thread; ``peak`` is
    the highest sample. Use as a context manager so the thread is joined."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes())
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes())
