"""The one leg runner, ``legs.run_legs``: results by leg name, bounded
width, the first failure raised with its leg's name only after every
started leg has returned, queued legs cancelled; and no other module of
the package builds a thread pool."""

from __future__ import annotations

import ast
import pathlib
import sys
import threading
import time

import pytest

import service_level_reporting_spark
from service_level_reporting_spark.legs import WIDTH, run_legs


def test_results_come_back_keyed_by_leg_name():
    out = run_legs({f"leg{i}": (lambda i=i: i * i) for i in range(9)})
    assert out == {f"leg{i}": i * i for i in range(9)}
    assert list(out) == [f"leg{i}" for i in range(9)]


@pytest.mark.parametrize("n", [3, 10])
def test_at_most_min_len_width_legs_run_at_once(n):
    lock, running, peak = threading.Lock(), [0], [0]

    def leg():
        with lock:
            running[0] += 1
            peak[0] = max(peak[0], running[0])
        time.sleep(0.2)
        with lock:
            running[0] -= 1

    run_legs({f"leg{i}": leg for i in range(n)})
    assert peak[0] == min(n, WIDTH)


def test_failure_surfaces_after_started_legs_and_cancels_queued_ones():
    """The first wave (one slow leg, one failing leg, fillers) starts
    together; the failing leg raises first, the slow one still finishes
    before ``run_legs`` raises, and the queued legs never run."""
    first_wave = threading.Barrier(WIDTH)
    slow_done, started = threading.Event(), set()

    class Boom(Exception):
        pass

    def leg(name, seconds, fail=False):
        def run():
            started.add(name)
            first_wave.wait(timeout=10)
            if fail:
                raise Boom(name)
            time.sleep(seconds)
            if name == "slow":
                slow_done.set()
        return run

    legs = {"slow": leg("slow", 0.3), "failing": leg("failing", 0, True)}
    legs.update({f"busy{i}": leg(f"busy{i}", 0.5) for i in range(WIDTH - 2)})
    legs.update({f"queued{i}": leg(f"queued{i}", 0) for i in range(3)})
    with pytest.raises(Boom) as info:
        run_legs(legs)
    assert slow_done.is_set()
    assert info.value.__notes__ == ["in leg 'failing'"]
    assert started == {"slow", "failing"} | {
        f"busy{i}" for i in range(WIDTH - 2)}


def test_every_failure_is_recorded_under_contention():
    """More legs than cores, all failing at once, with a short switch
    interval: the raised error names its leg, and every leg that ran
    appears in the notes exactly once (a lost append would drop one)."""
    ran, lock = [], threading.Lock()

    def failing(name):
        def leg():
            with lock:
                ran.append(name)
            raise ValueError(name)
        return leg

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with pytest.raises(ValueError) as info:
            run_legs({f"leg{i}": failing(f"leg{i}") for i in range(40)})
    finally:
        sys.setswitchinterval(interval)
    notes = info.value.__notes__
    assert notes[0] == f"in leg {info.value.args[0]!r}"
    named = [info.value.args[0]] + [n.split("'")[1] for n in notes[1:]]
    assert sorted(named) == sorted(ran)
    assert len(ran) < 40


def test_only_the_runner_imports_a_thread_pool():
    pkg = pathlib.Path(service_level_reporting_spark.__file__).parent
    importers = set()
    for path in pkg.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.ImportFrom):
                names = {a.name for a in node.names}
            elif isinstance(node, ast.Import):
                names = {a.name.rsplit(".", 1)[-1] for a in node.names}
            else:
                continue
            if names & {"ThreadPoolExecutor", "futures"}:
                importers.add(path.relative_to(pkg).as_posix())
    assert importers == {"legs.py"}
