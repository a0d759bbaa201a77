"""The one way the driver overlaps independent legs of a suite."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Callable, TypeVar

T = TypeVar("T")

# Legs are tiny-job, commit-protocol or availableNow-await bound, not CPU
# bound: six in flight keeps 4 cores busy through each leg's single-task
# tails (r14 measured 4 workers leaving legs idle behind the pool).
WIDTH = 6


def run_legs(legs: dict[str, Callable[[], T]]) -> dict[str, T]:
    """Run every leg on a driver thread, at most ``WIDTH`` at once,
    submitted in dict order (put the longest first); return the results
    keyed by leg name. Once a leg fails, legs not yet started never run,
    and the first failure, noted with its leg's name and any later
    failures, is raised only after every started leg has returned."""
    failures: list = []         # (name, exception) in the order they fail

    def guarded(name: str, fn: Callable[[], T]) -> Callable[[], T | None]:
        def run() -> T | None:
            if failures:        # queued behind a failure: skip
                return None
            try:
                return fn()
            except BaseException as err:
                failures.append((name, err))
                raise
        return run

    with ThreadPoolExecutor(max_workers=min(len(legs), WIDTH)) as pool:
        futs = {name: pool.submit(guarded(name, fn))
                for name, fn in legs.items()}
    if failures:                # leaving the pool joined every started leg
        name, err = failures[0]
        err.add_note(f"in leg {name!r}")
        for other, later in failures[1:]:
            err.add_note(f"leg {other!r} also failed: {later!r}")
        raise err
    return {name: f.result() for name, f in futs.items()}
