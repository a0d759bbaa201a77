"""A/B row-identity check: run one query in THIS tree and in a second tree
(e.g. a git worktree of HEAD), compare canonicalized rows exactly.

Usage: python tools/ab_rows.py <other_tree> <sf_dir> <name> [name ...]
Each tree runs in its own subprocess (clean module path), rows are dumped
to JSON with repr-normalized cells and diffed here.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

RUNNER = r"""
import json, os, sys
sys.path.insert(0, sys.argv[1])
from service_level_reporting_spark import registry
from service_level_reporting_spark.session import get_spark
cpus = int(os.environ.get('SPARK_GRAFT_CPUS')
           or len(os.sched_getaffinity(0)))
spark = get_spark(app_name='ab-rows', master=f'local[{cpus}]',
                  shuffle_partitions=cpus)
spark.sparkContext.setLogLevel('ERROR')
qs = registry.aux_queries()
out = {}
for name in sys.argv[3:]:
    df = qs[name](spark, sys.argv[2])
    cols = sorted(df.columns)
    rows = sorted([tuple(repr(r[c]) for c in cols) for r in df.collect()])
    out[name] = {"cols": cols, "rows": rows}
print("AB_JSON:" + json.dumps(out))
spark.stop()
"""


def run_tree(tree: str, sf_dir: str, names: list[str]) -> dict:
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as fh:
        fh.write(RUNNER)
        path = fh.name
    try:
        env = dict(os.environ)
        env.pop("PYTHONPATH", None)
        p = subprocess.run(
            [sys.executable, path, tree, sf_dir, *names],
            capture_output=True, text=True, timeout=1800, env=env, cwd=tree)
        for line in p.stdout.splitlines():
            if line.startswith("AB_JSON:"):
                return json.loads(line[len("AB_JSON:"):])
        raise RuntimeError(
            f"no AB_JSON line from {tree}; rc={p.returncode}\n"
            + p.stdout[-2000:] + "\n" + p.stderr[-2000:])
    finally:
        os.unlink(path)


def main() -> None:
    other, sf_dir = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    a = run_tree(here, sf_dir, names)
    b = run_tree(other, sf_dir, names)
    ok = True
    for name in names:
        same = a[name] == b[name]
        ok = ok and same
        print(name, "IDENTICAL" if same else "DIFFERS")
        if not same:
            ra, rb = a[name]["rows"], b[name]["rows"]
            if a[name]["cols"] != b[name]["cols"]:
                print("  cols:", a[name]["cols"], "vs", b[name]["cols"])
            print(f"  rows: {len(ra)} vs {len(rb)}")
            for x, y in zip(ra, rb):
                if x != y:
                    print("  first diff:\n   A:", x, "\n   B:", y)
                    break
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
