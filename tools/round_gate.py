"""One-command close-out gate: every check a change must pass before it
ships, run in order.

    python tools/round_gate.py
        1. oracle-sf0.001      full registry sweep at sf0.001 (352/352).
        2. window-sf0.01       the 50-slot graded window at the gate scale.
        3. window-sf0.1        the window at the bench scale (ties, overflow,
                               quantile boundaries only show with more rows).
        4. oracle-sf0.1-full   the full registry at sf0.1.
        5. pytest              tests/ with the tier-1 flags.
        6. pytest-perfbench    perfbench/tests: the benchmark imports
                               tools/check_oracle.py, so a tools edit can
                               break it without any tests/ failure.
        7. plan-audit          regenerates PLAN_AUDIT.md; exits 1 on any
                               un-whitelisted red flag.
        8. degenerate          no query raises on degenerate corpora.
        9. degenerate-plans    fact-rescan audit on the empty-facts corpus.
        10. entry-smoke        the driver contract's `entry()` returns rows.

    python tools/round_gate.py --only NAME[,NAME...]
        Re-run a subset after a fix (names as in the list above).

The sf0.1 sweeps pass `--scaled-variants`: they may verify dense-spine
oracles on their coarser registered twin (queries/sweep_variants.py);
check_oracle rejects the flag at any other scale.

Steps run sequentially as subprocesses (each owns its Spark session);
the gate stops at the first failure and exits with that step's code.
A full run took 81 minutes on a 4-CPU VM. The timed bench is
deliberately not here: it must run alone on a calm box, not behind an
hour of gate jobs.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PY = sys.executable

_WINDOW_NAMES_SNIPPET = (
    "import sys; sys.path.insert(0, '.');"
    "from hadoop_data_lake_spark.queries.registry import REGISTRY, DRIVER_WINDOW_SIZE;"
    "print(' '.join(list(REGISTRY)[:DRIVER_WINDOW_SIZE]))"
)

_SMOKE_SNIPPET = """
import sys; sys.path.insert(0, '.')
import importlib.util
from hadoop_data_lake_spark.core.session import get_spark
spec = importlib.util.spec_from_file_location('e', '__spark_entry__.py')
m = importlib.util.module_from_spec(spec); spec.loader.exec_module(m)
rows = m.entry(get_spark('round_gate_smoke')).collect()
assert len(rows) > 0 and rows[0].__fields__, rows
print(f'entry() smoke: {len(rows)} rows')
"""


def _window_names() -> list[str]:
    out = subprocess.run(
        [PY, "-c", _WINDOW_NAMES_SNIPPET], cwd=REPO, capture_output=True, text=True
    )
    if out.returncode != 0:
        print(out.stderr, file=sys.stderr)
        raise SystemExit("cannot resolve the driver window from registry.py")
    return out.stdout.split()


def steps() -> list[tuple[str, list[str]]]:
    window = _window_names()
    oracle = [PY, "-u", "tools/check_oracle.py"]
    return [
        ("oracle-sf0.001", [*oracle, "/root/testdata/sf0.001"]),
        ("window-sf0.01", [*oracle, "/root/testdata/sf0.01", *window]),
        ("window-sf0.1", [*oracle, "/root/testdata/sf0.1", "--scaled-variants", *window]),
        ("oracle-sf0.1-full", [*oracle, "/root/testdata/sf0.1", "--scaled-variants"]),
        ("pytest", [PY, "-m", "pytest", "tests/", "-q", "-p", "no:cacheprovider"]),
        ("pytest-perfbench", [PY, "-m", "pytest", "perfbench/tests", "-q", "-p", "no:cacheprovider"]),
        ("plan-audit", [PY, "tools/plan_audit.py"]),
        ("degenerate", [PY, "tools/degenerate_sweep.py"]),
        ("degenerate-plans", [PY, "tools/degenerate_sweep.py", "--plans"]),
        ("entry-smoke", [PY, "-c", _SMOKE_SNIPPET]),
    ]


def run(todo_steps: list[tuple[str, list[str]]], only: set[str] | None) -> int:
    todo = [(n, c) for n, c in todo_steps if only is None or n in only]
    if only is not None and len(todo) != len(only):
        known = {n for n, _ in todo_steps}
        raise SystemExit(f"unknown step(s): {sorted(only - known)}; known: {sorted(known)}")
    results: list[tuple[str, float, int]] = []
    for name, cmd in todo:
        print(f"==> {name}: {' '.join(cmd[:4])}{' ...' if len(cmd) > 4 else ''}", flush=True)
        t0 = time.time()
        # Spark WARN spam can bury verdict lines: keep stdout streaming,
        # discard stderr for the oracle sweeps only.
        quiet = name.startswith(("oracle-", "window-"))
        proc = subprocess.run(
            cmd, cwd=REPO, stderr=subprocess.DEVNULL if quiet else None
        )
        dt = time.time() - t0
        results.append((name, dt, proc.returncode))
        print(f"<== {name}: exit {proc.returncode} in {dt:.0f}s", flush=True)
        if proc.returncode != 0:
            _summary(results)
            return proc.returncode
    _summary(results)
    return 0


def _summary(results: list[tuple[str, float, int]]) -> None:
    print("\n# round_gate summary")
    for name, dt, rc in results:
        print(f"  {'PASS' if rc == 0 else 'FAIL'}  {name:<18} {dt:7.0f}s")


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--only", help="comma-separated step names to re-run")
    args = p.parse_args()
    only = set(args.only.split(",")) if args.only else None
    return run(steps(), only)


if __name__ == "__main__":
    raise SystemExit(main())
