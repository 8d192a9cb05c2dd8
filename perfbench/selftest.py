"""Self-test of the output checker.

    python3 perfbench/selftest.py [--workload NAME ...]

First the comparison helpers are fed values with one number changed and
must reject them.  Then, for each workload (all by default), the
benchmark command runs with ``--corrupt-op 0``, which perturbs the
expected value of the first timed operation; the run must report that
operation as failed (``correct`` false, ``failed`` >= 1) and exit non-zero.
Exits 0 when every check holds.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402


def unit_checks() -> list[str]:
    errors = []
    rows = [(1, "a", 2.5), (2, "b", 3.25)]
    if not check.rows_equal(rows, list(reversed(rows))):
        errors.append("rows_equal rejects a reordered result")
    if check.rows_equal(rows, check.perturb(rows)):
        errors.append("rows_equal accepts a perturbed result")
    if not check.same(1.0, 1.0 + 1e-9):
        errors.append("same rejects a value within tolerance")
    truth = {1: 0.1, 2: 0.2, 3: 0.2, 4: 0.5}
    if not check.topk_equal([(1, 0.1), (3, 0.2)], truth, 2):
        errors.append("topk_equal rejects a tie at the cut")
    if check.topk_equal([(1, 0.1), (4, 0.5)], truth, 2):
        errors.append("topk_equal accepts a wrong neighbour")
    return errors


def corrupted_run(workload: str) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "1", "--seconds", "1", "--trace", "0",
           "--corrupt-op", "0"]
    p = subprocess.run(cmd, capture_output=True, text=True,
                       cwd=os.path.dirname(HERE), timeout=300)
    lines = p.stdout.strip().splitlines()
    if not lines:
        return [f"{workload}: no result line (exit {p.returncode}):\n"
                f"{p.stderr[-2000:]}"]
    res = json.loads(lines[-1])
    errors = []
    if p.returncode == 0:
        errors.append(f"{workload}: exit code 0 despite a corrupted value")
    if res["correct"] or res["failed"] < 1:
        errors.append(f"{workload}: corrupted value not counted: {res}")
    return errors


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append",
                    help="workload to run corrupted (default: all)")
    args = ap.parse_args()
    errors = unit_checks()
    for wl in args.workload or ["llm_batch", "mutate_serve"]:
        errors += corrupted_run(wl)
    for e in errors:
        print("selftest FAILED:", e)
    print("selftest", "FAILED" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
