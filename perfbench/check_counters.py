"""Check that the benchmark's exact counters repeat across two traced runs.

Usage (from the repository root)::

    python3 perfbench/check_counters.py [workload ...]

For each workload (default: all), runs ``run.py --trace 1`` twice with the
same seed and compares the deterministic per-layer counters.  Job counts
depend on what is cached when an op runs, so only runs with equal seeds
are compared.  Exits non-zero when a counter differs or a run fails.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXACT = (
    "build.py4j_calls",
    "build.jobs",
    "exec.jobs",
    "exec.stages",
    "exec.exchanges",
    "pyworker.nodes",
)
SEED = 7
SECONDS = "4"


def traced_run(workload: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", SECONDS, "--trace", "1"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=300, check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise SystemExit(f"{workload}: traced run was not correct: {result}")
    return {k: result["metrics"][k]["value"] for k in EXACT}


def main(argv: list[str]) -> int:
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    bad = 0
    for workload in argv or list(WORKLOADS):
        first, second = traced_run(workload), traced_run(workload)
        for k in EXACT:
            same = first[k] == second[k]
            bad += not same
            print(f"{'OK  ' if same else 'DIFF'} {workload:<10} {k:<20} {first[k]} {second[k]}",
                  flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
