"""Quick check of the benchmark on its own code path, at sf0.001.

Runs every workload once untraced and once traced through run.py and
asserts that the run is correct and that every metric BENCHMARK.json names
is emitted with its unit. Run from the repository root:

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402


def check(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", "0", "--seconds", "0",
        "--trace", str(trace), "--data", "sf0.001",
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        return [f"{workload} trace={trace}: exit {p.returncode}: {p.stderr[-2000:]}"]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    problems = []
    if not out["correct"] or out["failed"] or out["attempted"] < 1:
        problems.append(f"{workload} trace={trace}: not correct: {p.stderr[-2000:]}")
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    for m in wanted:
        got = out["metrics"].get(m["name"])
        if got is None:
            problems.append(f"{workload} trace={trace}: missing {m['name']}")
        elif got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
            problems.append(f"{workload} trace={trace}: {m['name']} emitted as {got}")
    extra = set(out["metrics"]) - {m["name"] for m in wanted}
    if extra:
        problems.append(f"{workload} trace={trace}: unlisted metrics {sorted(extra)}")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for workload in sorted(WORKLOADS):
        for trace in (0, 1):
            found = check(workload, trace, spec)
            print(f"{workload} trace={trace}: {'ok' if not found else 'FAIL'}", flush=True)
            problems += found
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
