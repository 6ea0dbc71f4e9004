"""Tiny-scale smoke of the benchmark.

    python3 perfbench/smoke.py

Runs each workload of ``perfbench/run.py`` at ``--scale tiny`` (sf0.001
tables, a 500-doc feed, a 200-doc corpus; one round, a one-second
floor) in a subprocess from the checkout root.  Asserts that the last
line is the result object, that every metric BENCHMARK.json declares
for the mode is there with its unit and a finite non-zero value, and
that every output check passed.  Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve_reads", "ingest_refresh", "curate_corpus")


def run(workload: str, trace: int, seed: int = 7) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", "1",
           "--trace", str(trace), "--scale", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    assert p.returncode == 0 and lines, (
        f"{workload} trace={trace} exited {p.returncode}:\n"
        f"{p.stderr[-3000:]}")
    return json.loads(lines[-1])


def check(workload: str, trace: int, declared: dict[str, str]) -> None:
    res = run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0, \
        f"{workload}: output checks failed: {res}"
    for name, unit in declared.items():
        m = res["metrics"].get(name)
        assert m is not None, f"{workload}: {name} not emitted"
        assert m["unit"] == unit, f"{workload}: {name} unit {m['unit']}"
        v = m["value"]
        assert isinstance(v, (int, float)) and math.isfinite(v) \
            and v != 0, f"{workload}: {name} = {v!r}"
    print(f"ok  {workload:<15} trace={trace}  {len(declared)} metrics, "
          f"{res['attempted']} checks", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    modes = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
             1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for w in WORKLOADS:
        for trace, declared in modes.items():
            check(w, trace, declared)
    return 0


if __name__ == "__main__":
    sys.exit(main())
