"""Self-test of the benchmark: every workload at a tiny size, untraced
and traced, must emit exactly the metrics BENCHMARK.json names, each
with its unit, and pass its checks; a run with corrupted expected
counts must report failures.

    python3 perfbench/selftest.py

Takes about seven minutes (seven Spark runs).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = ["--seed", "7", "--seconds", "2", "--scale", "0.05"]


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--trace", str(trace), *TINY, *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if out.returncode != 0:
        raise AssertionError(f"{cmd} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, wanted: list[dict], label: str) -> None:
    got = result["metrics"]
    names = [m["name"] for m in wanted]
    if sorted(got) != sorted(names):
        raise AssertionError(
            f"{label}: metrics differ from BENCHMARK.json: "
            f"missing {sorted(set(names) - set(got))}, extra {sorted(set(got) - set(names))}"
        )
    for m in wanted:
        if got[m["name"]]["unit"] != m["unit"]:
            raise AssertionError(f"{label}: {m['name']} unit {got[m['name']]['unit']} != {m['unit']}")
        if not isinstance(got[m["name"]]["value"], (int, float)):
            raise AssertionError(f"{label}: {m['name']} is not a number")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    for name in WORKLOADS:  # BENCHMARK.json's workloads and corpus_curation
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            label = f"{name} trace={trace}"
            result = run(name, trace)
            check_metrics(result, wanted, label)
            if not result["correct"] or result["failed"]:
                raise AssertionError(f"{label}: checks failed: {result}")
            print(f"ok   {label}: {len(result['metrics'])} metrics, "
                  f"{result['attempted']} attempted, 0 failed", flush=True)
    first = next(iter(WORKLOADS))
    result = run(first, 0, "--corrupt")
    if result["correct"] or result["failed"] == 0:
        raise AssertionError(f"corrupted expectations went unnoticed: {result}")
    print(f"ok   {first} --corrupt: failed_frac "
          f"{result['failed'] / result['attempted']:.3f} > 0")
    return 0


if __name__ == "__main__":
    sys.exit(main())
