"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py

For each workload it makes one traced run and one untraced run with a
wrong result injected, each in its own process like the real runs. It
asserts that every metric ``BENCHMARK.json`` names appears with its
unit, that a clean run reports no failure, and that the injected wrong
result is counted as a failed operation (so ``error_rate`` rises).
Exits 0 when every assertion holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, trace: int, inject: bool) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny",
    ]
    if inject:
        cmd.append("--inject-wrong")
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise AssertionError(f"{' '.join(cmd)} exited {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _expect_metrics(result: dict, specs: list[dict], what: str) -> None:
    got = result["metrics"]
    assert set(got) == {m["name"] for m in specs}, (
        f"{what}: metric names differ: missing {sorted({m['name'] for m in specs} - set(got))},"
        f" extra {sorted(set(got) - {m['name'] for m in specs})}"
    )
    for m in specs:
        assert got[m["name"]]["unit"] == m["unit"], f"{what}: {m['name']} unit {got[m['name']]['unit']}"
        assert isinstance(got[m["name"]]["value"], float), f"{what}: {m['name']} value"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in (wl["name"] for wl in bench["workloads"]):
        traced = _run(w, 1, False)
        _expect_metrics(traced, bench["per_layer"], f"{w} traced")
        assert traced["correct"] and traced["failed"] == 0, f"{w}: clean run failed {traced}"
        assert traced["attempted"] >= 1
        assert traced["metrics"]["error_rate"]["value"] == 0.0
        wrong = _run(w, 0, True)
        _expect_metrics(wrong, bench["end_to_end"], f"{w} untraced")
        assert not wrong["correct"] and wrong["failed"] >= 1, f"{w}: injected wrong result not caught {wrong}"
        print(f"ok {w}: {traced['attempted']} checked clean, "
              f"{wrong['failed']}/{wrong['attempted']} failed with a wrong result injected")
    return 0


if __name__ == "__main__":
    sys.exit(main())
