#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on a tiny input.

    python3 logbench/smoke.py

For every workload: an untraced run must be correct and print every
end-to-end metric of BENCHMARK.json with its unit; a traced run with a
planted one-row loss in a sink must print every per-layer metric with
its unit, count every operation as failed and report `failed_frac` = 1.
Exits 0 when every check holds. Takes a few minutes (six runs).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROWS = 2000


def run(workload: str, trace: int, plant_loss: bool) -> dict:
    cmd = [sys.executable, "logbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--rows", str(ROWS)]
    if plant_loss:
        cmd.append("--plant-loss")
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, specs: list[dict]) -> list[str]:
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(result)}")
    got = result["metrics"]
    want = {s["name"]: s["unit"] for s in specs}
    if set(got) != set(want):
        errors.append(f"metric names differ: {sorted(set(got) ^ set(want))}")
    for name, unit in want.items():
        m = got.get(name)
        if m is None:
            continue
        if m.get("unit") != unit:
            errors.append(f"{name}: unit {m.get('unit')!r}, want {unit!r}")
        if not isinstance(m.get("value"), (int, float)):
            errors.append(f"{name}: value {m.get('value')!r}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    errors = []
    sys.path[:0] = [os.path.join(ROOT, "logbench"), ROOT]
    from workloads import WORKLOADS

    # every workload, also one BENCHMARK.json leaves out
    for wl in sorted(WORKLOADS):
        clean = run(wl, 0, plant_loss=False)
        errors += [f"{wl} trace 0: {e}" for e in check_metrics(clean, bench["end_to_end"])]
        if not clean["correct"] or clean["failed"] or clean["metrics"]["ok_frac"]["value"] != 1:
            errors.append(f"{wl} trace 0: not correct: {clean}")
        lossy = run(wl, 1, plant_loss=True)
        errors += [f"{wl} trace 1: {e}" for e in check_metrics(lossy, bench["per_layer"])]
        if lossy["correct"] or lossy["failed"] != lossy["attempted"]:
            errors.append(f"{wl} planted loss not caught: {lossy['attempted']} "
                          f"attempted, {lossy['failed']} failed")
        if lossy["metrics"].get("failed_frac", {}).get("value") != 1:
            errors.append(f"{wl}: failed_frac {lossy['metrics'].get('failed_frac')}, want 1")
        print(f"{wl}: {'ok' if not errors else 'FAILED'}", flush=True)
    for e in errors:
        print(e)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
