"""Self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py [workload ...]

Run from the root of a checkout. For each workload (default: all) it
checks that

- an untraced run succeeds and prints every end-to-end metric with its unit;
- a traced run succeeds and prints every per-layer metric with its unit;
- a run whose destination is deliberately corrupted before the final check
  reports a failed operation and exits non-zero;

and, once, that ``BENCHMARK.json`` names exactly the metrics the runner
prints, and that the runner refuses to run outside a checkout of the engine.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def bench(workload: str, *extra: str, cwd: str | None = None) -> tuple[int, dict | None]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "2", "--scale", "tiny", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if result is not None and set(result) != {"correct", "attempted", "failed", "metrics"}:
        result = None
    if p.returncode and result is None:
        sys.stderr.write(p.stderr[-3000:])
    return p.returncode, result


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def check_metrics(result: dict | None, spec: dict, what: str) -> None:
    expect(result is not None, f"{what}: result line printed")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {k: unit for k, (unit, _) in spec.items()}
    expect(got == want, f"{what}: every metric printed once with its unit")
    expect(all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()),
           f"{what}: every value is a number")


def main() -> None:
    workloads = sys.argv[1:] or WORKLOADS
    if os.path.exists("BENCHMARK.json"):
        with open("BENCHMARK.json") as fh:
            spec = json.load(fh)
        named = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
        expect(named == END_TO_END, "BENCHMARK.json end_to_end matches the runner")
        named = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
        expect(named == PER_LAYER, "BENCHMARK.json per_layer matches the runner")
        expect([w["name"] for w in spec["workloads"]] == WORKLOADS,
               "BENCHMARK.json names the runner's workloads")

    bare = os.path.join(".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        code, result = bench(workloads[0], cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    expect(code != 0 and result is None, "outside a checkout: non-zero exit, no result")

    for w in workloads:
        code, result = bench(w, "--trace", "0")
        expect(code == 0 and result and result["correct"] and result["failed"] == 0,
               f"{w}: untraced run correct")
        check_metrics(result, END_TO_END, f"{w} untraced")

        code, result = bench(w, "--trace", "1")
        expect(code == 0 and result and result["correct"], f"{w}: traced run correct")
        check_metrics(result, PER_LAYER, f"{w} traced")

        code, result = bench(w, "--trace", "0", "--corrupt")
        expect(code != 0 and result is not None and result["failed"] > 0,
               f"{w}: corrupted destination raises failed_frac "
               f"({result and result['failed']}/{result and result['attempted']})")


if __name__ == "__main__":
    main()
