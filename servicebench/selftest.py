"""Self-test of the service benchmark on a 1,000-row input (sf0.001).

    python3 servicebench/selftest.py [workload ...]

For each workload (default: all three) it checks that

- an untraced run prints every end-to-end metric of ``BENCHMARK.json``
  with its unit, and a traced run every per-layer metric, with no failed op;
- a negative control, whose first op has a data file of its output
  deleted before the check, is counted as a failed op and as incorrect;

and that in a directory holding only ``BENCHMARK.json`` and the benchmark's
files the command exits non-zero without printing a result.

Exit status 0 means every check passed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = "0.001"


def run(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join("servicebench", "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    return proc.returncode, result, proc.stderr[-3000:]


def check_result(result: dict | None, metrics: list[dict]) -> list[str]:
    if result is None:
        return ["no JSON result line"]
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(result)}")
    want = {m["name"]: m["unit"] for m in metrics}
    got = result.get("metrics", {})
    if set(got) != set(want):
        errors.append(f"metric names differ: {sorted(set(got) ^ set(want))}")
    for name, unit in want.items():
        m = got.get(name)
        if m is None:
            continue
        if m.get("unit") != unit:
            errors.append(f"{name}: unit {m.get('unit')!r}, expected {unit!r}")
        if not isinstance(m.get("value"), (int, float)):
            errors.append(f"{name}: value {m.get('value')!r} is not a number")
    if not isinstance(result.get("attempted"), int) or result["attempted"] < 1:
        errors.append(f"attempted {result.get('attempted')!r}")
    return errors


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = argv or ["score-slices", "stream-catchup", "train-audit"]
    failures = []

    def report(name: str, errors: list[str], stderr: str = "") -> None:
        print(f"{'FAIL' if errors else 'ok  '} {name}", flush=True)
        for e in errors:
            print(f"     {e}")
        if errors and stderr:
            print(stderr)
        failures.extend(f"{name}: {e}" for e in errors)

    for wl in workloads:
        base = ["--workload", wl, "--seed", "7", "--seconds", "1", "--sf", SF]
        for trace, metrics in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            code, result, err = run(base + ["--trace", str(trace)])
            errors = check_result(result, metrics)
            if code != 0:
                errors.append(f"exit code {code}")
            if result and (result["failed"] or not result["correct"]):
                errors.append(f"{result['failed']} failed ops")
            report(f"{wl} --trace {trace}", errors, err)

        # negative control: damage op 0, the first op after set-up
        code, result, err = run(base + ["--trace", "0", "--corrupt-op", "0"])
        errors = check_result(result, bench["end_to_end"])
        if result and (result["failed"] < 1 or result["correct"]):
            errors.append(
                f"corrupted output not caught: failed={result['failed']}"
                f" correct={result['correct']}"
            )
        report(f"{wl} negative control", errors, err)

    bare = os.path.join(ROOT, ".servicebench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in bench["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path),
            os.path.join(bare, path),
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    code, result, err = run(
        ["--workload", workloads[0], "--seed", "7", "--seconds", "1", "--trace", "0"],
        cwd=bare,
    )
    errors = []
    if code == 0:
        errors.append("exit code 0 without the package")
    if result is not None:
        errors.append("printed a result without the package")
    report("bare directory exits non-zero", errors, err)
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} failed checks")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
