#!/usr/bin/env python3
"""Self-tests of the benchmark itself, at toy sizes.

    python3 perfbench/selftest.py            # every workload, both modes
    python3 perfbench/selftest.py crawl_sched

Checks that every metric BENCHMARK.json names is printed with its unit, that
a corrupted expected checksum is reported as a failure (exit 1,
``correct: false``), and that a directory holding only the benchmark files
exits non-zero without printing a result. Takes a few minutes per workload.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(*args: str, cwd: str = ROOT, script: str | None = None):
    cmd = [sys.executable, script or os.path.join(HERE, "run.py"), "--seed", "11",
           "--seconds", "1", *args]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith('{"correct"') else None
    return proc.returncode, result, proc.stderr[-2000:]


def check_metrics(result: dict, spec: list[dict], label: str) -> list[str]:
    errors = []
    for m in spec:
        got = result["metrics"].get(m["name"])
        if got is None:
            errors.append(f"{label}: {m['name']} not printed")
        elif got.get("unit") != m["unit"]:
            errors.append(f"{label}: {m['name']} unit {got.get('unit')!r} != {m['unit']!r}")
        elif not isinstance(got.get("value"), (int, float)):
            errors.append(f"{label}: {m['name']} value {got.get('value')!r}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    errors: list[str] = []
    for name in names:
        for trace, metrics in (("0", spec["end_to_end"]), ("1", spec["per_layer"])):
            label = f"{name} --trace {trace}"
            code, result, err = bench("--workload", name, "--trace", trace, "--toy")
            if code != 0 or result is None or not result["correct"]:
                errors.append(f"{label}: exit {code}, result {result}\n{err}")
                continue
            errors += check_metrics(result, metrics, label)
            print(f"ok   {label}: {len(metrics)} metrics with units", flush=True)
        code, result, _ = bench("--workload", name, "--trace", "0", "--toy",
                                "--corrupt-expected")
        if code != 1 or result is None or result["correct"] or result["failed"] < 1:
            errors.append(f"{name}: corrupted checksum not reported (exit {code}, {result})")
        else:
            print(f"ok   {name}: corrupted expected checksum reported as a failure")

    # a directory with only the benchmark's own files must fail fast
    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns(".work", "__pycache__"))
    code, result, _ = bench("--workload", names[0], "--trace", "0", cwd=bare,
                            script=os.path.join(bare, "perfbench", "run.py"))
    shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or result is not None:
        errors.append(f"bare directory: exit {code}, result {result}")
    else:
        print(f"ok   bare directory exits {code} without a result")

    for e in errors:
        print("FAIL", e)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
