#!/usr/bin/env python3
"""Smoke-sized self-test of the benchmark.

Run from the root of a checkout:

    python3 perfbench/selftest.py

Runs every workload untraced and traced at the smoke scale (every operation
and output check, on tiny inputs) and checks the result object against
BENCHMARK.json: exactly the end-to-end metrics untraced and the per-layer
metrics traced, with their units, every op correct. Also checks that the
benchmark refuses to run, without printing a result, when the library
sources are absent. Exits 0 when every check holds.
"""

import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
ISOLATED = ROOT / ".bench_build" / "selftest-isolated"


def run(args, cwd=ROOT):
    cmd = SPEC["command"] + args
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def check_result(workload, trace, proc, errors):
    tag = f"{workload} --trace {trace}"
    if proc.returncode != 0:
        errors.append(f"{tag}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
        return
    try:
        result = json.loads(proc.stdout.strip().splitlines()[-1])
    except (IndexError, json.JSONDecodeError):
        errors.append(f"{tag}: last stdout line is not a JSON object")
        return
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{tag}: result keys {sorted(result)}")
        return
    if result["correct"] is not True or result["failed"] != 0 or result["attempted"] < 1:
        errors.append(f"{tag}: correct={result['correct']} attempted={result['attempted']} "
                      f"failed={result['failed']}\n{proc.stderr[-2000:]}")
    wanted = SPEC["per_layer" if trace == "1" else "end_to_end"]
    got = result["metrics"]
    if set(got) != {m["name"] for m in wanted}:
        missing = {m["name"] for m in wanted} - set(got)
        extra = set(got) - {m["name"] for m in wanted}
        errors.append(f"{tag}: missing metrics {sorted(missing)}, unexpected {sorted(extra)}")
    for m in wanted:
        v = got.get(m["name"])
        if v is None:
            continue
        if v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)):
            errors.append(f"{tag}: {m['name']} = {v}, expected a number in {m['unit']}")
        elif trace == "0" and v["value"] == 0:
            errors.append(f"{tag}: end-to-end metric {m['name']} is 0")
    print(f"ok   {tag}: attempted={result['attempted']} metrics={len(got)}", flush=True)


def main():
    errors = []
    for w in SPEC["workloads"]:
        for trace in ("0", "1"):
            proc = run(["--workload", w["name"], "--seed", "1", "--seconds", "1",
                        "--trace", trace, "--scale", "smoke"])
            check_result(w["name"], trace, proc, errors)

    # a directory holding only BENCHMARK.json and the benchmark's own files
    shutil.rmtree(ISOLATED, ignore_errors=True)
    ISOLATED.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", ISOLATED)
    for p in SPEC["paths"]:
        shutil.copytree(ROOT / p, ISOLATED / p, ignore=shutil.ignore_patterns("__pycache__"))
    proc = run(["--workload", SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
                "--trace", "0"], cwd=ISOLATED)
    shutil.rmtree(ISOLATED, ignore_errors=True)
    if proc.returncode == 0 or proc.stdout.strip():
        errors.append("without the library sources the benchmark must fail and print nothing")
    else:
        print("ok   refuses to run without the library sources", flush=True)

    for e in errors:
        print(f"FAIL {e}", file=sys.stderr)
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
