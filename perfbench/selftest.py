"""Self-test of the benchmark at tiny scale (a few minutes on 4 cores).

    python3 perfbench/selftest.py

Checks that:
- every workload, traced and untraced, prints a last line with exactly
  the keys correct/attempted/failed/metrics, and its metrics are exactly
  the end_to_end (untraced) or per_layer (traced) names of BENCHMARK.json,
  with their units;
- a deliberately corrupted result (``--corrupt`` drops one row from one
  checked result) makes the run incorrect and shows in ``failed`` and in
  ``ops_failed_frac``, on a query workload and on incremental-load;
- in a directory holding only BENCHMARK.json and perfbench/, the command
  exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cwd: str, spec: dict, workload: str, trace: int, *extra: str):
    cmd = spec["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--scale", "tiny", *extra,
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=180)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    corrupt_cases = {("headline-sf0.01", 1), ("incremental-load", 1)}
    for w in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            corrupt = (w, trace) in corrupt_cases
            proc = _run(ROOT, spec, w, trace, *(["--corrupt"] if corrupt else []))
            tag = f"{w} trace={trace}{' corrupt' if corrupt else ''}"
            if proc.returncode != 0:
                problems.append(f"{tag}: exit {proc.returncode}: {proc.stderr[-500:]}")
                continue
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if got != want[trace]:
                problems.append(f"{tag}: metrics/units differ: {sorted(set(got) ^ set(want[trace]))}")
            if corrupt:
                frac = res["metrics"]["ops_failed_frac"]["value"]
                if res["correct"] or res["failed"] == 0 or frac <= 0:
                    problems.append(f"{tag}: corruption not detected: {res['failed']} failed, {frac}")
            elif not res["correct"] or res["failed"]:
                problems.append(f"{tag}: incorrect: {proc.stdout.splitlines()[-2][:500]}")
            print(f"{tag}: correct={res['correct']} failed={res['failed']}/{res['attempted']}",
                  flush=True)

    bare = os.path.join(ROOT, ".perfbench_cache", f"bare-{os.getpid()}")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(bare, spec, spec["workloads"][0]["name"], 0)
    shutil.rmtree(bare, ignore_errors=True)
    printed = proc.stdout.strip().splitlines()
    if proc.returncode == 0 or (printed and printed[-1].startswith("{")):
        problems.append(f"bare directory: exit {proc.returncode}, stdout {printed[-1:]}")
    print(f"bare directory: exit {proc.returncode}")

    for p in problems:
        print("FAIL", p)
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
