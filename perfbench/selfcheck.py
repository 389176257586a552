"""Tiny-input self-check of the benchmark itself.

    python3 perfbench/selfcheck.py

Runs every workload in BENCHMARK.json once untraced and once traced on
tiny inputs, and fails unless both runs pass their output checks, produce
identical outputs, and emit exactly the metric names and units that
BENCHMARK.json declares (end-to-end untraced, per-layer traced).  Then
runs ``quality_filter`` once untraced and fails if its output check
fails: it does, on every seed, until ``quality_filter_job`` stops leaking
a glued AWS key (see README.md).
Takes about seven minutes on four cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 7


def run(workload: str, trace: int) -> tuple[int, dict | None]:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(SEED), "--seconds", "1",
           "--trace", str(trace), "--size", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    for line in proc.stderr.splitlines():
        if "CHECK FAILED" in line:
            print(f"{workload} trace={trace}: {line}", flush=True)
    lines = proc.stdout.strip().splitlines()
    try:
        return proc.returncode, json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(proc.stderr[-4000:])
        return proc.returncode, None


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.run import layer_names, unit

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    if want[1] != {n: unit(n) for n in layer_names()}:
        problems.append("BENCHMARK.json per_layer differs from run.layer_names()")
    for w in (x["name"] for x in spec["workloads"]):
        outputs = {}
        for trace in (0, 1):
            path = os.path.join(ROOT, ".perfbench", "out",
                                f"{w}-tiny-s{SEED}-t{trace}", "outputs.json")
            if os.path.exists(path):
                os.remove(path)
            before = len(problems)
            rc, res = run(w, trace)
            tag = f"{w} trace={trace}"
            if res is None:
                problems.append(f"{tag}: no result line (exit {rc})")
                continue
            if rc != 0 or not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: exit {rc}, result {res['correct']}/"
                                f"{res['attempted']}/{res['failed']}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                missing = sorted(set(want[trace]) - set(got))
                extra = sorted(set(got) - set(want[trace]))
                wrong = sorted(k for k in got if k in want[trace] and got[k] != want[trace][k])
                problems.append(f"{tag}: missing {missing} extra {extra} wrong unit {wrong}")
            if os.path.exists(path):
                with open(path) as f:
                    outputs[trace] = json.load(f)
            print(f"{tag}: {'ok' if len(problems) == before else 'FAILED'}", flush=True)
        if len(outputs) == 2 and outputs[0] != outputs[1]:
            problems.append(f"{w}: traced and untraced outputs differ")
    rc, res = run("quality_filter", 0)
    if res is None or rc != 0 or not res["correct"]:
        problems.append(f"quality_filter: exit {rc}, correct "
                        f"{res['correct'] if res else None} (known defect: see README.md)")
    print(f"quality_filter trace=0: {'ok' if res and res['correct'] else 'FAILED'}",
          flush=True)
    for p in problems:
        print("FAIL", p)
    print("selfcheck", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
