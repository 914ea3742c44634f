#!/usr/bin/env python3
"""Self-test of the benchmark: every workload for one short round at
sf0.001, untraced and traced, then once with a deliberately wrong
reference answer.

    python3 perfbench/selftest.py

Checks that each run exits 0 and prints, as its last line, the result
object with every metric ``BENCHMARK.json`` names (end-to-end metrics
untraced, per-layer ones traced) with its unit; and that the wrong
reference adds failed operations over the same run without it.  Failures
of the program itself are printed with each run's error rate; they are
the benchmark's finding, not the self-test's.  Exits 1 on a violation.
Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

PERFBENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(PERFBENCH)
SF = "0.001"


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(PERFBENCH, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", SF, *extra]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"FAIL {cmd}: exit {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for wl in (w["name"] for w in spec["workloads"]):
        failed = {}
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            line = run(wl, trace)
            where = f"{wl} trace={trace}"
            if set(line) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{where}: keys {sorted(line)}")
            if line["attempted"] < 1 or line["correct"] != (line["failed"] == 0):
                problems.append(f"{where}: attempted={line['attempted']} "
                                f"failed={line['failed']} correct={line['correct']}")
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v.get("unit") for k, v in line["metrics"].items()}
            if got != want:
                problems.append(f"{where}: metrics/units {got} != {want}")
            if not all(isinstance(v.get("value"), (int, float)) for v in line["metrics"].values()):
                problems.append(f"{where}: non-numeric metric value")
            failed[trace] = line["failed"]
            print(f"ran {where}: error_rate {line['failed']}/{line['attempted']}",
                  file=sys.stderr)
        line = run(wl, 0, "--corrupt")
        if line["correct"] or line["failed"] <= failed[0]:
            problems.append(f"{wl} --corrupt: wrong reference not caught "
                            f"({line['failed']} failed, {failed[0]} without it)")
        print(f"ran {wl} --corrupt: error_rate {line['failed']}/{line['attempted']}",
              file=sys.stderr)
    for p in problems:
        print(f"FAIL {p}", file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
