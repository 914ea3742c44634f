#!/usr/bin/env python3
"""Run every workload of ``BENCHMARK.json``, untraced then traced, each in
a fresh process, and print every metric with its unit.

    python3 perfbench/run_all.py [--seed N] [--seconds S]

After the table it checks the layer predictions the benchmark documents,
reading the traced records in ``perfbench/results/``:

- ``state.*`` is non-zero only on ``corpus_ingest``;
- ``python.run_ms`` is 0 for the relational query family (``q*``/``e*``)
  of ``interactive_sf001`` and non-zero for its LLM family;
- the tracing coverage of every query is at least 0.9.

Exits 1 if a run fails, a result is wrong or a prediction does not hold.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

PERFBENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(PERFBENCH)


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(PERFBENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)}: exit {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def record(workload: str, seed: int) -> dict:
    with open(os.path.join(PERFBENCH, "results", f"{workload}-seed{seed}-trace1.json")) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        workloads = [w["name"] for w in json.load(fh)["workloads"]]

    problems = []
    for wl in workloads:
        for trace in (0, 1):
            line = run(wl, args.seed, args.seconds, trace)
            rate = line["failed"] / line["attempted"]
            print(f"{wl}  trace={trace}  error_rate={rate:.4f} "
                  f"({line['failed']}/{line['attempted']})")
            for name, m in line["metrics"].items():
                print(f"  {name:26s} {m['value']:16.4f} {m['unit']}")
            if not line["correct"]:
                problems.append(f"{wl} trace={trace}: {line['failed']} failed operations")

    for wl in workloads:
        rec = record(wl, args.seed)
        state = {k: v for k, v in rec["per_layer"].items() if k.startswith("state.") and v}
        if bool(state) != (wl == "corpus_ingest"):
            problems.append(f"{wl}: state.* non-zero = {sorted(state)}")
        if rec["per_layer"].get("trace.coverage_min", 1.0) < 0.9:
            problems.append(f"{wl}: trace coverage {rec['per_layer']['trace.coverage_min']:.3f}")
        fam = rec.get("per_layer_by_family", {})
        if "relational" in fam:
            rel = fam["relational"].get("python.run_ms", 0.0)
            llm = fam.get("llm", {}).get("python.run_ms", 0.0)
            print(f"{wl}: python.run_ms relational={rel:.0f} llm={llm:.0f}; "
                  f"trace overhead {rec['per_layer']['trace.overhead_ms']:.0f} ms")
            if rel != 0.0 or llm == 0.0:
                problems.append(f"{wl}: python.run_ms relational={rel} llm={llm}")
    for p in problems:
        print(f"FAIL {p}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
