#!/usr/bin/env python3
"""Layered benchmark of tidierdb_jl_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see ``BENCHMARK.json`` and ``perfbench/README.md``) in
this fresh process and prints, as the last line of standard output, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones.  The full record of the run (host facts, calibration probe,
every round, failures, per-layer self times) goes to
``perfbench/results/<workload>-seed<n>-trace<t>.json`` and, for a traced
run, the spans to ``...trace<t>.spans.json``.

``--sf`` replaces the workload's scale factor and ``--corrupt`` makes one
reference answer wrong on purpose; the self-test uses both.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from env import PERFBENCH, ROOT, Sandbox, missing_sources


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None)
    ap.add_argument("--corrupt", action="store_true")
    return ap.parse_args(argv)


def metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = missing_sources()
    if missing:
        print(f"perfbench: not a tidierdb_jl_spark checkout, missing {missing}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    specs = metric_specs()
    sf = args.sf if args.sf is not None else workloads.WORKLOADS[args.workload]

    t_start = time.perf_counter()
    sandbox = Sandbox()
    try:
        sandbox.prepare_inputs(args.workload, sf, args.seed)
        t_inputs = time.perf_counter()
        wl = workloads.make(args, sandbox)
        out = wl.run()
    finally:
        sandbox.close()
    wl.report["phase_s"] = {"inputs": t_inputs - t_start, **wl.report.get("phase_s", {}),
                            "total": time.perf_counter() - t_start}

    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for name, unit in specs[kind].items():
        if kind == "end_to_end":
            value, got_unit = out[kind][name]
            if got_unit != unit:
                raise RuntimeError(f"{name}: unit {got_unit} != {unit}")
        else:
            value = out[kind].get(name, 0.0)
        metrics[name] = {"value": value, "unit": unit}
    failed = len(wl.failures)
    line = {
        "correct": failed == 0,
        "attempted": wl.attempted,
        "failed": failed,
        "metrics": metrics,
    }

    results = os.path.join(PERFBENCH, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    record = {"args": vars(args), "sf": sf, "end_to_end": out["end_to_end"],
              "per_layer": out["per_layer"], **wl.report}
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if args.trace:
        wl.tracer.dump(stem + ".spans.json", wl.report.get("trace", {}))

    print(f"# {args.workload} seed={args.seed} sf={sf} trace={args.trace}: "
          f"{len(wl.rounds) - wl.warmup_rounds} rounds, {wl.report['op_samples']} op samples, "
          f"error_rate={wl.report['error_rate']:.4f}", file=sys.stderr)
    for name, m in metrics.items():
        print(f"#   {name:28s} {m['value']:16.4f} {m['unit']}", file=sys.stderr)
    if not args.trace:  # recorded, but too noisy on a shared host to bound
        for name, (value, unit) in out["end_to_end"].items():
            if name not in metrics:
                print(f"#   ({name}) {value:21.4f} {unit}", file=sys.stderr)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
