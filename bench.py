#!/usr/bin/env python
"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.  With $SPARK_GRAFT_CPUS unset,
``get_spark`` takes every core the process may run on.

Timing discipline (BASELINE.md, tightened in r4 per ADVICE): one global
warm-up action to JIT/open files, then each query runs
$SPARK_GRAFT_BENCH_RUNS times (default 5) end-to-end (plan + execute +
fetch) — the reported per-query number is the MEDIAN, with min/max
spread recorded alongside so run-to-run drift is visible instead of
silently folded into best-of-2.  AQE on, shuffle partitions = cores.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402

HEADLINE = [
    "q01_tpch_q1",
    "q07_join3_revenue",
    "q55_tpch_q3",
    "q56_tpch_q5",
    "q12_asof_join",
    "q13_window_rank",
    "q14_window_frame",
    "q16_slice_max",
    "q22_pivot_wider",
    "q26_grouped_filter",
    "q28_sessionize",
    "q72_tpch_q13",
    "q75_tpch_q18",
    "e53_time_rollup",
    "e54_rollup_merge_hll",
    "e77_gapfill",
    "t68_segment_dedup",
    "t71_contamination",
    "t31_text_stats",
    "t52_clean_corpus",
    "t43_bpe_tokens",
    "d34_dedup_exact",
    "d35_minhash_pairs",
    "d36_simhash_pairs",
    "s38_cosine_topk",
    "s39_lsh_topk",
    "s40_ivf_topk",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from tidierdb_jl_spark import get_spark

    spark = get_spark(app="tidierdb-bench")

    qs = entry_mod.queries()
    names = [n for n in HEADLINE if n in qs]
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if only:  # subset runs (tools/bench_ab.py interleaving)
        keep = {s.strip() for s in only.split(",") if s.strip()}
        names = [n for n in names if n in keep]
    # warm-up: JIT, parquet footers, codegen caches
    qs[names[0]](spark, sf_dir).count()

    def calibrate() -> float:
        """Host-speed probe INDEPENDENT of repo code: a fixed pure-JVM
        codegen scan (range -> xxhash64 -> sum).  Its runtime moves with
        host load/CPU only, so verdicts can normalize cross-round bench
        totals (r9 and r10 both burned a diagnosis round on host drift):
        normalized_total = total * (calib_baseline / calib_now)."""
        from pyspark.sql import functions as F

        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            spark.range(0, 200_000_000).select(
                F.bit_xor(F.xxhash64("id"))  # no ANSI overflow, same scan
            ).collect()
            best = min(best, time.perf_counter() - t0)
        return round(best, 4)

    calib = calibrate()

    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    timings: dict[str, float] = {}
    spread: dict[str, dict] = {}
    for name in names:
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            n = df.count()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        med = samples[len(samples) // 2] if runs % 2 else (
            samples[runs // 2 - 1] + samples[runs // 2]
        ) / 2
        timings[name] = round(med, 4)
        spread[name] = {
            "min": round(samples[0], 4),
            "max": round(samples[-1], 4),
            "n": runs,
        }
        print(
            f"# {name}: median {timings[name]:.3f}s "
            f"[{samples[0]:.3f}..{samples[-1]:.3f}] ({n} rows)",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 4)
    payload = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # host-speed row, NOT part of the total (engine code is not
        # involved): min-of-3 of a fixed pure-JVM hash scan
        "calibration": calib,
    }
    # The driver parses the JSON line out of a bounded stdout tail, so the
    # stdout line must stay compact: min/max spread goes to a side file
    # (+ stderr) instead of the stdout payload.
    line = json.dumps(payload, separators=(",", ":"))
    if len(line) > 1800:  # defensive: drop per-query detail before the total
        line = json.dumps(
            {k: payload[k] for k in ("metric", "value", "unit", "sf")},
            separators=(",", ":"),
        )
    spread_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_SPREAD.json"
    )
    try:
        with open(spread_path, "w") as fh:
            json.dump({"queries": timings, "spread": spread, "sf": payload["sf"]}, fh)
    except OSError as exc:  # side file is best-effort
        print(f"# spread not written: {exc}", file=sys.stderr)
    print(json.dumps(spread, separators=(",", ":")), file=sys.stderr)
    print(line)


if __name__ == "__main__":
    main()
