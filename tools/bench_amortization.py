#!/usr/bin/env python
"""Constant-overhead amortization evidence for BENCH_VS_DUCKDB.md.

The head-to-head at sf0.1 shows DuckDB winning small relational
aggregates almost entirely on per-query constant cost (task scheduling,
stage setup) — costs that do not grow with data.  This tool measures the
same overhead-dominated queries at sf0.1 AND sf1 (10x the data), Spark
vs DuckDB, warm 5-run medians on both sides, and prints the markdown
table: if the gap is constant-overhead, the ratio must close as data
grows while DuckDB's per-query time starts to climb.

Usage: python tools/bench_amortization.py  (~3 min)
"""

from __future__ import annotations

import glob
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402

# the sf0.1 head-to-head's worst Spark/DuckDB ratios (overhead class)
QUERIES = [
    "t88_quantile_filter",   # 50.8x at sf0.1 — the VERDICT's profile target
    "t66_importance_sample", # 23.9x
    "e56_equi_depth",        # 21.9x
    "t61_curriculum_order",  # 17.8x
    "e77_gapfill",           # 17.0x
    "q72_tpch_q13",          # 15.8x
    "q56_tpch_q5",           # 15.0x
    "e53_time_rollup",       # 11.7x
    "t74_token_budget",      # 253x at sf0.1 (r6) — all fixed cost: the
                             # two-pass pinned-layout plan has no
                             # single-partition window; sf1 must collapse
]
RUNS = 5
SF_DIRS = {"0.1": "/root/testdata/sf0.1", "1": os.path.join(REPO, "testdata_sf1")}


def median(xs):
    return sorted(xs)[len(xs) // 2]


def main() -> None:
    from tidierdb_jl_spark import get_spark

    spark = get_spark(app="tidierdb-amortization")
    qs, osql = entry_mod.queries(), entry_mod.oracle_sql()

    cells: dict[tuple[str, str], tuple[float, float]] = {}
    for sf, sf_dir in SF_DIRS.items():
        con = duckdb.connect()
        for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
            con.execute(
                f"CREATE VIEW {os.path.basename(p)[:-8]} AS "
                f"SELECT * FROM read_parquet('{p}')"
            )
        for name in QUERIES:
            qs[name](spark, sf_dir).count()  # warm both engines' caches
            con.execute(osql[name]).fetchall()
            s_samples, d_samples = [], []
            for _ in range(RUNS):
                t0 = time.perf_counter()
                qs[name](spark, sf_dir).count()
                s_samples.append(time.perf_counter() - t0)
                t0 = time.perf_counter()
                con.execute(osql[name]).fetchall()
                d_samples.append(time.perf_counter() - t0)
            cells[(name, sf)] = (median(s_samples), median(d_samples))
            print(f"# sf{sf} {name}: spark {cells[(name, sf)][0]:.3f}s "
                  f"duckdb {cells[(name, sf)][1]:.3f}s", file=sys.stderr)

    print("| query | spark sf0.1 | duckdb sf0.1 | ratio sf0.1 "
          "| spark sf1 | duckdb sf1 | ratio sf1 |")
    print("|---|---|---|---|---|---|---|")
    for name in QUERIES:
        s1, d1 = cells[(name, "0.1")]
        s2, d2 = cells[(name, "1")]
        print(f"| {name} | {s1:.3f} | {d1:.3f} | {s1 / d1:.1f}x "
              f"| {s2:.3f} | {d2:.3f} | {s2 / d2:.1f}x |")


if __name__ == "__main__":
    main()
