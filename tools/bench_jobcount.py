#!/usr/bin/env python
"""Per-query JOB census: how many Spark jobs one warm run of each headline
query launches (guide §1: at sf0.1 the multi-stage queries are dominated by
per-job/stage fixed cost, so job count IS the local cost model).  Uses job
groups + statusTracker — no UI or event-log dependency.

Usage: [SPARK_GRAFT_BENCH_QUERIES=a,b] python tools/bench_jobcount.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from bench import HEADLINE  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from tidierdb_jl_spark import get_spark

    spark = get_spark(app="job-census")
    sc = spark.sparkContext
    qs = entry_mod.queries()
    names = [n for n in HEADLINE if n in qs]
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if only:
        keep = {s.strip() for s in only.split(",") if s.strip()}
        names = [n for n in names if n in keep]

    qs[names[0]](spark, sf_dir).count()  # warm-up
    tracker = sc.statusTracker()
    for name in names:
        # run 1 (cold: fills the query's track() caches), run 2 (warm)
        counts = []
        times = []
        for i in range(2):
            group = f"{name}-r{i}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).count()
            times.append(time.perf_counter() - t0)
            sc.setJobGroup(None, None)
            counts.append(len(tracker.getJobIdsForGroup(group)))
        print(
            f"{name:24s} cold {counts[0]:3d} jobs {times[0]*1000:7.1f} ms"
            f"   warm {counts[1]:3d} jobs {times[1]*1000:7.1f} ms"
        )


if __name__ == "__main__":
    main()
