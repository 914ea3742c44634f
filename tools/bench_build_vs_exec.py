#!/usr/bin/env python
"""Split each headline query's wall time into BUILD (Python/py4j plan
construction) vs EXEC (action) — guide §1: find out where the time goes
before optimizing.  Same session settings as bench.py."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from bench import HEADLINE  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    from tidierdb_jl_spark import get_spark

    spark = get_spark(app="bench-split")
    qs = entry_mod.queries()
    names = [n for n in HEADLINE if n in qs]
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if only:
        keep = {s.strip() for s in only.split(",") if s.strip()}
        names = [n for n in names if n in keep]
    qs[names[0]](spark, sf_dir).count()  # warm-up

    tb = te = 0.0
    for name in names:
        builds, execs = [], []
        for _ in range(runs):
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            t1 = time.perf_counter()
            df.count()
            t2 = time.perf_counter()
            builds.append(t1 - t0)
            execs.append(t2 - t1)
        builds.sort(), execs.sort()
        b, e = builds[runs // 2], execs[runs // 2]
        tb += b
        te += e
        print(f"{name:24s} build {b*1000:7.1f} ms   exec {e*1000:7.1f} ms")
    print(f"{'TOTAL':24s} build {tb:7.3f} s    exec {te:7.3f} s")


if __name__ == "__main__":
    main()
