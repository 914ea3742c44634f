"""Measure the bloom probe modes at 10^6 / 10^7 / 10^8 bits (VERDICT r9
item 2): rows/s for the plan-literal probe (where it fits), the
Arrow-batched pandas-UDF broadcast probe, and the JVM wordjoin probe
(k BroadcastHashJoins on the word index).  Build once per m; probe a
2M-row corpus; min-of-3 timings of a count() over the marked frame
(the count consumes the probe column, so the probe runs for every row).

Usage: python tools/bench_bloom_probe.py [--rows 2000000]
Appends nothing — prints a markdown table for BENCH_DEDUPSTATE.md.
"""

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=2_000_000)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from tidierdb_jl_spark import get_spark
    from tidierdb_jl_spark.core import TidyFrame
    from tidierdb_jl_spark.operators.bloom import bloom_build, bloom_mark

    spark = get_spark(app="bench-bloom-probe")
    cpus = spark.sparkContext.defaultParallelism
    n = args.rows
    corpus = TidyFrame(
        spark.range(0, n).select(
            F.concat(F.lit("url-"), F.col("id")).alias("k"))
    )
    corpus.df.persist().count()  # keys materialized; probe cost isolated
    # seen set: every 11th key -> ~9% true hit rate
    seen = TidyFrame(
        spark.range(0, n, 11).select(
            F.concat(F.lit("url-"), F.col("id")).alias("k"))
    )

    cases = [("1.0e6 bits", 1 << 20), ("1.7e7 bits", 1 << 24),
             ("1.3e8 bits", 1 << 27)]
    print(f"rows probed: {n}, reps: min-of-{args.reps}, "
          f"local[{cpus}]\n")
    print("| m (bits) | mode | probe s | rows/s |")
    print("|---|---|---|---|")
    for label, m in cases:
        bf = bloom_build(seen, "k", num_bits=m, num_hashes=5)
        modes = ["literal", "broadcast", "wordjoin"]
        if m > (1 << 26):
            modes.remove("literal")  # plan-literal unusable there
        counts = {}
        for mode in modes:
            marked = bloom_mark(corpus, "k", bf, mode=mode)
            best = float("inf")
            for _ in range(args.reps):
                t0 = time.time()
                counts[mode] = marked.df.where("bloom_hit").count()
                best = min(best, time.time() - t0)
            print(f"| {label} | {mode} | {best:.2f} | {n/best:,.0f} |")
        assert len(set(counts.values())) == 1, counts  # modes agree
    spark.stop()


if __name__ == "__main__":
    main()
