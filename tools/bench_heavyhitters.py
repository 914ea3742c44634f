#!/usr/bin/env python
"""heavy_hitters' scale claim, measured honestly against map-side
partial aggregation.

Two scenarios at the given SF, each comparing the plain exact group-by
vs two-pass Misra-Gries (wall time, records written to shuffle
exchanges from the SQL status store, result equality):

- **unigrams (low cardinality)**: partial aggregation collapses each
  partition to its few distinct tokens before the exchange — the plain
  group-by is already cheap and WINS here.  Keeping this row is the
  point: the MG path is not a universal replacement.
- **n-grams (high cardinality)**: the partial-agg hash map must hold
  every distinct n-gram per partition and the exchange carries ~all of
  them; MG state stays O(1/frac) and only candidates shuffle.  This is
  the 100 TB regime (n-grams/URLs/ids with billions of distincts).

Usage: python tools/bench_heavyhitters.py [--sf-dir testdata_sf1]
           [--frac 0.001] [--ngram 3]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def run_with_shuffle_records(df):
    """Execute ``df.collect()`` and return (rows, shuffle-records-written
    summed over every Exchange in the execution)."""
    spark = df.sparkSession
    rows = df.collect()
    store = spark._jsparkSession.sharedState().statusStore()
    eid = store.executionsList().last().executionId()
    total = None
    for _ in range(50):
        vals = {}
        it = store.executionMetrics(eid).iterator()
        while it.hasNext():
            kv = it.next()
            vals[kv._1()] = kv._2()
        total, seen_any = 0, False
        nodes = store.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            n = nodes.next()
            if "Exchange" not in n.name():
                continue
            mets = n.metrics().iterator()
            while mets.hasNext():
                m = mets.next()
                if m.name() == "shuffle records written" and \
                        m.accumulatorId() in vals:
                    total += int(vals[m.accumulatorId()].replace(",", ""))
                    seen_any = True
        if seen_any:
            break
        time.sleep(0.1)
    return rows, total


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.path.join(REPO, "testdata_sf1"))
    ap.add_argument("--frac", type=float, default=0.001)
    ap.add_argument("--ngram", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from tidierdb_jl_spark import TidyFrame, get_spark, register_testdata
    from tidierdb_jl_spark.llm.dedup import _spread
    from tidierdb_jl_spark.llm.textstats import ngram_array_expr, tokenize_expr
    from tidierdb_jl_spark.llm.vocab import _token_array
    from tidierdb_jl_spark.operators.heavyhitters import heavy_hitters

    spark = get_spark(app="bench-heavyhitters")
    t = register_testdata(spark, args.sf_dir)
    docs = _spread(t["documents"].df.select("text"))

    uni = docs.select(
        F.explode(_token_array("text", "whitespace")).alias("v")
    )
    ng = docs.selectExpr(
        "explode(" + ngram_array_expr(tokenize_expr("text"), args.ngram)
        + ") AS v"
    )

    for name, stream in [("unigrams", uni), (f"{args.ngram}-grams", ng)]:
        stream = stream.localCheckpoint(eager=True)  # isolate the compare
        n = stream.count()
        nd = stream.distinct().count()
        thr = math.ceil(args.frac * n)
        print(f"\n## {name}: {n} occurrences, {nd} distinct, "
              f"threshold {thr} (frac={args.frac})")
        t0 = time.perf_counter()
        full_rows, full_shuf = run_with_shuffle_records(
            stream.groupBy("v").agg(F.count(F.lit(1)).alias("count"))
            .where(F.col("count") >= thr)
        )
        full_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        hh_rows, hh_shuf = run_with_shuffle_records(
            heavy_hitters(TidyFrame(stream), "v", args.frac).df
        )
        hh_s = time.perf_counter() - t0
        full = sorted((r["v"], r["count"]) for r in full_rows)
        hh = sorted((r["v"], r["count"]) for r in hh_rows)
        print("| path | wall (s) | shuffle records | result |")
        print("|---|---|---|---|")
        print(f"| groupBy full stream | {full_s:.3f} | {full_shuf} | "
              f"{len(full)} rows |")
        print(f"| two-pass Misra-Gries | {hh_s:.3f} | {hh_shuf} | "
              f"{len(hh)} rows |")
        print(f"answers identical: {full == hh}")
        if full_shuf and hh_shuf is not None:
            print(f"shuffle-records ratio: {full_shuf / max(hh_shuf, 1):.1f}x")


if __name__ == "__main__":
    main()
