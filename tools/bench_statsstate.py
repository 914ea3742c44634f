#!/usr/bin/env python
"""Per-batch cost of CorpusStatsState as the corpus grows — the
O(batch) claim, measured.

The naive corpus report recomputes totals/mixes/histogram/vocabulary
over the WHOLE accreted corpus every time it is asked, so its cost
grows linearly with the corpus.  CorpusStatsState folds each batch into
O(config)-sized state, so per-batch cost should stay flat while the
corpus grows 10x — and report() afterwards is O(1) (meta-resident).

Ingests sf1's 50k documents (or --sf-dir) in N equal batches, timing
each ``ingest`` end-to-end (doc aggregation + shuffle-free MG token
pass + driver sketch merge + sketch write + meta commit), and times the
NAIVE full recompute (one groupBy sweep over the accreted parquet) at
each corpus size for the comparison column.

Usage: python tools/bench_statsstate.py [--sf-dir testdata_sf1] [--batches 10]
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.path.join(REPO, "testdata_sf1"))
    ap.add_argument("--batches", type=int, default=10)
    ap.add_argument("--threshold-frac", type=float, default=0.001)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from tidierdb_jl_spark import get_spark, register_testdata
    from tidierdb_jl_spark.llm.statsstate import CorpusStatsState
    from tidierdb_jl_spark.llm.textstats import tokenize_expr

    spark = get_spark(app="bench-statsstate")
    t = register_testdata(spark, args.sf_dir)
    n_docs = t["documents"].df.count()
    step = n_docs // args.batches

    st = CorpusStatsState.create(
        spark, tempfile.mkdtemp(prefix="statsstate_") + "/st",
        threshold_frac=args.threshold_frac,
    )
    accreted = tempfile.mkdtemp(prefix="statsstate_corpus_") + "/docs"

    def naive_report_seconds() -> float:
        """One full sweep over the accreted corpus: totals + mixes +
        histogram + vocabulary counts (the report recomputed)."""
        t0 = time.perf_counter()
        df = spark.read.parquet(accreted)
        toks = tokenize_expr("text")
        df.select(F.expr(f"size({toks})").alias("nw"),
                  F.length("text").alias("nc"), "lang", "source").agg(
            F.count(F.lit(1)), F.sum("nw"), F.sum("nc")).collect()
        df.groupBy("lang").count().collect()
        df.groupBy("source").count().collect()
        df.select(F.explode(F.expr(toks)).alias("tok")).groupBy("tok") \
          .count().orderBy(F.desc("count")).limit(2000).collect()
        return time.perf_counter() - t0

    print("| batch | rows | corpus docs | ingest (s) | naive report (s) |")
    print("|---|---|---|---|---|")
    for b in range(args.batches):
        lo, hi = b * step, (b + 1) * step if b < args.batches - 1 else n_docs
        batch = t["documents"].filter(
            f"doc_id >= {lo} AND doc_id < {hi}"
        ).select("doc_id", "text", "lang", "source")
        batch.df.write.mode("append").parquet(accreted)
        t0 = time.perf_counter()
        s = st.ingest(batch)
        dt = time.perf_counter() - t0
        tn = naive_report_seconds()
        print(f"| {b} | {hi - lo} | {s['n_docs']} | {dt:.2f} | {tn:.2f} |",
              flush=True)
    t0 = time.perf_counter()
    st.report().df.collect()
    print(f"\nreport() from state: {time.perf_counter() - t0:.2f}s "
          f"(meta-resident; no corpus read)")
    print(f"final stats: {st.stats()}")


if __name__ == "__main__":
    main()
