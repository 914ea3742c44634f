#!/usr/bin/env python
"""Per-batch cost of DedupState as the state grows — the O(batch) claim,
measured.

A naive incremental dedup (anti-join against a seen-set frame) pays a
full state scan + shuffle per batch, so its per-batch time grows with
the CORPUS.  DedupState's design claim is that per-batch time is a
function of the BATCH: the bloom gate handles almost every row without
touching the state, and the few bloom positives read only their own
hash-bucket partitions.

This tool ingests sf1's 50k documents (or --sf-dir) in N equal batches
and times each ``ingest`` end-to-end (filter_new + localCheckpoint +
partitioned append + bloom merge).  Flat per-batch times while
n_fingerprints grows 10x is the evidence; a rising trend is a red flag.
It also times the NAIVE exact_dedup_incremental at each state size for
the comparison column (its seen side is the accreted state parquet).

Usage: python tools/bench_dedupstate.py [--sf-dir testdata_sf1] [--batches 10]
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
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument(
        "--expected-items", type=int, default=None,
        help="bloom sizing; above ~6.7e6 the gate runs in broadcast mode "
             "(the 10^8-key path) instead of the plan literal",
    )
    args = ap.parse_args()

    from tidierdb_jl_spark import get_spark, register_testdata
    from tidierdb_jl_spark.llm.dedup import exact_dedup_incremental
    from tidierdb_jl_spark.llm.dedupstate import DedupState
    from tidierdb_jl_spark.core import TidyFrame

    spark = get_spark(app="bench-dedupstate")
    t = register_testdata(spark, args.sf_dir)
    n_docs = t["documents"].df.count()
    step = n_docs // args.batches

    from tidierdb_jl_spark.plans.metrics import run_with_scan_metrics

    def state_scan(tf):
        """Rows/files the plan READ from the state table (the scan that is
        not the batch's documents.parquet — identified by its partition
        metric, which only partitioned scans report)."""
        _, scans = run_with_scan_metrics(tf, action="count")
        st_scans = [s for s in scans if s.get("partitions") is not None]
        return (
            sum(s["rows"] or 0 for s in st_scans),
            sum(s["files"] or 0 for s in st_scans),
        )

    root = tempfile.mkdtemp(prefix="bench_dedupstate_")
    st = DedupState.create(
        spark, os.path.join(root, "st"), n_buckets=args.n_buckets,
        expected_items=args.expected_items or n_docs,
    )
    print(
        f"bloom m={st._meta['bloom']['m']} bits "
        f"({'broadcast' if st._meta['bloom']['m'] > (1 << 26) else 'literal'} "
        f"gate mode)"
    )
    print(
        "| batch | rows | state fps | ingest (s) | state rows read "
        "(ours) | naive (s) | state rows read (naive) |"
    )
    print("|---|---|---|---|---|---|---|")
    rows = []
    for b in range(args.batches):
        lo, hi = b * step, (b + 1) * step
        batch = t["documents"].filter(
            f"doc_id >= {lo} AND doc_id < {hi}"
        ).select("doc_id", "text")
        before = st.stats()["n_fingerprints"]

        # what each path READS from the state — the number that scales to
        # a 100 TB seen-set, unlike wall-clock on a 50k-row state
        ours_read = naive_read = ("—", "—")
        naive_s = float("nan")
        if before:
            ours_read = state_scan(st.filter_new(batch, "doc_id"))
            seen = TidyFrame(
                spark.read.parquet(os.path.join(st.path, "data")).select(
                    "fingerprint"
                )
            )
            t0 = time.perf_counter()
            exact_dedup_incremental(batch, seen, "doc_id").df.count()
            naive_s = time.perf_counter() - t0
            naive_read = state_scan(
                exact_dedup_incremental(batch, seen, "doc_id")
            )

        t0 = time.perf_counter()
        st.ingest(batch, "doc_id")
        ing_s = time.perf_counter() - t0
        rows.append((b, hi - lo, before, ing_s, ours_read, naive_s, naive_read))
        print(
            f"| {b} | {hi - lo} | {before} | {ing_s:.3f} | "
            f"{ours_read[0]} rows / {ours_read[1]} files | "
            + (f"{naive_s:.3f} | " if naive_s == naive_s else "— | ")
            + f"{naive_read[0]} rows / {naive_read[1]} files |"
        )

    first, last = rows[1][3], rows[-1][3]
    print(
        f"\nstate grew {rows[1][2]}->{rows[-1][2]} fps; "
        f"ingest batch1 {first:.3f}s vs batch{len(rows)-1} {last:.3f}s "
        f"(ratio {last / first:.2f}x)"
    )
    print(f"final stats: {st.stats()}")


if __name__ == "__main__":
    main()
