#!/usr/bin/env python
"""VectorIndexState's two scale claims, measured.

1. **add is O(batch)**: per-batch add time stays flat while the index
   grows (assignment is one Arrow pass over the batch; the append never
   reads existing state).
2. **query cost scales with nprobe, not the corpus** — measured two
   ways, because they bound different resources:

   - **I/O (partition pruning)**: index rows/files READ, reported for a
     small query set.  The scan reads the UNION of the batch's probed
     cells, so pruning is strongest when queries are few or clustered;
     a large diverse batch legitimately touches every cell once (and
     amortizes that one scan across all its queries).
   - **compute (candidate scoring)**: exact-cosine pairs scored per
     query — ``sum over probed cells of |cell|`` — vs the brute-force
     ``|corpus|``.  This is the nprobe/nlist reduction and it holds for
     ANY batch size.

   Recall vs the exact scan sits next to each cost so the
   accuracy/cost trade is one table.

Usage: python tools/bench_vectorindex.py [--sf-dir testdata_sf1]
           [--batches 10] [--nlist 16] [--queries 50] [--k 10]
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
    ap.add_argument("--nlist", type=int, default=16)
    ap.add_argument("--queries", type=int, default=50)
    ap.add_argument("--k", type=int, default=10)
    args = ap.parse_args()

    from tidierdb_jl_spark import get_spark, register_testdata
    from tidierdb_jl_spark.llm.simsearch import cosine_topk
    from tidierdb_jl_spark.llm.vectorindex import VectorIndexState
    from tidierdb_jl_spark.plans.metrics import run_with_scan_metrics

    spark = get_spark(app="bench-vectorindex")
    t = register_testdata(spark, args.sf_dir)
    emb = t["embeddings"].select("vec_id", "embedding")
    n_vecs = emb.df.count()
    step = n_vecs // args.batches

    root = tempfile.mkdtemp(prefix="bench_vecindex_")
    ix = VectorIndexState.create(
        spark, os.path.join(root, "ix"), nlist=args.nlist
    )

    print(f"corpus {n_vecs} vectors, nlist={args.nlist}, {args.batches} batches")
    print("| batch | rows | index size | add (s) |")
    print("|---|---|---|---|")
    adds = []
    for b in range(args.batches):
        lo, hi = b * step, (b + 1) * step
        batch = emb.filter(f"vec_id >= {lo} AND vec_id < {hi}")
        before = ix.stats()["n_vecs"]
        t0 = time.perf_counter()
        ix.add(batch)
        dt = time.perf_counter() - t0
        adds.append(dt)
        print(f"| {b} | {hi - lo} | {before} | {dt:.3f} |")
    print(
        f"\nadd batch1 {adds[1]:.3f}s vs batch{len(adds) - 1} "
        f"{adds[-1]:.3f}s (ratio {adds[-1] / adds[1]:.2f}x over "
        f"{args.batches - 1}x index growth)"
    )

    queries = emb.filter(f"vec_id < {args.queries}")
    exact = (
        cosine_topk(emb, queries, k=args.k)
        .collect()
        .groupby("query_id")["vec_id"]
        .apply(set)
        .to_dict()
    )

    def index_scan(tf):
        """Rows/files read from the INDEX (the partitioned scan)."""
        rows, scans = run_with_scan_metrics(tf, action="collect")
        st = [s for s in scans if s.get("partitions")]
        return (
            rows,
            sum(s["rows"] or 0 for s in st),
            sum(s["files"] or 0 for s in st),
        )

    # per-cell sizes (one tiny agg) -> scored pairs per query = sum of
    # the probed cells' sizes; brute force scores |corpus| per query
    import os as _os

    from pyspark.sql import functions as F

    from tidierdb_jl_spark.llm.simsearch import _make_assign_udf, _to_double

    cell_sizes = {
        r["cell"]: r["n"]
        for r in spark.read.parquet(ix._vecs_path())
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    qvec = queries.df.select(F.expr(_to_double("embedding")).alias("__v"))

    def scored_per_query(nprobe):
        assign = _make_assign_udf(ix._meta["centroids"], nprobe)
        cells = qvec.select(assign(F.col("__v")).alias("c")).collect()
        tot = sum(cell_sizes.get(c, 0) for r in cells for c in r["c"])
        return tot / len(cells)

    print(
        f"\nlarge-batch view ({args.queries} diverse queries — the scan "
        "amortizes; compute is the lever):"
    )
    print("| nprobe | query (s) | scored pairs/query | vs brute | recall@10 |")
    print("|---|---|---|---|---|")
    for nprobe in [1, 2, 4, args.nlist // 2, args.nlist]:
        t0 = time.perf_counter()
        rows, rd, files = index_scan(ix.query(queries, k=args.k, nprobe=nprobe))
        dt = time.perf_counter() - t0
        got: dict = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        rec = sum(
            len(got.get(q, set()) & exact[q]) / len(exact[q]) for q in exact
        ) / len(exact)
        spq = scored_per_query(nprobe)
        print(
            f"| {nprobe} | {dt:.3f} | {spq:.0f} | {spq / n_vecs:.1%} "
            f"| {rec:.3f} |"
        )

    print("\nsmall-batch view (3 queries — partition pruning on the scan):")
    print("| nprobe | index rows read | files read (of "
          f"{len(cell_sizes)} cells) |")
    print("|---|---|---|")
    q3 = emb.filter("vec_id < 3")
    for nprobe in [1, 2, 4]:
        _, rd, files = index_scan(ix.query(q3, k=args.k, nprobe=nprobe))
        print(f"| {nprobe} | {rd} ({rd / n_vecs:.1%} of corpus) | {files} |")


if __name__ == "__main__":
    main()
