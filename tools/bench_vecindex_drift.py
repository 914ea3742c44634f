#!/usr/bin/env python
"""VectorIndexState growth + distribution drift, measured — and what
``retrain()`` buys back.

The frozen-first-batch-centroids design (FAISS recipe) has two
documented failure axes as the index outgrows batch 0:

1. **growth**: cell count stays fixed, so per-probe candidates grow
   linearly with the corpus — query compute degrades even when recall
   holds;
2. **drift**: an add stream from a SHIFTED distribution lands in cells
   whose centroids were trained on batch 0 — pruned-probe recall erodes
   for drifted queries.

This tool builds an index on a small first batch (natural sf
embeddings), grows it 10x with DRIFTED batches (component-reversed
vectors — a deterministic permutation the batch-0 centroids never saw),
and reports recall@k / scored-candidates-per-query / cell imbalance at
1x, 5x, 10x — then ``retrain()``s (nlist ~ sqrt(n)) and re-measures.
Recall is always against the SAME index's full probe (exact by
construction), so the number isolates pruning loss.

Usage: python tools/bench_vecindex_drift.py [--sf-dir testdata_sf1]
           [--first 2000] [--nlist 16] [--k 10] [--queries 40]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.path.join(REPO, "testdata_sf1"))
    ap.add_argument("--first", type=int, default=2000)
    ap.add_argument("--nlist", type=int, default=16)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--queries", type=int, default=40)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from tidierdb_jl_spark import get_spark, register_testdata
    from tidierdb_jl_spark.llm.simsearch import _make_assign_udf, _to_double
    from tidierdb_jl_spark.llm.vectorindex import VectorIndexState

    spark = get_spark(app="bench-vecdrift")
    t = register_testdata(spark, args.sf_dir)
    emb = t["embeddings"].select("vec_id", "embedding")
    first = emb.filter(f"vec_id < {args.first}")
    # the drifted stream: component-REVERSED copies of the corpus under
    # fresh ids — same norms/cluster structure, permuted axes the
    # batch-0 centroids never saw
    drifted = emb.mutate(
        vec_id="vec_id + 1000000", embedding="reverse(embedding)"
    )

    root = tempfile.mkdtemp(prefix="bench_vecdrift_")
    ix = VectorIndexState.create(
        spark, os.path.join(root, "ix"), nlist=args.nlist
    )
    ix.add(first)
    print(f"drift stat after first (training) add: "
          f"{ix.stats()['drift']:+.3f}")

    q_nat = emb.filter(f"vec_id < {args.queries}")
    q_drift = drifted.filter(f"vec_id < 1000000 + {args.queries}")

    def measure(tag, queries, nprobes=(2, 4)):
        n_vecs = ix.stats()["n_vecs"]
        exact = {}
        for r in ix.query(queries, k=args.k, nprobe=10**9).df.select(
            "query_id", "vec_id"
        ).collect():
            exact.setdefault(r[0], set()).add(r[1])
        cell_sizes = {
            r[0]: r[1]
            for r in spark.read.parquet(ix._vecs_path())
            .groupBy("cell").agg(F.count(F.lit(1))).collect()
        }
        imb = max(cell_sizes.values()) / (n_vecs / len(cell_sizes))
        qv = queries.df.select(F.expr(_to_double("embedding")).alias("__v"))
        out = []
        for nprobe in nprobes:
            got = {}
            t0 = time.perf_counter()
            for r in ix.query(queries, k=args.k, nprobe=nprobe).df.select(
                "query_id", "vec_id"
            ).collect():
                got.setdefault(r[0], set()).add(r[1])
            dt = time.perf_counter() - t0
            rec = sum(
                len(got.get(q, set()) & exact[q]) / max(1, len(exact[q]))
                for q in exact
            ) / len(exact)
            assign = _make_assign_udf(ix._meta["centroids"], nprobe)
            cells = qv.select(assign(F.col("__v")).alias("c")).collect()
            spq = sum(
                cell_sizes.get(c, 0) for r in cells for c in r["c"]
            ) / len(cells)
            out.append((nprobe, rec, spq, dt))
        for nprobe, rec, spq, dt in out:
            print(
                f"| {tag} | {n_vecs} | {len(cell_sizes)} | {imb:.1f}x | "
                f"{nprobe} | {rec:.3f} | {spq:.0f} ({spq / n_vecs:.0%}) | "
                f"{dt:.2f} |"
            )

    print(
        f"first batch {args.first} natural vectors, nlist={args.nlist}; "
        "growth batches are component-reversed (drifted) copies"
    )
    print(
        "| stage | n_vecs | cells | max-cell imb | nprobe | recall@10 "
        "| scored/query (frac) | query s |"
    )
    print("|---|---|---|---|---|---|---|---|")
    measure("1x natural-q", q_nat)

    n_total = emb.df.count()
    grown = [4 * args.first, 9 * args.first]  # -> 5x, 10x total
    lo = 0
    for i, n_add in enumerate(grown):
        hi = min(lo + (n_add - (lo and grown[i - 1])), n_total)
        batch = drifted.filter(
            f"vec_id >= 1000000 + {lo} AND vec_id < 1000000 + {n_add}"
        )
        ix.add(batch)
        lo = n_add
        print(f"drift stat after drifted add #{i + 1}: "
              f"{ix.stats()['drift']:+.3f} (threshold 0.15)")
        tag = f"{(ix.stats()['n_vecs']) // args.first}x"
        measure(f"{tag} natural-q", q_nat)
        measure(f"{tag} drift-q", q_drift)

    n = ix.stats()["n_vecs"]
    new_nlist = max(args.nlist, int(math.sqrt(n)))
    t0 = time.perf_counter()
    ix.retrain(nlist=new_nlist)
    dt = time.perf_counter() - t0
    print(f"\nretrain(nlist={new_nlist}) over {n} vectors: {dt:.2f}s")
    print(f"drift stat after retrain (baseline reset): "
          f"{ix.stats()['drift']:+.3f}\n")
    print(
        "| stage | n_vecs | cells | max-cell imb | nprobe | recall@10 "
        "| scored/query (frac) | query s |"
    )
    print("|---|---|---|---|---|---|---|---|")
    # nprobe 2/4 keeps the CELL count comparable; 17/35 keeps the
    # scored-candidate FRACTION comparable to nprobe 2/4 of 16 cells
    # (12%/24%) — the compute-fair comparison
    match = (2, 4, max(1, round(0.12 * new_nlist)),
             max(2, round(0.24 * new_nlist)))
    measure("retrained natural-q", q_nat, nprobes=match)
    measure("retrained drift-q", q_drift, nprobes=match)


if __name__ == "__main__":
    main()
