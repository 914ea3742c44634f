#!/usr/bin/env python
"""Merge-on-read vs copy-on-write DELETE cost -> BENCH_MOR.md.

The MOR claim: delete cost scales with the MATCH COUNT (bitmap/
position-file encode + metadata), not with the touched files' bytes —
so on a table with LARGE files and a SPARSE predicate, MOR beats CoW
by roughly the rewrite-bytes ratio, while reads pay a small anti-join
tax until compaction materializes.  This harness measures all three
legs (delete wall, post-delete scan wall, bytes written) for both
strategies on both formats at two scale factors.

Run: python tools/bench_mor_vs_cow.py   (~4 min)
"""

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SFS = [("sf0.1", "/root/testdata/sf0.1"),
       ("sf1", os.path.join(REPO, "testdata_sf1"))]


def _tree_bytes(root: str) -> int:
    total = 0
    for d, _dns, fns in os.walk(root):
        for f in fns:
            total += os.path.getsize(os.path.join(d, f))
    return total


def main() -> None:
    from tidierdb_jl_spark import (delete_delta, delete_iceberg,
                                   get_spark, read_delta, read_iceberg,
                                   write_delta, write_iceberg)
    from tidierdb_jl_spark.sources.readers import db_table

    spark = get_spark(app="bench-mor")
    pred = "doc_id % 97 = 13"  # ~1% of rows, every file touched
    rows = []
    for sf, sf_dir in SFS:
        if not os.path.isdir(sf_dir):
            continue
        docs = db_table(spark, os.path.join(sf_dir, "documents.parquet")) \
            .select("doc_id", "lang", "text")
        base = tempfile.mkdtemp(prefix=f"bench_mor_{sf}_")
        try:
            rec = {"sf": sf, "docs": docs.df.count()}
            for fmt, write, delete, read in (
                ("delta", write_delta, delete_delta, read_delta),
                ("iceberg",
                 lambda tf, p: write_iceberg(tf, p),
                 delete_iceberg, read_iceberg),
            ):
                for strat in ("copy-on-write", "merge-on-read"):
                    root = f"{base}/{fmt}_{strat[:3]}"
                    write(docs, root)
                    b0 = _tree_bytes(root)
                    t0 = time.perf_counter()
                    delete(spark, root, pred, mode=strat)
                    t_del = time.perf_counter() - t0
                    b1 = _tree_bytes(root)
                    t0 = time.perf_counter()
                    n = read(spark, root).df.count()
                    t_scan = time.perf_counter() - t0
                    key = f"{fmt}_{'cow' if strat.startswith('c') else 'mor'}"
                    rec[f"{key}_delete_s"] = round(t_del, 2)
                    rec[f"{key}_scan_s"] = round(t_scan, 2)
                    rec[f"{key}_bytes_written"] = b1 - b0
                    rec["rows_after"] = int(n)
            rows.append(rec)
            print(json.dumps(rec), flush=True)
        finally:
            shutil.rmtree(base, ignore_errors=True)

    lines = [
        "# BENCH_MOR — merge-on-read vs copy-on-write DELETE",
        "",
        f"Sparse predicate (`{pred}`, ~1% of rows, hits every file) on "
        "an unpartitioned documents table: the worst case for CoW "
        "(every file rewrites) and the best case for MOR (tiny "
        "bitmaps / position files).  Both strategies return identical "
        "rows (the w73/w74 oracle rows prove exactness); this table "
        "is about COST.",
        "",
        "| sf | docs | fmt | cow delete s | cow bytes | mor delete s "
        "| mor bytes | cow scan s | mor scan s |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        for fmt in ("delta", "iceberg"):
            lines.append(
                f"| {r['sf']} | {r['docs']} | {fmt} | "
                f"{r[f'{fmt}_cow_delete_s']} | "
                f"{r[f'{fmt}_cow_bytes_written']} | "
                f"{r[f'{fmt}_mor_delete_s']} | "
                f"{r[f'{fmt}_mor_bytes_written']} | "
                f"{r[f'{fmt}_cow_scan_s']} | "
                f"{r[f'{fmt}_mor_scan_s']} |")
    lines += [
        "",
        "Reading: `mor bytes` is the sidecar/delete-file size — orders "
        "of magnitude under `cow bytes` (the full rewrite).  The mor "
        "scan pays the anti-join tax; rewrite_data_files/OPTIMIZE "
        "materializes it away.  At 100 TB the bytes column is the "
        "story: a 1% delete under CoW rewrites every touched file.",
        "",
    ]
    out = os.path.join(REPO, "BENCH_MOR.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
