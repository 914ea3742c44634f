#!/usr/bin/env python
"""Scaling study: run representative contract queries at sf0.001 / 0.01 /
0.1 / 1 (1000x data range) and report how runtime grows with data size.

sf0.001-0.1 are the driver's read-only testdata; sf1 (~6M lineitem rows,
~165 MB parquet) is generated locally by ``tools/gen_sf.py`` (same schema,
value ranges and fan-outs — see that file's header) because the driver
does not ship it.  The informative numbers are the two 10x slopes:
0.01→0.1 and 0.1→1.  Small-SF cells are dominated by fixed overhead
(JVM, Arrow worker spin-up, plan compile), so sub-linear slopes are
expected there; the 0.1→1 step is the first one where data cost is
visible above the floor.  A slope ≤10 across a 10x step is scale-linear
or better; superlinear growth flags a plan that would not survive 100x.
Results land in BENCH_SCALING.md.

Usage: python tools/bench_scaling.py  (~6-8 min on 32 cores)
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402

# One representative per plan family (scan-agg, join-heavy, window,
# inverted-index dedup, banded LSH, corpus clean, LM scoring, BPE,
# cluster split) — all scale-path ops, no quadratic oracles.
QUERIES = [
    "q01_tpch_q1",
    "q56_tpch_q5",
    "q75_tpch_q18",
    "q13_windows",
    "t52_clean_corpus",
    "d35_minhash_pairs",
    "t68_segment_dedup",
    "t86_lm_perplexity",
    "t95_bpe_roundtrip",
    "t96_leakage_split",
    "t64_strip_html",
    "t66_importance_sample",
    "t67_pack_ffd",
    "e56_equi_depth",
    "s42_hard_negatives",
    # r8 scale-path additions: bounded-sketch heavy hitters, n^alpha
    # source mixing, cell-partitioned knn join (full-probe row)
    "t98_heavy_hitters",
    "t77_temperature_mix",
    "s44_knn_join",
    # r9 additions: the as-of digest (probe side = a 1/256 key sample
    # that GROWS with SF; the events build side grows too) and the
    # dual-window digest (the windows compute over ALL rows, the output
    # slice is sampled).  d49_corpus_stats_state is deliberately NOT
    # here: it folds a fixed 600-doc slice at every SF, so its cells
    # would be flat by construction — its scaling evidence is
    # BENCH_STATSSTATE.md's growing-batch study.
    "q12d_asof_digest",
    "q13d_windows_digest",
]
RUNS = 3
SF1_DIR = os.path.join(REPO, "testdata_sf1")
SF10_DIR = os.path.join(REPO, "testdata_sf10")
# the steepest 0.1->1 slopes (r6 study: t96 6.31x, t68 5.29x, d35 5.07x,
# t52 4.62x): one 10x step cannot distinguish linear from n*log(n) from
# rounds-grow-with-diameter, so these get a second 10x step at sf10
# (generated on demand by gen_sf.py --sf 10, ~1.7 GB parquet)
STEEP = ["t52_clean_corpus", "d35_minhash_pairs", "t68_segment_dedup",
         "t96_leakage_split",
         # r7: t67 had the second-steepest 0.1->1 slope (4.40x) after the
         # four above — give it the second 10x step too
         "t67_pack_ffd"]


def consume(df):
    """Timing action that defeats column pruning: hash EVERY output
    column into one aggregated value, so computed columns (window
    functions, regex extracts) actually execute.  A bare ``count()``
    lets Catalyst prune unused projections — a window-heavy query would
    time as a scan (caught in round 9; q13_windows' earlier cells
    measured exactly that)."""
    from pyspark.sql import functions as F

    df = df.df if hasattr(df, "df") else df
    df.select(F.hash(*[F.col(c) for c in df.columns]).alias("__h")) \
      .agg(F.sum("__h")).collect()


def median(xs):
    xs = sorted(xs)
    return xs[len(xs) // 2]


def _t96_lsh_pairs(spark, sf_dir):
    """t96's sf10 configuration: leakage-safe split over MINHASH-LSH
    pairs instead of exact n-gram Jaccard pairs.  Measured finding
    (2026-08-15): the synthetic corpus draws from a 31-token vocabulary,
    so at 500k docs essentially every same-language doc pair shares a
    shingle — the EXACT pair source is inherently all-pairs (~25G
    candidates; the run filled >78 GB of shuffle spill and died with
    ENOSPC, and max_doc_freq capping still leaves ~5.6G candidates at
    this density).  ``leakage_safe_split`` takes any pair source by
    design; at corpus scale the documented source is banded LSH (d35's
    pipeline, 24.7s at sf10), which is what this variant measures —
    the cluster/split machinery (connected components + hash split) is
    identical to the registered row."""
    from tidierdb_jl_spark.llm.dedup import minhash_dedup_pairs
    from tidierdb_jl_spark.llm.pipeline import leakage_safe_split
    from tidierdb_jl_spark.sources.readers import db_table

    docs = db_table(spark, os.path.join(sf_dir, "documents.parquet"))
    pairs = minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.8)
    return leakage_safe_split(docs, pairs, "doc_id", train_frac=0.8).df


def main() -> None:
    from tidierdb_jl_spark import get_spark

    if not os.path.exists(os.path.join(SF1_DIR, "lineitem.parquet")):
        print("generating sf1 testdata (once) ...", file=sys.stderr)
        subprocess.run([sys.executable, os.path.join(REPO, "tools", "gen_sf.py"),
                        "--sf", "1"], check=True)

    sf_dirs = {
        "0.001": "/root/testdata/sf0.001",
        "0.01": "/root/testdata/sf0.01",
        "0.1": "/root/testdata/sf0.1",
        "1": SF1_DIR,
    }

    spark = get_spark(app="tidierdb-scaling")
    cpus = spark.sparkContext.defaultParallelism
    qs = entry_mod.queries()
    names = [n for n in QUERIES if n in qs]
    consume(qs[names[0]](spark, "/root/testdata/sf0.001"))  # warm-up

    results: dict[str, dict[str, float]] = {n: {} for n in names}
    for sf, sf_dir in sf_dirs.items():
        for name in names:
            samples = []
            for _ in range(RUNS):
                t0 = time.perf_counter()
                consume(qs[name](spark, sf_dir))
                samples.append(time.perf_counter() - t0)
            results[name][sf] = round(median(samples), 3)
            print(f"# sf{sf} {name}: {results[name][sf]:.3f}s", file=sys.stderr)

    if os.path.exists(os.path.join(SF10_DIR, "lineitem.parquet")):
        for name in [n for n in STEEP if n in results]:
            fn = qs[name] if name != "t96_leakage_split" else _t96_lsh_pairs
            samples = []
            for _ in range(RUNS):
                t0 = time.perf_counter()
                consume(fn(spark, SF10_DIR))
                samples.append(time.perf_counter() - t0)
            results[name]["10"] = round(median(samples), 3)
            print(f"# sf10 {name}: {results[name]['10']:.3f}s", file=sys.stderr)
    else:
        print("# sf10 data absent -- steep-slope column skipped "
              "(tools/gen_sf.py --sf 10)", file=sys.stderr)

    lines = [
        "# Scaling study — runtime vs data size",
        "",
        f"Median of {RUNS} end-to-end runs per cell, local[{cpus}], "
        "AQE on, shuffle partitions = cores.",
        "Timing action: hash EVERY output column into one aggregated",
        "value (not a bare count(), which lets Catalyst column-prune",
        "unused projections — window-heavy queries would time as scans;",
        "round-9 fix, so window rows run slower-but-honest vs earlier",
        "editions of this file).",
        "sf0.001-0.1 are the driver's testdata; sf1 is generated by",
        "`tools/gen_sf.py` (same schema/distributions, ~6.0M lineitem rows,",
        "~165 MB parquet — the driver does not ship sf1).  `slope` columns",
        "are t(10x)/t(1x) across each 10x data step — ≤10 means linear or",
        "better.  Small-SF cells are fixed-overhead-dominated (JVM, Arrow",
        "spin-up, plan compile), so the 0.1→1 slope is the first",
        "measurement where data cost is visible above the floor; the red",
        "flag would be a slope >10.  The steepest 0.1→1 slopes get a",
        "second 10x step at sf10 (~60M lineitem / 500k docs, generated by",
        "`gen_sf.py --sf 10`): one 10x step cannot distinguish linear",
        "from n·log(n) from rounds-grow-with-diameter growth; two can.",
        "",
        "t96's sf10 cell measures the split over MINHASH-LSH pairs (its",
        "documented corpus-scale pair source — `leakage_safe_split` takes",
        "any pair list) rather than exact n-gram Jaccard pairs: the",
        "synthetic 31-token vocabulary makes every same-language doc pair",
        "share shingles at 500k docs, so the EXACT source is inherently",
        "all-pairs (~25G candidates; the uncapped run spilled >78 GB and",
        "died ENOSPC — recorded here as the measured scale limit of the",
        "exactness knob, not of the operator: cluster/split machinery is",
        "identical, d35 above is the LSH pair stage itself at sf10).",
        "",
        "| query | sf0.001 (s) | sf0.01 (s) | sf0.1 (s) | sf1 (s) "
        "| sf10 (s) | slope 0.01→0.1 | slope 0.1→1 | slope 1→10 |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for name in names:
        r = results[name]
        s1 = r["0.1"] / r["0.01"] if r["0.01"] > 0 else float("nan")
        s2 = r["1"] / r["0.1"] if r["0.1"] > 0 else float("nan")
        if "10" in r:
            c10, s3 = f"{r['10']:.3f}", f"{r['10'] / r['1']:.2f}x"
        else:
            c10, s3 = "—", "—"
        lines.append(
            f"| {name} | {r['0.001']:.3f} | {r['0.01']:.3f} | {r['0.1']:.3f} "
            f"| {r['1']:.3f} | {c10} | {s1:.2f}x | {s2:.2f}x | {s3} |"
        )
    out = os.path.join(REPO, "BENCH_SCALING.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    from _evidence import stage

    stage(out)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
