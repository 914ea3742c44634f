#!/usr/bin/env python
"""Skew evidence for the banded LSH self-joins (guide §2.5, VERDICT r12
item 5): run minhash_dedup_pairs / simhash_pairs over a DUPLICATE-HEAVY
corpus (hot band keys by construction), execute to a noop sink, and
report per-task max/median from the live UI REST API plus the AQE
executed plan's skew markers.

A deterministic fraction of documents is rewritten to one of a few
template texts: exact duplicates agree on EVERY MinHash band and every
SimHash chunk, so each template is a worst-case hot key.

Usage: python tools/skew_lsh_probe.py [--sf-dir testdata_sf10]
       [--dup-frac 0.1] [--templates 5] [--docs-cap 0]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def rest(ui: str, path: str):
    with urllib.request.urlopen(f"{ui}/api/v1/{path}") as r:
        return json.loads(r.read())


def task_quantiles(ui: str, app: str, stage_rows: list, top_n: int = 5):
    """(stageId, name, numTasks, dur q0/q50/q100, shuffle-read q50/q100)
    for the top_n stages by total executor run time."""
    out = []
    rows = sorted(stage_rows, key=lambda s: -(s.get("executorRunTime") or 0))
    for s in rows[:top_n]:
        sid, att = s["stageId"], s["attemptId"]
        try:
            q = rest(ui, f"applications/{app}/stages/{sid}/{att}/taskSummary"
                         "?quantiles=0.0,0.5,1.0")
        except Exception:
            continue
        dur = q.get("executorRunTime") or q.get("duration") or [0, 0, 0]
        srd = (q.get("shuffleReadMetrics") or {}).get("readBytes", [0, 0, 0])
        out.append({
            "stage": sid,
            "tasks": s.get("numCompleteTasks"),
            "dur_ms": [round(x) for x in dur],
            "dur_max_over_med": round(dur[2] / dur[1], 2) if dur[1] else None,
            "shuf_read": [round(x) for x in srd],
            "name": (s.get("name") or "")[:60],
        })
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="testdata_sf10")
    ap.add_argument("--dup-frac", type=float, default=0.1)
    ap.add_argument("--templates", type=int, default=5)
    ap.add_argument("--docs-cap", type=int, default=0,
                    help="optional row cap for a faster probe")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from tidierdb_jl_spark import get_spark, register_testdata
    from tidierdb_jl_spark.llm.dedup import minhash_dedup_pairs, simhash_pairs

    spark = get_spark(
        app="skew-probe",
        extra_conf={"spark.ui.enabled": "true"},
    )
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    t = register_testdata(spark, args.sf_dir)
    docs = t["documents"].df
    if args.docs_cap:
        docs = docs.where(F.expr(f"doc_id < {args.docs_cap}"))

    # deterministic duplicate injection: every k-th doc becomes one of
    # `templates` fixed texts (pmod on doc_id — no RNG, guide §2.5)
    tmpl = [r["text"] for r in
            docs.orderBy("doc_id").limit(args.templates).collect()]
    arr = "array(" + ", ".join(
        "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'" for s in tmpl
    ) + ")"
    k = max(2, round(1.0 / args.dup_frac))
    skewed = docs.withColumn(
        "text",
        F.expr(
            f"CASE WHEN pmod(doc_id, {k}) = 0 THEN "
            f"element_at({arr}, CAST(pmod(doc_id, {args.templates}) AS INT) + 1) "
            f"ELSE text END"
        ),
    )
    n = skewed.count()
    print(f"# corpus: {n} docs, ~{n // k} exact dups over "
          f"{args.templates} templates (hot keys)")

    from tidierdb_jl_spark.core import TidyFrame

    report = {}
    for name, build in [
        ("minhash_pairs", lambda: minhash_dedup_pairs(
            TidyFrame(skewed), "doc_id")),
        ("simhash_pairs", lambda: simhash_pairs(TidyFrame(skewed), "doc_id")),
    ]:
        before = {s["stageId"] for s in rest(ui, f"applications/{app}/stages")}
        spark.sparkContext.setJobDescription(f"skew-probe: {name}")
        out = build().df
        out.write.format("noop").mode("overwrite").save()
        spark.sparkContext.setJobDescription(None)
        plan = out._jdf.queryExecution().executedPlan().toString()
        stages = [s for s in rest(ui, f"applications/{app}/stages")
                  if s["stageId"] not in before and s["status"] == "COMPLETE"]
        qs = task_quantiles(ui, app, stages)
        report[name] = {
            "n_pairs_stage_rows": None,
            "aqe_shuffle_reads": plan.count("AQEShuffleRead"),
            "skewed_markers": plan.count("skewed="),
            "coalesced": plan.count("coalesced"),
            "stages": qs,
        }
        print(f"\n== {name} ==")
        print(f"AQEShuffleRead nodes: {report[name]['aqe_shuffle_reads']}; "
              f"'skewed=' markers: {report[name]['skewed_markers']}")
        for q in qs:
            print(f"  stage {q['stage']:>4} tasks={q['tasks']:>4} "
                  f"dur(ms) med={q['dur_ms'][1]:>7} max={q['dur_ms'][2]:>7} "
                  f"max/med={q['dur_max_over_med']} "
                  f"shufread med={q['shuf_read'][1]:>10} "
                  f"max={q['shuf_read'][2]:>10}  {q['name']}")
    print("\n" + json.dumps(report))


if __name__ == "__main__":
    main()
