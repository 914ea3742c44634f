#!/usr/bin/env python
"""Plan-smell audit over EVERY registered query (not just the headline 27).

Builds each ``queries()`` entry's DataFrame and scans the formatted
physical plan for the optimization-guide smells:

- duplicated Python UDF evaluation (guide §4.4): the same UDF call
  appearing in 2+ BatchEvalPython/ArrowEvalPython nodes over the same run
- CartesianProduct (guide §3: accidental cross join)
- ``replicaterows`` Generates (exceptAll/intersectAll re-executing both
  unpersisted subtrees — the d36 class fixed in r12 change 1)
- exchange census (Exchange vs ReusedExchange)
- scan width (ReadSchema column count — column pruning reaching parquet)

Usage: python tools/audit_plans.py [outfile] [only,names]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01 — smell shapes do
not depend on SF; broadcast-vs-SMJ choices do, so this tool reports
structure only, never join strategy).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402

PY_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
)


def audit_plan(plan: str) -> dict:
    lines = plan.splitlines()
    out: dict = {}
    out["n_exchange"] = len(
        [ln for ln in lines if re.search(r"\bExchange\b", ln) and "ReusedExchange" not in ln and "ShuffleQueryStage" not in ln]
    )
    out["n_reused_exchange"] = len([ln for ln in lines if "ReusedExchange" in ln])
    out["cartesian"] = "CartesianProduct" in plan
    out["bnlj"] = plan.count("BroadcastNestedLoopJoin")
    out["replicaterows"] = "replicaterows" in plan
    # Python-eval census: pair each numbered detail block "(n) ArrowEvalPython"
    # with its Arguments line; identical argument signatures in 2+ nodes =
    # the §4.4 duplication (same UDF over the same input evaluated twice).
    udf_sigs: list[str] = []
    for m in re.finditer(r"\(\d+\) (?:Arrow|Batch)EvalPython[^\n]*\nInput[^\n]*\nArguments: (\[[^\n]*)", plan):
        sig = re.sub(r"#\d+[A-Za-z]*", "#x", m.group(1))  # strip expr ids
        udf_sigs.append(sig)
    out["n_python_nodes"] = sum(
        1
        for ln in lines
        if any(p in ln for p in PY_NODES) and re.match(r"\(\d+\)", ln.strip())
    )
    dup = {}
    for s in udf_sigs:
        dup[s] = dup.get(s, 0) + 1
    out["dup_udf_nodes"] = {s[:120]: c for s, c in dup.items() if c > 1}
    # scan width census
    scans = []
    for m in re.finditer(r"ReadSchema: struct<([^\n]*)>", plan):
        flds = [f for f in m.group(1).split(",") if ":" in f]
        scans.append(len(flds))
    out["scan_widths"] = scans
    out["n_mapinpandas"] = plan.count("MapInPandas") + plan.count("MapInArrow")
    out["n_flatmapgroups"] = plan.count("FlatMapGroupsInPandas")
    return out


def main() -> None:
    outfile = sys.argv[1] if len(sys.argv) > 1 else "/tmp/plan_audit.jsonl"
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    from tidierdb_jl_spark import get_spark

    spark = get_spark(app="plan-audit")
    qs = entry_mod.queries()
    names = [n for n in qs if not only or n in only]
    with open(outfile, "w") as fh:
        for i, name in enumerate(names):
            t0 = time.time()
            try:
                df = qs[name](spark, sf_dir)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                rec = {"query": name, **audit_plan(plan), "build_s": round(time.time() - t0, 2)}
            except Exception as exc:  # noqa: BLE001 — report, keep going
                rec = {"query": name, "err": f"{type(exc).__name__}: {exc}"[:300]}
            fh.write(json.dumps(rec) + "\n")
            fh.flush()
            print(f"[{i+1}/{len(names)}] {name}: {json.dumps({k: v for k, v in rec.items() if k in ('n_exchange', 'cartesian', 'bnlj', 'replicaterows', 'dup_udf_nodes', 'err')})}", file=sys.stderr)
    print(f"wrote {outfile}")


if __name__ == "__main__":
    main()
