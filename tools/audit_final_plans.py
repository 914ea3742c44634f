#!/usr/bin/env python
"""Runtime confirmation for audit_dup_subtrees flags: execute each query
(noop sink) and inspect the FINAL AQE plan.  A pre-execution duplicate
subtree is only real duplicated work if, after execution, two DISTINCT
query stages carry an identical normalized body — AQE's stage reuse
(the same ShuffleQueryStage/BroadcastQueryStage id referenced from both
consumers) collapses most static duplicates for free.

Reports, per query:
- dup_shuffle_stages / dup_broadcast_stages: distinct stage ids whose
  normalized subtree bodies are identical (REAL duplicated execution)
- n_shuffle_stages / n_broadcast_stages: distinct stage ids (the real
  exchange count of the executed query)

Usage: python tools/audit_final_plans.py [outfile] [only,names]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402

STAGE = re.compile(r"^(ShuffleQueryStage|BroadcastQueryStage) \((\d+)\)")


def parse_tree(sketch: str):
    nodes = []
    for ln in sketch.splitlines():
        if not ln.strip():
            break
        m = re.match(r"^((?:[:+\|]?[- ]{2,3}|\s{3})*)[*]?\s*(\S.*)$", ln)
        if not m:
            continue
        prefix, label = m.groups()
        nodes.append((len(prefix) // 3, label.strip()))
    return nodes


def norm(label: str) -> str:
    label = re.sub(r"\(\d+\)", "", label)
    label = re.sub(r"#\d+[A-Za-z]*", "#x", label)
    label = re.sub(r"plan_id=\d+", "plan_id=x", label)
    label = re.sub(r"Statistics\([^)]*\)", "", label)
    return label.strip()


def node_digests(plan: str) -> dict[str, str]:
    """Map operator id -> digest of its detail block (normalized), so two
    sketch-identical nodes with different conditions/locations/projections
    (a Filter with another predicate, a Scan of another table) never
    compare equal — the sketch line is just 'Filter (n)'."""
    import hashlib

    digests: dict[str, str] = {}
    for m in re.finditer(r"^\((\d+)\) ([^\n]*)\n((?:(?!^\()[^\n]*\n?)*)", plan, re.M):
        body = re.sub(r"#\d+[A-Za-z]*", "#x", m.group(3))
        body = re.sub(r"plan_id=\d+", "plan_id=x", body)
        body = re.sub(r"\[id=#?x?\d*\]", "", body)
        digests[m.group(1)] = hashlib.md5(body.encode()).hexdigest()[:8]
    return digests


def stage_bodies(plan: str):
    """Map stage kind+id -> normalized subtree body (first occurrence)."""
    sketch = plan.split("\n\n", 1)[0]
    nodes = parse_tree(sketch)
    digests = node_digests(plan)
    bodies: dict[str, str] = {}
    n = len(nodes)
    for i, (d, label) in enumerate(nodes):
        m = STAGE.match(label)
        if not m:
            continue
        key = f"{m.group(1)[0]}{m.group(2)}"  # S43 / B7
        if key in bodies:
            continue
        j = i + 1
        while j < n and nodes[j][0] > d:
            j += 1
        lines = []
        for dd, ll in nodes[i:j]:
            nl = norm(ll)
            idm = re.search(r"\((\d+)\)", ll)
            if idm and idm.group(1) in digests:
                nl += f" ~{digests[idm.group(1)]}"
            lines.append(f"{dd - d}|{nl}")
        bodies[key] = "\n".join(lines)
    return bodies


def audit(plan: str):
    bodies = stage_bodies(plan)
    by_body: dict[str, list] = {}
    for key, body in bodies.items():
        # drop the stage's own id line for comparison
        stripped = "\n".join(body.splitlines()[1:]) or body
        # a stage whose direct child is a ReusedExchange re-serves an
        # already-built exchange — no duplicated computation
        if "ReusedExchange" in stripped.splitlines()[0]:
            continue
        by_body.setdefault(f"{key[0]}|{stripped}", []).append(key)
    dups = {kind_body.split("|", 1)[0]: keys
            for kind_body, keys in by_body.items() if len(keys) > 1}
    shuffles = [k for k in bodies if k.startswith("S")]
    bcasts = [k for k in bodies if k.startswith("B")]
    return {
        "n_shuffle_stages": len(shuffles),
        "n_broadcast_stages": len(bcasts),
        "dup_shuffle_stages": [v for v in dups.values() if v[0].startswith("S")],
        "dup_broadcast_stages": [v for v in dups.values() if v[0].startswith("B")],
    }


def main() -> None:
    outfile = sys.argv[1] if len(sys.argv) > 1 else "/tmp/final_plan_audit.jsonl"
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    from tidierdb_jl_spark import get_spark

    spark = get_spark(app="final-plan-audit")
    qs = entry_mod.queries()
    names = [n for n in qs if not only or n in only]
    with open(outfile, "w") as fh:
        for i, name in enumerate(names):
            t0 = time.time()
            try:
                df = qs[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                rec = {"query": name, **audit(plan), "run_s": round(time.time() - t0, 2)}
            except Exception as exc:  # noqa: BLE001
                rec = {"query": name, "err": f"{type(exc).__name__}: {exc}"[:300]}
            fh.write(json.dumps(rec) + "\n")
            fh.flush()
            flag = rec.get("dup_shuffle_stages") or rec.get("dup_broadcast_stages") or rec.get("err")
            print(f"[{i+1}/{len(names)}] {name}: {json.dumps(flag) if flag else 'clean'}", file=sys.stderr)
    print(f"wrote {outfile}")


if __name__ == "__main__":
    main()
