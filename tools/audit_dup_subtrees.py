#!/usr/bin/env python
"""Duplicate-subtree audit over every registered query's physical plan.

Complements ``audit_plans.py`` (which catches duplicated Python-UDF nodes,
the guide's §4.4 class): this tool catches the *non-UDF* version of the
same smell — an identical expensive subtree (one containing an Exchange,
Aggregate, Join or Window) executed twice inside one query because the
shared frame was not persisted and Spark's exchange-reuse did not fire
(the d35-census / d36-exceptAll class fixed in r12 changes 1 and 7).

Method: parse the tree sketch of ``explain("formatted")`` (indentation
via ``+-``/``:-`` branch glyphs), strip expression/plan ids, hash every
subtree bottom-up, and report subtrees of size >= ``--min-nodes`` that
appear 2+ times AND contain an expensive operator.  Scan-only duplicate
subtrees (a self-join reading its input twice) are structural and are
not reported unless they contain an expensive node.

Usage: python tools/audit_dup_subtrees.py [outfile] [only,names]
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402

EXPENSIVE = re.compile(
    r"Exchange|HashAggregate|SortAggregate|ObjectHashAggregate|SortMergeJoin"
    r"|BroadcastHashJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct"
    r"|Window|ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas"
)
MIN_NODES_DEFAULT = 2


def parse_tree(sketch: str):
    """Return list of (depth, label) from a formatted-plan tree sketch."""
    nodes = []
    for ln in sketch.splitlines():
        if not ln.strip():
            break
        # node text starts after the last branch glyph; depth = glyph count
        m = re.match(r"^((?:[:+\|]?[- ]{2,3}|\s{3})*)[*]?\s*(\S.*)$", ln)
        if not m:
            continue
        prefix, label = m.groups()
        depth = len(prefix) // 3
        # strip plan ids "(12)", expr ids "#34L", codegen stars
        label = re.sub(r"\(\d+\)", "", label)
        label = re.sub(r"#\d+[A-Za-z]*", "#x", label)
        label = re.sub(r"plan_id=\d+", "plan_id=x", label)
        nodes.append((depth, label.strip()))
    return nodes


CACHED = re.compile(r"InMemoryRelation|InMemoryTableScan|TableCacheQueryStage")


def subtree_hashes(nodes):
    """Bottom-up subtree hashes. Returns list of (hash, start, end, text,
    expensive_ops) where expensive_ops excludes anything nested below a
    cached relation (those execute once, on first materialization)."""
    out = []
    n = len(nodes)
    # mark nodes living below a cached relation anywhere in the full tree:
    # their subtrees execute once (cache build), duplicates are free
    under_cache = [False] * n
    stack: list[int] = []  # depths of active cached ancestors
    for i, (d, label) in enumerate(nodes):
        while stack and d <= stack[-1]:
            stack.pop()
        under_cache[i] = bool(stack)
        if CACHED.search(label):
            stack.append(d)
    for i, (d, label) in enumerate(nodes):
        if under_cache[i]:
            continue
        j = i + 1
        while j < n and nodes[j][0] > d:
            j += 1
        sub = nodes[i:j]
        rel = "\n".join(f"{dd - d}|{ll}" for dd, ll in sub)
        h = hashlib.md5(rel.encode()).hexdigest()[:12]
        # expensive ops, pruning at cached relations: skip nodes whose
        # ancestor chain (within the subtree) crosses a CACHED node
        ops = set()
        cache_depth = None
        for dd, ll in sub:
            if cache_depth is not None and dd > cache_depth:
                continue
            cache_depth = None
            if CACHED.search(ll):
                cache_depth = dd
                continue
            m = EXPENSIVE.search(ll)
            if m:
                ops.add(m.group(0))
        out.append((h, i, j, rel, sorted(ops)))
    return out


def audit(plan: str, min_nodes: int):
    # tree sketch = everything before the first blank line
    sketch = plan.split("\n\n", 1)[0]
    nodes = parse_tree(sketch)
    subs = subtree_hashes(nodes)
    seen: dict[str, list] = {}
    for h, i, j, text, ops in subs:
        if j - i < min_nodes:
            continue
        seen.setdefault(h, []).append((i, j, text, ops))
    dups = []
    covered: list[tuple[int, int]] = []
    # report only MAXIMAL duplicated subtrees: largest first; skip any whose
    # every occurrence lies inside an already-reported occurrence span
    for h, occ in sorted(seen.items(), key=lambda kv: -(kv[1][0][1] - kv[1][0][0])):
        if len(occ) < 2:
            continue
        i0, j0, body, ops = occ[0]
        if not ops:
            continue
        if all(any(ci <= i < j <= cj for ci, cj in covered) for i, j, _, _ in occ):
            continue
        covered.extend((i, j) for i, j, _, _ in occ)
        first_line = body.splitlines()[0].split("|", 1)[1][:100]
        dups.append({
            "count": len(occ),
            "n_nodes": j0 - i0,
            "root": first_line,
            "ops": ops,
        })
    return dups


def main() -> None:
    outfile = sys.argv[1] if len(sys.argv) > 1 else "/tmp/dup_subtree_audit.jsonl"
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    min_nodes = int(os.environ.get("DUP_MIN_NODES", MIN_NODES_DEFAULT))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    from tidierdb_jl_spark import get_spark

    spark = get_spark(app="dup-subtree-audit")
    qs = entry_mod.queries()
    names = [n for n in qs if not only or n in only]
    n_flagged = 0
    with open(outfile, "w") as fh:
        for i, name in enumerate(names):
            t0 = time.time()
            try:
                df = qs[name](spark, sf_dir)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                dups = audit(plan, min_nodes)
                rec = {"query": name, "dups": dups, "build_s": round(time.time() - t0, 2)}
                if dups:
                    n_flagged += 1
            except Exception as exc:  # noqa: BLE001 — report, keep going
                rec = {"query": name, "err": f"{type(exc).__name__}: {exc}"[:300]}
            fh.write(json.dumps(rec) + "\n")
            fh.flush()
            if rec.get("dups") or rec.get("err"):
                print(f"[{i+1}/{len(names)}] {name}: {json.dumps(rec.get('dups') or rec.get('err'))[:400]}", file=sys.stderr)
            else:
                print(f"[{i+1}/{len(names)}] {name}: clean", file=sys.stderr)
    print(f"wrote {outfile}; {n_flagged}/{len(names)} queries with duplicated expensive subtrees")


if __name__ == "__main__":
    main()
