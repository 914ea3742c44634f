#!/usr/bin/env python
"""Capture .explain("formatted") for the headline bench queries.

Usage: python tools/capture_plans.py <outdir> [suffix] [only,names]

Writes <outdir>/<query>_<suffix>.txt (suffix default "before").  Plans are
deterministic driver-side artifacts — safe to run while other Spark work
is in flight.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from bench import HEADLINE  # noqa: E402


def main() -> None:
    outdir = sys.argv[1] if len(sys.argv) > 1 else "plans/r12"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from tidierdb_jl_spark import get_spark

    spark = get_spark(app="plan-capture")
    qs = entry_mod.queries()
    names = [n for n in (sorted(only) if only else HEADLINE) if n in qs]
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
