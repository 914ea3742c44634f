"""Interleaved A/B bench: the working tree vs a git ref.

Both r9's only watch item and r10's entire +12% bench uptick turned out
to be HOST DRIFT, and each cost a verdict round-trip of diagnosis.  The
fix that settled d35 in r10 was an interleaved A/B — alternate runs of
the two trees within the same minutes-long window so host load affects
both equally — which this tool packages:

    python tools/bench_ab.py <git-ref> [--queries q1,q2] [--reps 4]

It materializes ``<git-ref>`` in a temporary ``git worktree``, then for
each rep runs ``bench.py`` ONCE per tree in alternating order (each in
its own subprocess → own JVM → no cross-contamination), parses each
run's JSON line, and reports per-query min/median for both trees plus
the HEAD/ref ratio.  A ratio ≈1 on a query whose code changed says
"host, not code"; a reproducible ratio >1 localizes a real regression.

Query subsetting uses ``SPARK_GRAFT_BENCH_QUERIES`` (bench.py r11);
older refs without that support simply run their full headline set —
slower, still comparable on the intersection.

Run-count per invocation is 2 x reps JVM startups — this is an
on-demand diagnostic, not a per-round gate.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_bench(tree: str, queries: str | None, env_extra: dict,
               runs: int = 1) -> dict:
    """One bench.py subprocess in ``tree``; returns the parsed JSON
    payload (the last line that parses as a JSON object)."""
    env = dict(os.environ)
    env["SPARK_GRAFT_BENCH_RUNS"] = str(runs)
    if queries:
        env["SPARK_GRAFT_BENCH_QUERIES"] = queries
    env.update(env_extra)
    proc = subprocess.run(
        [sys.executable, os.path.join(tree, "bench.py")],
        cwd=tree, env=env, capture_output=True, text=True, timeout=3600,
    )
    if proc.returncode != 0:
        raise RuntimeError(
            f"bench.py failed in {tree} (rc={proc.returncode}):\n"
            + proc.stderr[-2000:]
        )
    for line in reversed(proc.stdout.splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                return json.loads(line)
            except json.JSONDecodeError:
                continue
    raise RuntimeError(f"no JSON line in bench.py stdout from {tree}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("ref", help="git ref to compare HEAD's tree against")
    ap.add_argument("--queries", default=None,
                    help="comma-separated query subset (bench.py r11+)")
    ap.add_argument("--reps", type=int, default=4)
    ap.add_argument("--runs", type=int, default=None,
                    help="SPARK_GRAFT_BENCH_RUNS per invocation: 1 = "
                         "first-run cost (startup-dominated), 5 = bench.py's "
                         "steady-state median — use 5 when the question is "
                         "per-query execution time rather than plan overhead "
                         "(default: 1 at sf0.1, 3 at any other "
                         "SPARK_GRAFT_SF_DIR)")
    args = ap.parse_args()
    if args.runs is None:
        # beyond sf0.1 a single first run mixes cold-cache I/O into the
        # number; three runs give bench.py a median to report
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "sf0.1")  # bench.py's default
        args.runs = 1 if sf_dir.rstrip("/").rsplit("sf", 1)[-1] == "0.1" else 3

    with tempfile.TemporaryDirectory(prefix="bench_ab_") as tmp:
        ref_tree = os.path.join(tmp, "ref")
        subprocess.run(
            ["git", "worktree", "add", "--detach", ref_tree, args.ref],
            cwd=REPO, check=True, capture_output=True,
        )
        try:
            samples: dict[str, dict[str, list[float]]] = {}
            calib: dict[str, list[float]] = {"HEAD": [], args.ref: []}
            trees = [("HEAD", REPO), (args.ref, ref_tree)]
            for rep in range(args.reps):
                # alternate which tree goes first each rep so slow-start
                # host effects don't consistently hit one side
                order = trees if rep % 2 == 0 else trees[::-1]
                for label, tree in order:
                    payload = _run_bench(tree, args.queries, {}, args.runs)
                    if "calibration" in payload:
                        calib[label].append(payload["calibration"])
                    for q, s in (payload.get("queries") or {}).items():
                        samples.setdefault(q, {}).setdefault(
                            label, []).append(s)
                    print(f"# rep {rep + 1}/{args.reps} {label}: "
                          f"total {payload.get('value')}s",
                          file=sys.stderr, flush=True)
        finally:
            subprocess.run(["git", "worktree", "remove", "--force",
                            ref_tree], cwd=REPO, capture_output=True)

    print(f"\nInterleaved A/B, {args.reps} reps each "
          f"(min / median per tree):\n")
    print(f"| query | HEAD | {args.ref} | ratio (HEAD/ref, median) |")
    print("|---|---|---|---|")
    for q in sorted(samples):
        both = samples[q]
        if len(both) < 2:
            continue
        h, r = both["HEAD"], both[args.ref]
        mh, mr = statistics.median(h), statistics.median(r)
        print(f"| {q} | {min(h):.3f} / {mh:.3f} "
              f"| {min(r):.3f} / {mr:.3f} | {mh / mr:.2f}x |")
    for label, vals in calib.items():
        if vals:
            print(f"# calibration {label}: min {min(vals):.3f}s "
                  f"median {statistics.median(vals):.3f}s")


if __name__ == "__main__":
    main()
