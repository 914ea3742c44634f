"""The benchmark's workloads and the measurement loop they share.

One closed-loop client issues one operation at a time.  A run is: input
preparation (a child process, not timed), set-up (session start, table or
state registration, one warm-up round), then rounds until ``--seconds``
have passed, then the correctness checks.  A round is one pass over the
query set (query workloads) or one ingest batch (``corpus_ingest``).

With ``--trace 1`` rounds alternate untraced and traced.  Traced rounds
record spans around every call into the engine and read Spark's status
stores after the round, so every per-layer number comes from a traced
round and the untraced rounds of the same run give the tracing overhead.
"""

from __future__ import annotations

import math
import os
import pickle
import random
import statistics
import sys
import time
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from env import ROOT, Engine, cpu_ticks, host_facts
from probes import (
    PY_METRICS,
    Py4jCounter,
    StatusReader,
    digest_frame,
    parse_metric,
    plan_phases,
    plan_shape,
)
from spans import Tracer, union_ms

# workload -> scale factor of the data tools/gen_sf.py generates for it
WORKLOADS = {"interactive_sf001": 0.01, "corpus_ingest": 0.1}

DEDUP_BUCKETS = 4
DEDUP_EXPECTED = 10_000  # twice the sf0.1 corpus: the bloom is sized for the state's lifetime
VEC_NLIST = 16
VEC_K = 10
VEC_NPROBE = 4

# Host-speed probe after every untraced operation of the window (see
# ``Engine.probe``).  On a shared host the speed a run gets drifts by a
# third over minutes, and that drift moves every timing of a run together;
# dividing by the run's median probe time takes it out.  PROBE_REF_S is
# the probe's median on an idle 4-core host, so normalized times read as
# seconds there.
PROBE_ROWS = 20_000_000
PROBE_REF_S = 0.1

EXEC_FIELDS = {  # exec.* metric -> status-store stage field
    "run_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
    "task_failures": "numFailedTasks",
}


def query_names(workload: str) -> list[str]:
    """The query set of a query workload: ``bench.py``'s headline queries."""
    if workload != "interactive_sf001":
        return []
    sys.path.insert(0, ROOT)
    import bench

    return list(bench.HEADLINE)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def arrow_to_pandas(tbl: pa.Table):
    """``DataFrame.toPandas()``'s shape from an Arrow result: the session
    time zone is UTC, so zoned timestamps become naive UTC wall times."""
    cols = []
    for field, col in zip(tbl.schema, tbl.columns):
        if pa.types.is_timestamp(field.type) and field.type.tz is not None:
            col = col.cast(pa.timestamp(field.type.unit))
        cols.append(col)
    return pa.table(cols, names=tbl.column_names).to_pandas()


class Workload:
    """Set-up, the round loop, tracing and the result line."""

    warmup_rounds = 1  # rounds run untimed as part of set-up

    def __init__(self, args, sandbox) -> None:
        self.args = args
        self.sandbox = sandbox
        self.data = os.path.join(sandbox.inputs, "data")
        with open(os.path.join(sandbox.inputs, "expected.pickle"), "rb") as fh:
            self.expected = pickle.load(fh)  # written by inputs.py in this run
        self.rng = random.Random(args.seed)
        self.tracer = Tracer()
        self.layers: dict[str, float] = defaultdict(float)  # sums over traced rounds
        self.fixed: dict[str, float] = {}  # measured once per run
        self.by_family: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        self.rounds: list[dict] = []  # {"traced", "wall_s", "ops": [(kind, s)]}
        self.attempted = 0
        self.failures: list[str] = []
        self.probes: list[float] = []
        self.probing = False
        self.engine: Engine | None = None
        self.reader: StatusReader | None = None
        self.report: dict = {}

    # -- hooks ---------------------------------------------------------------

    def register(self) -> None:
        raise NotImplementedError

    def round(self, index: int, traced: bool, parent: int | None) -> bool:
        """Run round ``index``; return False when there is nothing left."""
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def extras(self) -> None:
        """Traced-run measurements outside the rounds."""

    # -- shared machinery ------------------------------------------------------

    @property
    def spark(self):
        return self.engine.spark

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"# FAIL {what}", file=sys.stderr)

    def timed_call(self, fn):
        """``fn()`` with its latency; an exception is a failed operation."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as exc:  # a failing operation is counted, not fatal
            out = exc
        latency = time.perf_counter() - t0
        if self.probing:
            self.probes.append(self.engine.probe(PROBE_ROWS))
        return out, latency

    def run(self) -> dict:
        args = self.args
        t_setup = time.perf_counter()
        with self.tracer.span("setup") as setup:
            with self.tracer.span("session.start", setup):
                self.engine = Engine(self.sandbox)
            try:
                with self.tracer.span("session.register", setup):
                    self.register()
                with self.tracer.span("session.warmup", setup) as warm:
                    for index in range(self.warmup_rounds):
                        self.round(index, False, warm)
            except BaseException:
                self.engine.close()
                raise
        setup_s = time.perf_counter() - t_setup
        for _ in range(3):
            self.engine.probe(PROBE_ROWS)  # compile the probe's plan
        for span in self.tracer.spans:
            if span["name"].startswith("session."):
                self.fixed[f"{span['name']}_ms"] = span["end"] - span["start"]
        try:
            if args.trace:
                self.reader = StatusReader(self.spark)
            t_window = time.perf_counter()
            ticks0 = cpu_ticks()
            with self.tracer.span("window") as window:
                n = 0
                while True:
                    traced = bool(args.trace) and n % 2 == 1
                    self.probing = not traced
                    if not self.round(self.warmup_rounds + n, traced, window):
                        break
                    n += 1
                    enough = time.perf_counter() - t_window >= args.seconds
                    if enough and (not args.trace or n >= 2):
                        break
                self.probing = False
            peak_rss = self.engine.peak_rss_bytes()
            ticks = {k: v - ticks0[k] for k, v in cpu_ticks().items()}
            # share of the host's CPU time during the window that the
            # hypervisor gave to other guests, and that sat idle
            self.report["window_cpu"] = {
                k: ticks[k] / max(1, sum(ticks.values())) for k in ("steal", "idle")}
            t_window_end = time.perf_counter()
            if args.trace:
                self.extras()
                self.report["calibration_s"] = self.engine.calibrate()
            t_checks = time.perf_counter()
            self.check()
            t_close = time.perf_counter()
        finally:
            self.engine.close()
        self.report["phase_s"] = {
            "setup": setup_s, "window": t_window_end - t_window,
            "extras": t_checks - t_window_end, "checks": t_close - t_checks,
            "close": time.perf_counter() - t_close,
        }
        return self.summarize(setup_s, peak_rss)

    def summarize(self, setup_s: float, peak_rss: int) -> dict:
        window = self.rounds[self.warmup_rounds:]
        measured = [r for r in window if not r["traced"]]
        traced = [r for r in window if r["traced"]]
        ops = [s for r in measured for _, s in r["ops"]]
        by_kind: dict[str, list[float]] = defaultdict(list)
        for r in measured:
            for kind, s in r["ops"]:
                by_kind[kind].append(s)
        # a round's time is its operations' time, without the probes
        pass_s = statistics.median(sum(s for _, s in r["ops"]) for r in measured)
        op_s_geomean = math.exp(statistics.fmean(
            math.log(statistics.median(v)) for v in by_kind.values()))
        probe_s = statistics.median(self.probes)
        norm = PROBE_REF_S / probe_s
        end_to_end = {
            "setup_s": (setup_s, "s"),
            "pass_norm_s": (pass_s * norm, "s"),
            "op_norm_s_geomean": (op_s_geomean * norm, "s"),
            "pass_s": (pass_s, "s"),
            "op_s_geomean": (op_s_geomean, "s"),
            "op_s_p50": (quantile(ops, 0.5), "s"),
            "op_s_p90": (quantile(ops, 0.9), "s"),
            "probe_s": (probe_s, "s"),
            "peak_rss_mb": (peak_rss / 2**20, "MB"),
        }
        self.report.update({
            "rounds": self.rounds,
            "op_samples": len(ops),
            "probes_s": self.probes,
            "error_rate": len(self.failures) / max(1, self.attempted),
            "failures": self.failures,
            "host": host_facts(),
        })
        if not traced:
            return {"end_to_end": end_to_end, "per_layer": {}}
        per_layer = {k: v / len(traced) for k, v in self.layers.items()}
        per_layer.update(self.fixed)
        self.report["per_layer_by_family"] = {
            fam: {k: v / len(traced) for k, v in layers.items()}
            for fam, layers in self.by_family.items()
        }
        if per_layer.get("exec.wall_ms"):
            per_layer["exec.slot_idle_ratio"] = 1.0 - per_layer["exec.run_ms"] / (
                per_layer["exec.wall_ms"] * self.engine.cores)
        traced_wall = statistics.median(sum(s for _, s in r["ops"]) for r in traced)
        per_layer["trace.overhead_ms"] = (traced_wall - end_to_end["pass_s"][0]) * 1000
        self.report["trace"] = {
            "traced_pass_s": traced_wall,
            "untraced_pass_s": end_to_end["pass_s"][0],
            "self_ms_by_layer": self.tracer.self_by_name(),
        }
        return {"end_to_end": end_to_end, "per_layer": per_layer}

    # -- traced operations -------------------------------------------------------

    def traced_query(self, key: str, build, parent: int, item: dict):
        """build -> plan -> Arrow action, each in its own span.  ``item``
        collects what ``finish_traced`` reads back after the round."""
        sc = self.spark.sparkContext
        counter = Py4jCounter(self.spark)
        try:
            sc.setJobGroup(key, key)
            with self.tracer.span("query", parent, trace=key) as q:
                with self.tracer.span("build", q, trace=key) as b:
                    counter.active = True
                    try:
                        df = build()
                    finally:
                        counter.active = False
                with self.tracer.span("plan", q, trace=key) as p:
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
                with self.tracer.span("action", q, trace=key) as a:
                    tbl = df.toArrow()
        finally:
            counter.close()
        item.update(key=key, query=q, phases=[b, p, a], df=df, qe=qe,
                    py4j=counter.count, rows=tbl.num_rows, bytes=tbl.nbytes)
        return tbl

    def finish_traced(self, items: list[dict]) -> None:
        """Read the status stores for a traced round: hang every job and
        stage under the span it ran in, and add each item's layer numbers.
        Items carry ``key`` (job group) and ``phases`` (span ids); query
        items also carry ``df``/``qe``/``py4j``/``rows``/``bytes``."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        keys = {it["key"] for it in items}
        jobs_by_key: dict[str, list[dict]] = defaultdict(list)
        for job in self.reader.jobs():
            if job.get("jobGroup") in keys:
                jobs_by_key[job["jobGroup"]].append(job)
        attempts = defaultdict(list)
        for (sid, _), st in self.reader.stages().items():
            attempts[sid].append(st)
        execs = self.reader.new_executions()
        for it in items:
            L: dict[str, float] = defaultdict(float)
            start = self.tracer.spans[it["phases"][0]]["start"]
            jobs = sorted(jobs_by_key[it["key"]], key=lambda j: j["jobId"])
            it["job_ids"] = {j["jobId"] for j in jobs}
            seen_stages = set()
            intervals = []
            for job in jobs:
                sub = job["submissionTime"]
                end = job.get("completionTime") or sub
                intervals.append((sub, end))
                jspan = self.tracer.add(
                    "job", sub, end, self.tracer.enclosing(it["phases"], sub),
                    trace=it["key"], job=job["jobId"])
                for sid in job["stageIds"]:
                    for st in attempts.get(sid, []):
                        key = (sid, st["attemptId"])
                        ssub = st.get("submissionTime")
                        if (key in seen_stages or st["status"] == "SKIPPED"
                                or ssub is None or ssub < start - 1):
                            continue
                        seen_stages.add(key)
                        self.tracer.add("stage", ssub, st.get("completionTime") or ssub,
                                        jspan, trace=it["key"], stage=sid)
                        L["exec.stages"] += 1
                        L["exec.tasks"] += (st["numCompleteTasks"] + st["numFailedTasks"]
                                            + st["numKilledTasks"])
                        L["exec.cpu_ms"] += st["executorCpuTime"] / 1e6
                        for metric, field in EXEC_FIELDS.items():
                            L[f"exec.{metric}"] += st[field]
            L["exec.jobs"] += len(jobs)
            L["exec.wall_ms"] += union_ms(intervals)
            it["execs"] = [e for e in execs
                           if it["job_ids"] & {int(j) for j in e["jobs"]}]
            for e in it["execs"]:
                seen_acc = set()
                for m in e["metrics"]:
                    acc = m["accumulatorId"]
                    text = e["metricValues"].get(str(acc)) if e.get("metricValues") else None
                    if m["name"] in PY_METRICS and acc not in seen_acc and text:
                        seen_acc.add(acc)
                        L[f"python.{PY_METRICS[m['name']]}"] += parse_metric(text)
            if "qe" in it:
                self._query_layers(it, jobs, L)
            family = self.family(it["key"])
            for k, v in L.items():
                self.layers[k] += v
                self.by_family[family][k] += v

    def family(self, key: str) -> str:
        """The group a traced item's layer numbers are also summed under."""
        return key.split(":", 1)[1]

    def _query_layers(self, it: dict, jobs: list[dict], L: dict) -> None:
        build, plan, action = (self.tracer.spans[s] for s in it["phases"])
        query = self.tracer.spans[it["query"]]
        L["build.ms"] += build["end"] - build["start"]
        L["build.py4j_calls"] += it["py4j"]
        for k, v in plan_phases(it["qe"]).items():
            L[f"plan.{k}"] += v
        for k, v in plan_shape(it["qe"]).items():
            L[f"plan.{k}"] += v
        in_action = [j.get("completionTime") or 0 for j in jobs
                     if j["submissionTime"] >= action["start"] - 1]
        last_job_end = max(in_action, default=action["start"])
        L["fetch.ms"] += max(0.0, action["end"] - max(last_job_end, action["start"]))
        L["fetch.rows"] += it["rows"]
        L["fetch.bytes"] += it["bytes"]
        covered = sum(s["end"] - s["start"] for s in (build, plan, action))
        coverage = covered / max(query["end"] - query["start"], 1e-9)
        self.fixed["trace.coverage_min"] = min(self.fixed.get("trace.coverage_min", 1.0), coverage)
        self.report.setdefault("py4j_by_query", {}).setdefault(
            it["key"].split(":", 1)[1], []).append(it["py4j"])
        del it["df"], it["qe"]


class QueryWorkload(Workload):
    """A fixed query set, each query built with the public API and its
    result collected to the driver as Arrow, checked against DuckDB."""

    def __init__(self, args, sandbox) -> None:
        super().__init__(args, sandbox)
        self.names = query_names(args.workload)
        self.results: list[tuple[str, object]] = []
        if args.corrupt:  # a deliberately wrong reference must be caught
            cols, rows = self.expected[self.names[0]]
            self.expected[self.names[0]] = (cols, rows[1:])

    def family(self, key: str) -> str:
        return "relational" if key.split(":", 1)[1][0] in "qe" else "llm"

    def register(self) -> None:
        sys.path.insert(0, ROOT)
        import __spark_entry__ as entry_mod

        self.queries = entry_mod.queries()
        for tf in entry_mod._tables(self.spark, self.data).values():
            if tf.df.is_cached:
                tf.df.count()  # fill the cache as part of registration

    def round(self, index: int, traced: bool, parent: int | None) -> bool:
        order = list(self.names)
        self.rng.shuffle(order)
        items = []
        ops = []
        t0 = time.perf_counter()
        with self.tracer.span("pass", parent, round=index, traced=traced) as pspan:
            for name in order:
                build = (lambda n=name: self.queries[n](self.spark, self.data))
                if traced:
                    item = {}
                    out, s = self.timed_call(lambda: self.traced_query(
                        f"r{index}:{name}", build, pspan, item))
                    if "key" in item:
                        items.append(item)
                else:
                    out, s = self.timed_call(lambda: build().toArrow())
                ops.append((name, s))
                self.results.append((name, out))
        self.rounds.append({"traced": traced, "wall_s": time.perf_counter() - t0, "ops": ops})
        if traced:
            self.finish_traced(items)
        return True

    def extras(self) -> None:
        """Once per query: ``bench.py``'s ``count()`` (which Catalyst may
        column-prune) and the all-column digest (which it cannot)."""
        actions = {
            "prune.count_ms": lambda df: df.count(),
            "prune.digest_ms": lambda df: digest_frame(df).collect(),
        }
        for layer, action in actions.items():
            t0 = time.perf_counter()
            for name in self.names:
                action(self.queries[name](self.spark, self.data))
            self.fixed[layer] = (time.perf_counter() - t0) * 1000
        # the same pass with the Arrow collect, untraced
        first = self.rounds[self.warmup_rounds]
        self.fixed["prune.collect_ms"] = 1000 * sum(s for _, s in first["ops"])

    def check(self) -> None:
        sys.path.insert(0, os.path.join(ROOT, "tests"))
        from helpers import canonical_rows

        verified: dict[str, pa.Table] = {}
        for name, out in self.results:
            if isinstance(out, Exception):
                self.fail(f"{name}: {type(out).__name__}: {str(out)[:200]}")
            elif name in verified and out.equals(verified[name]):
                continue  # identical to a result that matched the oracle
            elif canonical_rows(arrow_to_pandas(out)) != self.expected[name]:
                self.fail(f"{name}: result differs from the DuckDB oracle")
            else:
                verified[name] = out


class IngestWorkload(Workload):
    """Batches of documents and embeddings: ``DedupState.ingest``, then
    ``VectorIndexState.add``, then ``VectorIndexState.query`` for a fixed
    query set, each batch reading back what it just wrote."""

    warmup_rounds = 2

    def __init__(self, args, sandbox) -> None:
        super().__init__(args, sandbox)
        self.batches = os.path.join(sandbox.inputs, "batches")
        self.n_batches = len(self.expected["kept"])
        self.kept: list[object] = []
        self.found: list[object] = []
        self.docs_in = 0
        if args.corrupt:
            self.expected["kept"][0] = self.expected["kept"][0][1:]

    def register(self) -> None:
        from tidierdb_jl_spark.core import TidyFrame
        from tidierdb_jl_spark.llm.dedupstate import DedupState
        from tidierdb_jl_spark.llm.vectorindex import VectorIndexState

        self.TidyFrame = TidyFrame
        self.dedup_path = os.path.join(self.sandbox.state, "dedup")
        self.vec_path = os.path.join(self.sandbox.state, "vectors")
        self.dedup = DedupState.create(
            self.spark, self.dedup_path, n_buckets=DEDUP_BUCKETS, expected_items=DEDUP_EXPECTED)
        self.vec = VectorIndexState.create(self.spark, self.vec_path, nlist=VEC_NLIST)
        emb = pq.read_table(os.path.join(self.data, "embeddings.parquet"))
        ids = pa.array(self.expected["query_ids"], pa.int64())
        qv = emb.filter(pc.is_in(emb.column("vec_id"), ids)).select(["vec_id", "embedding"])
        self.query_vecs = qv.to_pandas()
        self.query_tf = TidyFrame(self.spark.createDataFrame(self.query_vecs))

    def _state_files(self) -> tuple[int, int]:
        files = size = 0
        for path in (self.dedup_path, self.vec_path):
            for dirpath, _, names in os.walk(path):
                for n in names:
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, n))
        return files, size

    def round(self, index: int, traced: bool, parent: int | None) -> bool:
        if index >= self.n_batches:
            return False
        read = self.spark.read.parquet
        docs = os.path.join(self.batches, f"docs_{index}.parquet")
        emb = os.path.join(self.batches, f"emb_{index}.parquet")
        n_docs = pq.read_metadata(docs).num_rows
        ops = []
        items = []
        files0, bytes0 = self._state_files() if traced else (0, 0)
        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        with self.tracer.span("batch", parent, round=index, traced=traced) as bspan:
            def ingest():
                kept = self.dedup.ingest(self.TidyFrame(read(docs)), "doc_id")
                return kept.df.select("doc_id").toArrow()

            def add():
                return self.vec.add(self.TidyFrame(read(emb)))

            def search_build():
                return self.vec.query(self.query_tf, k=VEC_K, nprobe=VEC_NPROBE).df

            for kind, fn in (("ingest", ingest), ("add", add)):
                if traced:
                    key = f"b{index}:{kind}"
                    sc.setJobGroup(key, key)
                    with self.tracer.span(f"state.{kind}", bspan, trace=key) as sid:
                        out, s = self.timed_call(fn)
                    items.append({"key": key, "phases": [sid], "kind": kind})
                else:
                    out, s = self.timed_call(fn)
                ops.append((kind, s))
                if kind == "ingest":
                    self.kept.append((index, out))
            if traced:
                item = {"kind": "query"}
                out, s = self.timed_call(lambda: self.traced_query(
                    f"b{index}:query", search_build, bspan, item))
                if "key" in item:
                    items.append(item)
            else:
                out, s = self.timed_call(lambda: search_build().toArrow())
            ops.append(("query", s))
            self.found.append((index, out))
        self.rounds.append({"traced": traced, "wall_s": time.perf_counter() - t0, "ops": ops})
        self.docs_in += n_docs
        if traced:
            self._state_layers(index, ops, items, n_docs, files0, bytes0)
        return True

    def _state_layers(self, index, ops, items, n_docs, files0, bytes0) -> None:
        self.finish_traced(items)
        L = self.layers
        lat = dict(ops)
        L["state.dedup_ingest_ms"] += lat["ingest"] * 1000
        L["state.vec_add_ms"] += lat["add"] * 1000
        L["state.vec_query_ms"] += lat["query"] * 1000
        L["state.rows_in"] += n_docs
        kept = self.kept[-1][1]
        L["state.rows_kept"] += kept.num_rows if isinstance(kept, pa.Table) else 0
        L["state.docs_per_s"] += n_docs / lat["ingest"]
        L["state.jobs"] += sum(len(it["job_ids"]) for it in items)
        files1, bytes1 = self._state_files()
        L["state.files_written"] += files1 - files0
        L["state.bytes_written"] += bytes1 - bytes0
        L["state.bytes_per_doc"] += bytes1 / self.docs_in
        state_dirs = (self.dedup_path, self.vec_path)
        for it in items:
            for e in it["execs"]:
                graph = self.reader.plan_graph(e["executionId"])
                values = e.get("metricValues") or {}
                stack = list(graph["nodes"])
                while stack:
                    node = stack.pop()
                    stack.extend(node.get("nodes", []))
                    if not node["name"].startswith("Scan") or not any(
                            d in node["desc"] for d in state_dirs):
                        continue
                    for m in node["metrics"]:
                        text = values.get(str(m["accumulatorId"]))
                        if text and m["name"] == "number of output rows":
                            L["state.rows_read"] += parse_metric(text)
                        elif text and m["name"] == "number of files read":
                            L["state.files_read"] += parse_metric(text)

    def check(self) -> None:
        for index, out in self.kept:
            if isinstance(out, Exception):
                self.fail(f"ingest batch {index}: {type(out).__name__}: {str(out)[:200]}")
            elif sorted(out.column("doc_id").to_pylist()) != self.expected["kept"][index]:
                self.fail(f"ingest batch {index}: kept rows differ from the replay oracle")
        centroids = self.vec._meta["centroids"]
        if centroids is None:
            self.fail("vector index has no centroids")
            return
        C = np.asarray(centroids, dtype=np.float64)
        C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
        ids, vecs = [], []
        for index, out in self.found:
            emb = pq.read_table(os.path.join(self.batches, f"emb_{index}.parquet"))
            ids.extend(emb.column("vec_id").to_pylist())
            vecs.extend(emb.column("embedding").to_pylist())
            if isinstance(out, Exception):
                self.fail(f"query batch {index}: {type(out).__name__}: {str(out)[:200]}")
            elif not self._search_matches(out, np.array(ids), np.array(vecs, dtype=np.float64), C):
                self.fail(f"query batch {index}: top-k differs from the IVF oracle")

    def _search_matches(self, out: pa.Table, ids, X, C) -> bool:
        """Replay IVF in numpy: cells by argmax cosine to the index's own
        centroids, probes = the ``nprobe`` nearest cells, exact top-k in
        the probed cells (self excluded, ties by ``vec_id``)."""
        U = X / np.linalg.norm(X, axis=1, keepdims=True)
        cells = np.argmax(U @ C.T, axis=1)
        got = defaultdict(list)
        for q, v, c in zip(*(out.column(n).to_pylist() for n in ("query_id", "vec_id", "cosine"))):
            got[q].append((v, c))
        for qid, qvec in zip(self.query_vecs["vec_id"], self.query_vecs["embedding"]):
            q = np.asarray(qvec, dtype=np.float64)
            q /= np.linalg.norm(q)
            probes = np.argsort(-(C @ q))[:VEC_NPROBE]
            mask = np.isin(cells, probes) & (ids != qid)
            cos = U[mask] @ q
            order = sorted(zip(-cos, ids[mask]))[:VEC_K]
            want = [(int(v), -c) for c, v in order]
            have = sorted(got.get(int(qid), []), key=lambda vc: (-vc[1], vc[0]))
            if [v for v, _ in have] != [v for v, _ in want]:
                return False
            if any(abs(a - b) > 1e-9 for (_, a), (_, b) in zip(have, want)):
                return False
        return True


def make(args, sandbox) -> Workload:
    cls = IngestWorkload if args.workload == "corpus_ingest" else QueryWorkload
    return cls(args, sandbox)
