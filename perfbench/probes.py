"""Read each layer's numbers from outside the engine.

- ``Py4jCounter``: driver -> JVM round trips made by a builder call.
- ``plan_phases`` / ``plan_shape``: Catalyst's own phase tracker and the
  final physical plan of one ``QueryExecution``.
- ``StatusReader``: Spark's job/stage status store and the SQL status store
  (both readable with the UI off), serialized to JSON on the JVM side so a
  read costs one round trip, not one per field.
"""

from __future__ import annotations

import json
import re
import threading

# py4j's "memory delete" command: the finalizer thread sends one whenever
# Python garbage-collects a JVM object reference.  Its timing follows the
# Python GC, not the builder, so it is not counted.
_PY4J_GC_PREFIX = "m\nd\n"


class Py4jCounter:
    """Counts the py4j commands the calling thread sends while active."""

    def __init__(self, spark) -> None:
        self._client = spark.sparkContext._gateway._gateway_client
        self._send = self._client.send_command
        self._thread = threading.get_ident()
        self.active = False
        self.count = 0
        self._client.send_command = self._counting_send

    def _counting_send(self, command, *args, **kwargs):
        if (
            self.active
            and threading.get_ident() == self._thread
            and not command.startswith(_PY4J_GC_PREFIX)
        ):
            self.count += 1
        return self._send(command, *args, **kwargs)

    def close(self) -> None:
        del self._client.send_command  # back to the class method


def plan_phases(qe) -> dict:
    """Milliseconds Catalyst's tracker recorded per phase of ``qe``."""
    phases = qe.tracker().phases()
    out = {}
    for key, name in (
        ("analysis", "analysis_ms"),
        ("optimization", "optimizer_ms"),
        ("planning", "planning_ms"),
    ):
        summary = phases.get(key)
        out[name] = summary.get().durationMs() if summary.isDefined() else 0
    return out


# a physical operator line of a plan tree string: optional tree prefix,
# optional whole-stage-codegen marker, then the operator name
_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Z][A-Za-z]+)")
_SECTION = re.compile(r"==\s*(Final|Initial|Current) Plan\s*==")


def plan_shape(qe) -> dict:
    """Operator counts of the executed plan.  With adaptive execution the
    tree string shows both the final and the initial plan of every
    adaptive node; only the final sections are counted."""
    nodes = exchanges = python = 0
    keep = True
    for line in qe.executedPlan().treeString().splitlines():
        section = _SECTION.search(line)
        if section:
            keep = section.group(1) != "Initial"
            continue
        m = _NODE.match(line)
        if not keep or not m:
            continue
        name = m.group(1)
        if name in ("AdaptiveSparkPlan", "ResultQueryStage") or name.endswith("QueryStage"):
            continue
        nodes += 1
        if name.endswith("Exchange") or name == "Exchange":
            exchanges += 1
        if "Python" in name or "InPandas" in name or "InArrow" in name:
            python += 1
    return {"nodes": nodes, "exchanges": exchanges, "python_nodes": python}


def digest_frame(df):
    """One order-insensitive, duplicate-preserving digest of every column:
    the sum of per-row ``xxhash64`` as DECIMAL(38,0), so it cannot overflow
    under ANSI and duplicate rows do not cancel.  Reads every column, so
    Catalyst cannot prune any."""
    from pyspark.sql import functions as F

    return df.select(
        F.sum(F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]).cast("decimal(38,0)"))
    )


PY_METRICS = {
    "time to run Python workers": "run_ms",
    "time to initialize Python workers": "init_ms",
    "time to start Python workers": "start_ms",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
}

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
}


def parse_metric(text: str) -> float:
    """The total of a SQL metric as the status store formats it: ``"1,234"``,
    ``"2.0 s"``, ``"12.3 KiB"`` or ``"total (min, med, max ...)\\n<total> (...)"``."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    parts = text.replace(",", "").split()
    value = float(parts[0])
    return value * _UNITS[parts[1]] if len(parts) > 1 else value


class StatusReader:
    """Jobs, stages and SQL executions from Spark's status stores."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gateway = sc._gateway
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(
            self._jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        ).__getattr__("MODULE$")
        self._mapper.registerModule(scala_module)
        self._accumulators = self._jvm.org.apache.spark.util.AccumulatorContext
        self._seen_execs = int(self._sql.executionsCount())
        self._last_value: dict[int, float] = {}

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def stages(self) -> dict:
        """Stage attempts keyed by ``(stageId, attemptId)``."""
        no_quantiles = self._gateway.new_array(self._jvm.double, 0)
        rows = self._json(self._store.stageList(None, False, False, no_quantiles, None))
        return {(s["stageId"], s["attemptId"]): s for s in rows}

    def new_executions(self) -> list[dict]:
        """SQL executions started since the previous call."""
        total = int(self._sql.executionsCount())
        if total <= self._seen_execs:
            return []
        rows = self._json(self._sql.executionsList(self._seen_execs, total - self._seen_execs))
        self._seen_execs = total
        return rows

    def plan_graph(self, execution_id: int) -> dict:
        return self._json(self._sql.planGraph(execution_id))

    def metric_delta(self, accumulator_id: int, text: str | None) -> float:
        """Growth of one SQL metric since it was last read.  The live
        accumulator gives the exact value; once the JVM has dropped it, the
        store's formatted total is parsed instead."""
        acc = self._accumulators.get(accumulator_id)
        if acc.isDefined():
            value = float(acc.get().value())
        elif text is not None:
            value = parse_metric(text)
        else:
            return 0.0
        delta = value - self._last_value.get(accumulator_id, 0.0)
        self._last_value[accumulator_id] = value
        return max(delta, 0.0)
