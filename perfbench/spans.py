"""Span tracing for the traced benchmark run.

Spans are recorded from the benchmark's side only: :meth:`Tracer.wrap`
replaces a public function of a ``py_etl_spark`` module by a wrapper that
opens a span around each call, and every other name bound to the same
function object (``from ... import f`` re-bindings, for example in
``py_etl_spark.queries`` or ``py_etl_spark.streaming.stream``) is rebound
to the same wrapper. Nothing inside the package is edited.

Each span records its name, start, end, parent span and counters (driver
jobs launched while it was open, Catalyst readings). Spans stay in memory
and are written out once, when the run ends. A layer's self time is its
spans' durations minus the parts covered by their child spans.

The module also holds what both workloads share: the ``Result`` record a
workload hands back and the per-layer report over its operations.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
import urllib.request
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Result:
    """What a workload's ``run`` hands back to ``run.py``."""

    op_s: list[float]   # latency of each timed operation
    items: int          # work items those operations completed
    work_s: float       # wall time of the whole timed section
    attempted: int
    failed: int
    checked: bool       # the output checks ran and passed
    notes: dict         # workload facts for the stamp line
    layers: dict        # per-layer metrics (traced run only)


def jvm_alive() -> bool:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return gw is not None and gw.proc.poll() is None


def package_modules() -> list:
    """Every loaded ``py_etl_spark`` module: the places a wrapped
    function may be re-bound by ``from ... import``."""
    return [m for name, m in list(sys.modules.items())
            if name.split(".", 1)[0] == "py_etl_spark" and m is not None]


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "attrs")

    def __init__(self, sid: int, name: str, parent: int | None, start: float):
        self.id, self.name, self.parent, self.start = sid, name, parent, start
        self.end = start
        self.attrs: dict = {}

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "parent": self.parent,
                "start": self.start, "end": self.end, **self.attrs}


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    wraps nothing, so the untraced run pays no tracing cost."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []
        self.job_count = lambda: 0  # set once a SparkContext exists
        self.flush = lambda: None     # waits for pending plan readings

    # -- spans --------------------------------------------------------------

    def open(self, name: str) -> Span | None:
        if not self.enabled:
            return None
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, parent, time.perf_counter())
        sp.attrs["job_lo"] = self.job_count()
        self.spans.append(sp)
        self._stack.append(sp)
        return sp

    def close(self, sp: Span | None) -> None:
        if sp is None:
            return
        self.flush()
        sp.end = time.perf_counter()
        sp.attrs["job_hi"] = self.job_count()
        popped = self._stack.pop()
        assert popped is sp, f"span {sp.name} closed out of order"

    @contextlib.contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    # -- wrapping ------------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, rebind_in=()) -> None:
        """Trace calls to ``owner.attr`` as spans called ``name``. Names in
        the modules of ``rebind_in`` that are bound to the same object are
        rebound to the wrapper too."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            sp = tracer.open(name)
            try:
                return orig(*args, **kwargs)
            finally:
                tracer.close(sp)

        for target in (owner, *rebind_in):
            for key, val in list(vars(target).items()):
                if val is orig:
                    self._undo.append((target, key, val))
                    setattr(target, key, traced)

    def wrap_module(self, module, layer: str, rebind_in=()) -> None:
        """Trace every public function defined in ``module``."""
        for key, val in list(vars(module).items()):
            if (callable(val) and not key.startswith("_")
                    and getattr(val, "__module__", None) == module.__name__
                    and not isinstance(val, type)):
                self.wrap(module, key, f"{layer}.{key}", rebind_in)

    def unwrap(self) -> None:
        for target, key, val in reversed(self._undo):
            setattr(target, key, val)
        self._undo.clear()

    # -- reports -------------------------------------------------------------

    def self_costs(self) -> dict[int, tuple[float, int]]:
        """Span id -> (seconds, driver jobs) of the span minus those its
        child spans cover."""
        t, j = defaultdict(float), defaultdict(int)
        for sp in self.spans:
            if sp.parent is not None:
                t[sp.parent] += sp.end - sp.start
                j[sp.parent] += sp.attrs["job_hi"] - sp.attrs["job_lo"]
        return {
            sp.id: (sp.end - sp.start - t[sp.id],
                    sp.attrs["job_hi"] - sp.attrs["job_lo"] - j[sp.id])
            for sp in self.spans
        }

    def within(self, root: Span) -> list[Span]:
        """Spans nested (at any depth) under ``root``."""
        ids = {root.id}
        out = []
        for sp in self.spans[root.id + 1:]:
            if sp.parent in ids:
                ids.add(sp.id)
                out.append(sp)
        return out

    def dump(self, path: str, header: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**header, "spans": [s.as_dict() for s in self.spans]}, fh)


# -- Spark-side readers (traced run only) -------------------------------------


def job_counter(sc):
    """Number of jobs the SparkContext has started so far (job ids are
    dense and start at 0, so the highest id + 1)."""
    tracker = sc.statusTracker()

    def count() -> int:
        ids = tracker.getJobIdsForGroup(None)
        return (max(ids) + 1) if ids else 0

    return count


class PlanListener:
    """Catalyst phase times of every query Spark executes while tracing:
    collects, counts, checkpoints and write commands alike, the program's
    as well as the benchmark's. Spark calls ``onSuccess`` (through the py4j
    callback server) with the finished QueryExecution; its
    QueryPlanningTracker holds the analysis, optimization and planning
    times. Each reading is attached to the innermost span open when it
    arrives, and every span waits for the listener bus to drain before it
    closes, so a span's readings are those of the queries it ran."""

    def __init__(self, tracer: Tracer, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.tracer = tracer
        ensure_callback_server_started(spark.sparkContext._gateway)
        bus = spark.sparkContext._jsc.sc().listenerBus()
        tracer.flush = bus.waitUntilEmpty
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java API
        phases = qe.tracker().phases()
        reading = {
            ph: phases.apply(ph).durationMs() if phases.contains(ph) else 0
            for ph in ("analysis", "optimization", "planning")
        }
        reading["plan_nodes"] = qe.optimizedPlan().treeString().count("\n")
        reading["action"] = func_name
        stack = self.tracer._stack
        if stack:
            stack[-1].attrs.setdefault("catalyst", []).append(reading)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java API
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def rest_json(sc, path: str):
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def executor_totals(sc, job_ids: set[int], cores: int) -> dict:
    """Executor-side totals over the given jobs, from the monitoring REST
    API: wall time the jobs were running (union of their intervals), stage
    and task counts, task run time, shuffle, spill and GC."""
    from datetime import datetime

    def ts(s: str) -> float:
        return datetime.strptime(s.replace("GMT", "+0000"),
                                 "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()

    jobs = [j for j in rest_json(sc, "jobs") if j["jobId"] in job_ids]
    stage_ids = {s for j in jobs for s in j.get("stageIds", [])}
    stages = [s for s in rest_json(sc, "stages")
              if s["stageId"] in stage_ids and s["status"] == "COMPLETE"]
    spans = sorted(
        (ts(j["submissionTime"]), ts(j["completionTime"]))
        for j in jobs if j.get("submissionTime") and j.get("completionTime")
    )
    wall, cur = 0.0, None
    for a, b in spans:
        if cur is None or a > cur[1]:
            if cur:
                wall += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur:
        wall += cur[1] - cur[0]
    run_s = sum(s["executorRunTime"] for s in stages) / 1000.0
    mb = 1024.0 * 1024.0
    return {
        "exec_s": wall,
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["numCompleteTasks"] for s in stages),
        "task_run_s": run_s,
        "busy_frac": run_s / (wall * cores) if wall > 0 else 0.0,
        "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / mb,
        "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / mb,
        "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                        for s in stages) / mb,
        "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1000.0,
    }


MODULE_LAYERS = ("similarity", "dedup", "graph", "ranking", "fuzzy")


def layer_report(tracer: Tracer, ops: list[Span], sc, cores: int) -> dict:
    """Per-layer numbers over the timed operations ``ops``: each value is
    a mean per operation, except ``exec.busy_frac`` (a ratio of totals).
    Layers the operations never entered report 0."""
    n = max(len(ops), 1)
    costs = tracer.self_costs()
    out: dict[str, float] = {}
    spans = [sp for op in ops for sp in tracer.within(op)]

    def total(name: str) -> float:
        return sum(sp.end - sp.start for sp in spans if sp.name == name)

    builds = [sp for sp in spans if sp.name == "queries.build"]
    out["queries.build_s"] = sum(sp.end - sp.start for sp in builds) / n
    out["queries.build_jobs"] = sum(
        sp.attrs["job_hi"] - sp.attrs["job_lo"] for sp in builds) / n

    readings = [r for sp in [*ops, *spans] for r in sp.attrs.get("catalyst", [])]
    for ph in ("analysis", "optimization", "planning"):
        out[f"catalyst.{ph}_ms"] = sum(r[ph] for r in readings) / n
    out["catalyst.plan_nodes"] = sum(r["plan_nodes"] for r in readings) / n

    job_ids = {j for op in ops for j in range(op.attrs["job_lo"], op.attrs["job_hi"])}
    ex = executor_totals(sc, job_ids, cores)
    for k, v in ex.items():
        out[f"exec.{k}"] = v if k == "busy_frac" else v / n

    for layer in MODULE_LAYERS:
        mine = [sp for sp in spans if sp.name.split(".", 1)[0] == layer]
        out[f"{layer}.calls"] = len(mine) / n
        out[f"{layer}.self_s"] = sum(costs[sp.id][0] for sp in mine) / n
        out[f"{layer}.jobs"] = sum(costs[sp.id][1] for sp in mine) / n

    out["refsync.cdc_apply_build_s"] = total("refsync.cdc_apply") / n
    out["stream.process_batch_s"] = sum(
        op.end - op.start for op in ops if op.name == "stream.process_batch") / n
    children = ("state_store.read", "stream.prepare_batch",
                "refsync.cdc_apply", "state_store.commit")
    out["stream.statuses_collect_s"] = sum(
        (op.end - op.start) - sum(sp.end - sp.start for sp in spans
                                  if sp.parent == op.id and sp.name in children)
        for op in ops if op.name == "stream.process_batch") / n
    out["state_store.read_s"] = total("state_store.read") / n
    out["state_store.commit_s"] = total("state_store.commit") / n
    out["state_store.gc_s"] = total("state_store._gc") / n
    return out
