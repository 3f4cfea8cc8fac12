"""Tracing for the benchmark's traced runs.

Spans are recorded only here, around the benchmark's calls into each
layer: the op build (`plans`), the public functions of the engine modules
named in `LAYER_MODULES` (patched in for traced runs only), Catalyst
(`catalyst`) and the final write (`exec`). Every span has an id, a parent,
a start and an end; all spans of one op-run share that run's id. Each
span runs under its own Spark job group, so after an op-run the jobs and
stages it started are read back from Spark's live status store and
attributed to the span that started them.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import re
import sys
import time
from dataclasses import asdict, dataclass, field

ENGINE = "tpc_di_etl_using_pyspark_spark"
LAYER_MODULES = {
    "llm.components": f"{ENGINE}.llm.components",
    "llm.minhash": f"{ENGINE}.llm.minhash",
    "llm.simhash": f"{ENGINE}.llm.simhash",
    "tpcdi.pipeline": f"{ENGINE}.tpcdi.pipeline",
    "sources.fixedwidth": f"{ENGINE}.sources.fixedwidth",
}
# Layers whose per-pass metrics include the Spark jobs started inside them.
JOB_LAYERS = ("llm.components", "tpcdi.pipeline")

STAGE_FIELDS = {
    # metric name: (StageData accessor, scale to the metric's unit)
    "exec.executor_run_s": ("executorRunTime", 1e-3),
    "exec.executor_cpu_s": ("executorCpuTime", 1e-9),
    "exec.gc_s": ("jvmGcTime", 1e-3),
    "exec.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "exec.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "exec.spill_bytes": ("diskBytesSpilled", 1),
    "exec.input_bytes": ("inputBytes", 1),
    "exec.tasks": ("numTasks", 1),
    "exec.failed_tasks": ("numFailedTasks", 1),
}
_NODE = re.compile(r"^[\s:|+\-*]*(?:\(\d+\)\s*)?(\w+)")


@dataclass
class Span:
    id: int
    run: int
    name: str
    label: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    # executed stages: "stages" (their count) and each STAGE_FIELDS metric -> total
    stages: dict = field(default_factory=lambda: dict.fromkeys(("stages", *STAGE_FIELDS), 0))
    extra: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"


class Tracer:
    """Keeps every span in memory; `dump` writes them out at the end."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.run = 0
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._no_task_status = gw.jvm.java.util.ArrayList()

    @contextlib.contextmanager
    def span(self, name: str, label: str = ""):
        parent = self.stack[-1] if self.stack else None
        s = Span(len(self.spans), self.run, name, label, parent and parent.id, time.perf_counter())
        self.spans.append(s)
        self.stack.append(s)
        self.sc.setJobGroup(s.group, f"{name}:{label}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, f"{parent.name}:{parent.label}")
            else:
                self.sc.setJobGroup("perfbench-idle", "idle")

    # ---- layer instrumentation -------------------------------------------

    def instrument(self) -> None:
        """Route every engine reference to a public function of a layer
        module through a span of that layer."""
        wrapped = {}
        for layer, modname in LAYER_MODULES.items():
            mod = importlib.import_module(modname)
            for attr, fn in list(vars(mod).items()):
                if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != modname:
                    continue
                wrapped[id(fn)] = (fn, self._wrap(layer, fn))
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(ENGINE):
                continue
            for attr, v in list(vars(mod).items()):
                hit = wrapped.get(id(v))
                if hit is not None and hit[0] is v:
                    setattr(mod, attr, hit[1])

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, fn.__name__):
                return fn(*args, **kwargs)

        return traced

    # ---- Spark-side attribution ------------------------------------------

    def sql_exec_mark(self) -> int:
        store = self.spark._jsparkSession.sharedState().statusStore()
        n = store.executionsCount()
        if n == 0:
            return -1
        return store.executionsList(int(n) - 1, 1).apply(0).executionId()

    def exchanges_since(self, mark: int) -> tuple[int, int]:
        """(exchanges, reused exchanges) in the final plans of the SQL
        executions that started after `mark`."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        n = int(store.executionsCount())
        tail = store.executionsList(max(0, n - 64), min(n, 64))
        ex = reused = 0
        for i in range(tail.size()):
            e = tail.apply(i)
            if e.executionId() <= mark:
                continue
            text = e.physicalPlanDescription()
            if "== Final Plan ==" in text:
                text = text.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
            for line in text.splitlines():
                m = _NODE.match(line)
                node = m.group(1) if m else ""
                if node in ("Exchange", "BroadcastExchange"):
                    ex += 1
                elif node == "ReusedExchange":
                    reused += 1
        return ex, reused

    def settle(self, spans: list[Span]) -> None:
        """After an op-run: wait for the listener bus, then read each
        span's jobs from the status store, and the metrics of every stage
        that ran. A stage belongs to the first job that lists it: a later
        job that reuses its shuffle output only lists it as skipped."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        owner = {}
        for s in spans:
            s.jobs = sorted(tracker.getJobIdsForGroup(s.group))
            owner.update(dict.fromkeys(s.jobs, s))
        seen: set[int] = set()
        for job in sorted(owner):
            info = tracker.getJobInfo(job)
            totals = owner[job].stages
            for sid in set(info.stageIds if info else ()) - seen:
                seen.add(sid)
                attempts = store.stageData(sid, False, self._no_task_status, False, self._no_quantiles)
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    if str(sd.status()) == "SKIPPED":
                        continue
                    totals["stages"] += 1
                    for name, (getter, _) in STAGE_FIELDS.items():
                        totals[name] += getattr(sd, getter)()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _inclusive(spans: list[Span]) -> tuple[dict, dict]:
    """Per span id: job count and stage totals of the span and all its
    descendants. Spans are listed parents first."""
    jobs = {s.id: len(s.jobs) for s in spans}
    stages = {s.id: dict(s.stages) for s in spans}
    for s in reversed(spans):
        if s.parent in jobs:
            jobs[s.parent] += jobs[s.id]
            for k, v in stages[s.id].items():
                stages[s.parent][k] = stages[s.parent].get(k, 0) + v
    return jobs, stages


def pass_metrics(spans: list[Span], cores: int) -> dict[str, float]:
    """Per-layer metrics of one pass from its spans."""
    by_id = {s.id: s for s in spans}
    jobs, stages = _inclusive(spans)
    m: dict[str, float] = {
        "plans.build_s": 0.0, "plans.build_jobs": 0, "plans.build_stages": 0,
        "catalyst.analysis_s": 0.0, "catalyst.optimization_s": 0.0,
        "catalyst.planning_s": 0.0, "catalyst.exchanges": 0,
        "catalyst.reused_exchanges": 0,
        "exec.s": 0.0, "exec.jobs": 0, "exec.stages": 0,
    }
    m.update(dict.fromkeys(STAGE_FIELDS, 0))
    for layer in LAYER_MODULES:
        m[f"{layer}.call_s"] = 0.0
    for layer in JOB_LAYERS:
        m[f"{layer}.jobs"] = 0

    def outermost(s: Span) -> bool:
        p = s.parent
        while p is not None:
            if by_id[p].name == s.name:
                return False
            p = by_id[p].parent
        return True

    for s in spans:
        dur = s.end - s.start
        if s.name == "plans":
            m["plans.build_s"] += dur
            m["plans.build_jobs"] += jobs[s.id]
            m["plans.build_stages"] += stages[s.id]["stages"]
        elif s.name == "catalyst":
            for k in ("analysis", "optimization", "planning"):
                m[f"catalyst.{k}_s"] += s.extra.get(k, 0.0)
        elif s.name == "exec":
            m["exec.s"] += dur
            m["exec.jobs"] += jobs[s.id]
            m["exec.stages"] += stages[s.id]["stages"]
            m["catalyst.exchanges"] += s.extra.get("exchanges", 0)
            m["catalyst.reused_exchanges"] += s.extra.get("reused_exchanges", 0)
            for name, (_, scale) in STAGE_FIELDS.items():
                m[name] += stages[s.id][name] * scale
        elif s.name in LAYER_MODULES and outermost(s):
            m[f"{s.name}.call_s"] += dur
            if s.name in JOB_LAYERS:
                m[f"{s.name}.jobs"] += jobs[s.id]
    m["exec.core_occupancy"] = (
        m["exec.executor_run_s"] / (m["exec.s"] * cores) if m["exec.s"] else 0.0
    )
    return m
