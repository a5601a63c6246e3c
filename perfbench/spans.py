"""In-memory span tracer with Spark job-group attribution.

A span is opened around each call into a traced layer. On entry it sets
a fresh Spark job group (``spark.jobGroup.id``) on the driver thread and
on exit restores the enclosing span's group, so every Spark job is
tagged with the innermost span that was open when its action ran. Lazy
work is therefore attributed to the span whose *action* triggers it,
not to the span that built the plan.

Stage metrics are read from the Spark driver's status store at every span
boundary (entry and exit, after draining the listener bus), because the
store keeps only ``spark.ui.retainedStages`` stages (default 1,000) and
a traced run executes more than that. Each stage is counted once, by
the first span that sees it complete; a stage that a later job reuses
shows up there as skipped.

Per span the tracer keeps its own (exclusive) counts; on exit the
inclusive counts are own + children. Per layer:
  wall_s     inclusive wall time of the outermost spans of the layer
  self_s     wall time of every span of the layer minus its child spans
  jobs, task_s, gc_s, spill_mb, shuffle_write_mb, skipped_stage_ratio
             inclusive over the outermost spans of the layer
Spans live in memory and are written to a JSON file by ``dump``.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import time
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Counts:
    jobs: int = 0
    stages: int = 0
    skipped_stages: int = 0
    task_ms: float = 0.0
    gc_ms: float = 0.0
    spill_bytes: float = 0.0
    shuffle_write_bytes: float = 0.0

    def add(self, other: "Counts") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    phase: str
    start: float
    end: float = 0.0
    child_s: float = 0.0
    own: Counts = field(default_factory=Counts)
    incl: Counts = field(default_factory=Counts)
    harvested_jobs: set = field(default_factory=set)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans + Spark job-group bookkeeping for one SparkContext."""

    def __init__(self) -> None:
        self.enabled = False
        self.phase = "setup"
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._seen_stages: set[int] = set()
        self.jobs_evicted = 0

    # ------------------------------------------------------------ spans

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    def span(self, layer: str, name: str):
        return _SpanCtx(self, layer, name)

    def _enter(self, layer: str, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        if parent is not None:
            self._harvest(parent)
        s = Span(
            id=len(self.spans),
            parent=parent.id if parent else None,
            layer=layer,
            name=name,
            phase=self.phase,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        if self._sc is not None:
            self._sc.setLocalProperty(_GROUP_KEY, self._group(s))
        return s

    def _exit(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._harvest(s)
        self._stack.pop()
        parent = self._stack[-1] if self._stack else None
        if self._sc is not None:
            self._sc.setLocalProperty(_GROUP_KEY, self._group(parent) if parent else None)
        s.incl.add(s.own)
        if parent is not None:
            parent.child_s += s.wall_s
            parent.incl.add(s.incl)

    @staticmethod
    def _group(s: Span) -> str:
        return f"perfbench-span-{s.id}"

    # --------------------------------------------------- spark metrics

    def _harvest(self, s: Span) -> None:
        """Fold the finished jobs of ``s``'s group into its own counts."""
        if self._sc is None:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        for jid in self._sc.statusTracker().getJobIdsForGroup(self._group(s)):
            if jid in s.harvested_jobs:
                continue
            try:
                job = store.job(jid)
            except Py4JJavaError:
                self.jobs_evicted += 1
                s.harvested_jobs.add(jid)
                continue
            if str(job.status().toString()) == "RUNNING":
                continue
            s.harvested_jobs.add(jid)
            stage_ids = [int(x) for x in str(job.stageIds().mkString(",")).split(",") if x]
            s.own.jobs += 1
            s.own.stages += len(stage_ids)
            s.own.skipped_stages += int(job.numSkippedStages())
            for sid in stage_ids:
                if sid in self._seen_stages:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                if str(st.status().toString()) not in ("COMPLETE", "FAILED"):
                    continue
                self._seen_stages.add(sid)
                s.own.task_ms += float(st.executorRunTime())
                s.own.gc_ms += float(st.jvmGcTime())
                s.own.spill_bytes += float(st.memoryBytesSpilled()) + float(st.diskBytesSpilled())
                s.own.shuffle_write_bytes += float(st.shuffleWriteBytes())

    # -------------------------------------------------------- wrapping

    def wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(layer, fn.__name__):
                return fn(*args, **kwargs)

        return traced

    def instrument(self, layers: dict[str, str], package: str = "daxos_spark") -> int:
        """Wrap every public function defined in each layer module, and
        rebind every reference to it in the already-imported modules of
        ``package`` (``from .x import f`` copies the binding)."""
        originals: dict[int, object] = {}
        for layer, modname in layers.items():
            mod = importlib.import_module(modname)
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or not inspect.isfunction(obj) or obj.__module__ != modname:
                    continue
                originals[id(obj)] = self.wrap(layer, obj)
        n = 0
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == package or modname.startswith(package + ".")):
                continue
            for name, obj in list(vars(mod).items()):
                w = originals.get(id(obj))
                if w is not None:
                    setattr(mod, name, w)
                    n += 1
        return n

    # ------------------------------------------------------- reporting

    def dump(self, path: str, meta: dict) -> None:
        rows = []
        for s in self.spans:
            d = asdict(s)
            d.pop("harvested_jobs")
            d["wall_s"] = s.wall_s
            rows.append(d)
        with open(path, "w") as f:
            json.dump({"meta": meta, "jobs_evicted": self.jobs_evicted, "spans": rows}, f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, layer: str, name: str) -> None:
        self.tracer, self.layer, self.name = tracer, layer, name
        self.span: Span | None = None

    def __enter__(self) -> Span:
        self.span = self.tracer._enter(self.layer, self.name)
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer._exit(self.span)


def layer_metrics(spans: list[Span], cores: int) -> dict[str, dict[str, float]]:
    """Aggregate spans into per-layer figures (see module docstring)."""
    by_id = {s.id: s for s in spans}
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        m = out.setdefault(
            s.layer,
            {"wall_s": 0.0, "self_s": 0.0, "jobs": 0, "task_s": 0.0, "gc_s": 0.0,
             "spill_mb": 0.0, "shuffle_write_mb": 0.0, "_stages": 0, "_skipped": 0},
        )
        m["self_s"] += s.wall_s - s.child_s
        p = by_id.get(s.parent) if s.parent is not None else None
        while p is not None and p.layer != s.layer:
            p = by_id.get(p.parent) if p.parent is not None else None
        if p is not None:
            continue  # nested inside a span of the same layer
        c = s.incl
        m["wall_s"] += s.wall_s
        m["jobs"] += c.jobs
        m["task_s"] += c.task_ms / 1e3
        m["gc_s"] += c.gc_ms / 1e3
        m["spill_mb"] += c.spill_bytes / 1e6
        m["shuffle_write_mb"] += c.shuffle_write_bytes / 1e6
        m["_stages"] += c.stages
        m["_skipped"] += c.skipped_stages
    for m in out.values():
        m["cpu_util"] = m["task_s"] / (m["wall_s"] * cores) if m["wall_s"] > 0 else 0.0
        m["skipped_stage_ratio"] = m.pop("_skipped") / max(1, m.pop("_stages"))
    return out
