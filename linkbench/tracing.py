"""Traced runs: spans around calls into each linkgraph layer, Spark stage
counters attributed to those spans, and the per-layer metrics.

Spans are kept in memory and written out when the run ends. Wrappers
are installed on the engine's public functions at every module binding
that holds them (an operator module that did ``from ... import
truncate_lineage`` calls its own binding), so no engine file changes;
``uninstall`` puts the originals back.

Stage counters come from Spark's status store. Each stage belongs to
the innermost span whose interval holds the stage's submission time:
the load is a closed loop with one client, so exactly one span is
issuing work at any moment. (Job groups cannot carry this: the
streaming workload's foreachBatch runs on the stream's own thread,
whose job group Structured Streaming sets for every batch.)
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

# Status-store retention for the traced run only: the defaults (1000
# jobs/stages) drop the early stages of an iterative job.
TRACE_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}

ITERATIVE = ("pagerank", "wcc", "lpa")
SELF_LAYERS = ("sources", "graph", "plans", "operators", "streaming")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """Records spans while ``active``; a no-op otherwise, so the same
    job code serves traced and untraced runs."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[Span] = []
        self.counters: dict[str, int] = {}
        self._stack: list[int] = []
        self._lock = threading.Lock()

    def span(self, name: str, **attrs):
        return self._span(name, attrs) if self.active else nullcontext(None)

    @contextmanager
    def _span(self, name: str, attrs: dict):
        # One stack for all threads: the streaming sink runs on another
        # thread while the main thread waits inside its query span.
        with self._lock:
            s = Span(len(self.spans), name, self._stack[-1] if self._stack else None,
                     time.time(), attrs=dict(attrs))
            self.spans.append(s)
            self._stack.append(s.id)
        try:
            yield s
        finally:
            with self._lock:
                s.end = time.time()
                self._stack.remove(s.id)

    def count(self, name: str) -> None:
        if self.active:
            with self._lock:
                self.counters[name] = self.counters.get(name, 0) + 1

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


# --- wrappers -------------------------------------------------------------


def _rebind(orig, wrapper, undo: list) -> None:
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("linkgraph"):
            continue
        for k, v in list(vars(mod).items()):
            if v is orig:
                setattr(mod, k, wrapper)
                undo.append((mod, k, orig))


def _dir_bytes(path: str | None) -> int:
    path = (path or "").removeprefix("file:")
    if not os.path.isdir(path):
        return 0
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def install(tracer: Tracer):
    """Wrap the engine's layer entry points; returns an undo callable."""
    from linkgraph.graph import LinkGraph

    # import_module: the operators package rebinds the name ``pagerank``
    # to the function, shadowing the submodule attribute
    edges, iterate, partitioning, pagerank, components, lpa, triangles = (
        importlib.import_module(f"linkgraph.{m}") for m in (
            "sources.edges", "plans.iterate", "plans.partitioning", "operators.pagerank",
            "operators.components", "operators.lpa", "operators.triangles"))

    undo: list = []

    def spanned(fn, name, after=None):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with tracer.span(name) as s:
                out = fn(*a, **kw)
                if after is not None and s is not None:
                    after(s, out)
                return out
        return wrapper

    def iterations(s, res):
        s.attrs["iter_s"] = [st.seconds for st in res.stats]

    def trunc_bytes(s, out):
        s.attrs["bytes"] = _dir_bytes(getattr(out, "_lg_trunc_path", None))

    targets = [
        (edges.build_edges, "sources.build_edges", None),
        (edges.build_host_edges, "sources.build_host_edges", None),
        (iterate.truncate_lineage, "plans.truncate_lineage", trunc_bytes),
        (partitioning.stationary, "plans.stationary", None),
        (pagerank.pagerank, "operators.pagerank", iterations),
        (components.weakly_connected_components, "operators.wcc", iterations),
        (lpa.label_propagation, "operators.lpa", iterations),
        (triangles.total_triangles, "operators.triangles", None),
    ]
    for fn, name, after in targets:
        _rebind(fn, spanned(fn, name, after), undo)

    orig_operand = LinkGraph.operand

    @functools.wraps(orig_operand)
    def operand(self, key, build):
        built = []

        def timed_build():
            built.append(True)
            with tracer.span("graph.operand_build", key=repr(key)):
                return build()

        out = orig_operand(self, key, timed_build)
        tracer.count("graph.operand_builds" if built else "graph.operand_hits")
        return out

    LinkGraph.operand = operand
    undo.append((LinkGraph, "operand", orig_operand))

    def uninstall() -> None:
        for obj, k, v in reversed(undo):
            setattr(obj, k, v)

    return uninstall


# --- Spark stage counters --------------------------------------------------


def spark_stages(spark, since: float) -> list[dict]:
    """Every stage attempt submitted at or after ``since`` (epoch s)."""
    jvm = spark.sparkContext._jvm
    gw = spark.sparkContext._gateway
    store = spark.sparkContext._jsc.sc().statusStore()
    seq = store.stageList(None, False, False, gw.new_array(jvm.double, 0), None)
    out = []
    it = seq.iterator()
    while it.hasNext():
        s = it.next()
        sub = s.submissionTime()
        if not sub.isDefined():
            continue  # skipped: its shuffle output was reused
        start = sub.get().getTime() / 1000.0
        if start < since:
            continue
        comp = s.completionTime()
        out.append({
            "stage": s.stageId(),
            "start": start,
            "end": comp.get().getTime() / 1000.0 if comp.isDefined() else start,
            "tasks": s.numTasks(),
            "run_s": s.executorRunTime() / 1000.0,
            "gc_s": s.jvmGcTime() / 1000.0,
            "shuffle_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "out_bytes": s.outputBytes(),
        })
    return out


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- per-layer metrics ------------------------------------------------------


def job_metrics(tracer: Tracer, root: Span, stages: list[dict], cores: int) -> dict:
    """Per-layer metrics of one traced job, from the spans under ``root``
    and the stages submitted inside it."""
    by_id = {s.id: s for s in tracer.spans}
    spans = [s for s in tracer.spans if s.id == root.id or _under(s, root, by_id)]
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def dur(s: Span) -> float:
        return s.end - s.start

    # stage → innermost span holding its submission time (latest start)
    owned: dict[int, list[dict]] = {}
    job_stages = [st for st in stages if root.start <= st["start"] <= root.end]
    for st in job_stages:
        holder = max(
            (s for s in spans if s.start <= st["start"] <= s.end), key=lambda s: s.start
        )
        owned.setdefault(holder.id, []).append(st)

    def subtree_stages(s: Span) -> list[dict]:
        out = list(owned.get(s.id, []))
        for c in children.get(s.id, []):
            out.extend(subtree_stages(c))
        return out

    def outermost(name: str) -> list[Span]:
        return [s for s in spans if s.name == name and not _has_ancestor(s, name, by_id)]

    def total(name: str) -> float:
        return sum(dur(s) for s in outermost(name))

    m: dict[str, float] = {}
    m["sources.build_edges_s"] = total("sources.build_edges")
    m["sources.host_edges_s"] = total("sources.build_host_edges")
    in_plans = {st["stage"] for s in outermost("plans.truncate_lineage") for st in subtree_stages(s)}
    writes = [st for st in job_stages if st["out_bytes"] > 0 and st["stage"] not in in_plans]
    m["sources.write_s"] = sum(st["end"] - st["start"] for st in writes)
    m["sources.write_bytes"] = float(sum(st["out_bytes"] for st in writes))

    m["graph.operand_builds"] = float(tracer.counters.get("graph.operand_builds", 0))
    m["graph.operand_hits"] = float(tracer.counters.get("graph.operand_hits", 0))
    m["graph.operand_build_s"] = total("graph.operand_build")

    truncs = [s for s in spans if s.name == "plans.truncate_lineage"]
    m["plans.truncate_calls"] = float(len(truncs))
    m["plans.truncate_s"] = total("plans.truncate_lineage")
    m["plans.truncate_bytes"] = float(sum(s.attrs.get("bytes", 0) for s in truncs))
    m["plans.stationary_s"] = total("plans.stationary")

    for op in ("pagerank", "wcc", "lpa", "triangles"):
        calls = outermost(f"operators.{op}")
        secs = sum(dur(s) for s in calls)
        sts = [st for s in calls for st in subtree_stages(s)]
        run_s = sum(st["run_s"] for st in sts)
        m[f"operators.{op}.s"] = secs
        if op in ITERATIVE:
            iters = [x for s in calls for x in s.attrs.get("iter_s", [])]
            m[f"operators.{op}.iterations"] = float(len(iters))
            m[f"operators.{op}.iter_s"] = statistics.median(iters) if iters else 0.0
        m[f"operators.{op}.stages"] = float(len(sts))
        m[f"operators.{op}.tasks"] = float(sum(st["tasks"] for st in sts))
        m[f"operators.{op}.shuffle_bytes"] = float(sum(st["shuffle_bytes"] for st in sts))
        m[f"operators.{op}.busy_share"] = run_s / (secs * cores) if secs > 0 else 0.0

    wall = dur(root)
    m["spark.stages"] = float(len(job_stages))
    m["spark.tasks"] = float(sum(st["tasks"] for st in job_stages))
    m["spark.shuffle_bytes"] = float(sum(st["shuffle_bytes"] for st in job_stages))
    m["spark.spill_bytes"] = float(sum(st["spill_bytes"] for st in job_stages))
    m["spark.gc_s"] = sum(st["gc_s"] for st in job_stages)
    m["spark.busy_share"] = sum(st["run_s"] for st in job_stages) / (wall * cores)
    busy = _union_len([(max(st["start"], root.start), min(st["end"], root.end))
                       for st in job_stages])
    m["spark.driver_gap_s"] = wall - busy

    # self time: a span's wall minus the part its children cover; the
    # root's self time is benchmark code outside every layer span
    self_by_layer = {layer: 0.0 for layer in SELF_LAYERS}
    unattributed = 0.0
    for s in spans:
        cover = _union_len([(c.start, c.end) for c in children.get(s.id, [])])
        own = dur(s) - cover
        if s.id == root.id:
            unattributed += own
        else:
            self_by_layer[s.layer] = self_by_layer.get(s.layer, 0.0) + own
    for layer in SELF_LAYERS:
        m[f"{layer}.self_s"] = self_by_layer[layer]
    m["trace.unattributed_s"] = unattributed
    return m


def _under(s: Span, root: Span, by_id: dict) -> bool:
    p = s.parent
    while p is not None:
        if p == root.id:
            return True
        p = by_id[p].parent
    return False


def _has_ancestor(s: Span, name: str, by_id: dict) -> bool:
    p = s.parent
    while p is not None:
        if by_id[p].name == name:
            return True
        p = by_id[p].parent
    return False
