"""Span recorder for the traced benchmark run.

Spans are kept in memory (name, start, end, parent, thread and the Spark
jobs started inside), written out as JSON lines when the run ends
(``dump``), and reduced to per-layer counters after each traced job:

* ``self_s``     span duration minus the part of it covered by child spans
* ``spark_s``    summed wall time of the Spark jobs started inside the span
                 (its children's jobs included)
* ``jobs``       number of those Spark jobs
* ``shuffle_mb`` shuffle bytes written by their stages, in MB

A Spark job belongs to a span through the job group the span sets on entry
(read back from the driver's status store, which works with the UI off);
jobs with no group -- those started by a streaming micro-batch outside any
wrapped call -- go to the innermost span whose interval holds their start.

Program functions are wrapped at every module attribute that holds them, so
a function imported by name (``graph_pipeline.subgraph_tables``) is traced
at the call site too.
"""
from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

PACKAGE = "climatemind_ontology_processing_spark"

ALL = ("self_s", "spark_s", "jobs", "shuffle_mb")
# a function that only builds a plan: its Spark work runs later, under the
# caller's span, so jobs and shuffle stay 0 here
PLAN = ("self_s", "spark_s")

# (module under the package, function, counters); span "<leaf>.<function>"
TRACED_FUNCTIONS = [
    ("plans.lineage", "run_bucketed", ALL),
    ("plans.lineage", "completed_buckets", PLAN),
    ("plans.lineage", "append_lineage_rows", ALL),
    ("plans.pipeline", "triples_from_pages", PLAN),
    ("plans.pipeline", "write_triples", ALL),
    ("plans.process_ontology", "process_ontology_file", ALL),
    ("plans.process_ontology", "process_ontology", ALL),
    ("sources.owl_reader", "triples_df_from_owl", PLAN),
    ("sources.owl_reader", "concepts_df_from_owl", PLAN),
    ("sources.sinks", "save_graph_pickle", ALL),
    ("sources.sinks", "save_graph_json", ALL),
    ("sources.sinks", "save_subgraphs_pickle", ALL),
    ("operators.graph_pipeline", "build_graph", ALL),
    ("operators.attributes", "attach_attributes", PLAN),
    ("operators.edge_props", "set_edge_properties", PLAN),
    ("operators.edge_props", "remove_edge_properties_from_nodes", PLAN),
    ("operators.acyclic", "make_acyclic", PLAN),
    ("operators.mitigation", "upstream_nodes", ALL),
    ("operators.mitigation", "mitigation_solutions", PLAN),
    ("operators.adaptation", "adaptation_solutions", ALL),
    ("operators.visualization", "build_subgraphs", ALL),
    ("operators.visualization", "subgraph_tables", PLAN),
    ("operators.myths", "solution_and_impact_myths", PLAN),
    ("operators.causal_sources", "causal_sources", PLAN),
    ("operators.canonicalize", "merge_components", ALL),
    ("streaming.kg", "kg_build_stream", PLAN),
    ("streaming.kg", "kg_snapshot", ALL),
]

# spans the benchmark opens itself: its graph-table writes, stream
# micro-batches (from query progress) and the probes that run one stage alone
BENCH_SPANS = [
    ("kg_tables.write", ALL),
    ("kg.batch", ALL),
    ("probe.extract_html_noop", ALL),
    ("probe.dedup_noop", ALL),
]


def span_name(module: str, func: str) -> str:
    return f"{module.rsplit('.', 1)[-1]}.{func}"


SPANS = [(span_name(m, f), c) for m, f, c in TRACED_FUNCTIONS] + BENCH_SPANS


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    thread: int = 0
    group: str = ""
    jobs: list = field(default_factory=list)   # (start, end, shuffle_b, id)


class SpanRecorder:
    """In-memory spans of one session; ``installed`` wraps the program."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.overhead_s = 0.0      # time spent opening and closing spans
        self._lock = threading.Lock()
        self._local = threading.local()
        self._last_job = -1

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        stack = self._stack()
        # a wrapped function reached again under a span of the same name
        # (an alias or a probe around it) is one span, not two
        if any(self.spans[i].name == name for i in stack):
            yield
            return
        with self._lock:
            idx = len(self.spans)
            sp = Span(name, time.time(), parent=stack[-1] if stack else None,
                      thread=threading.get_ident(), group=f"kgbench-span-{idx}")
            self.spans.append(sp)
        self.sc.setJobGroup(sp.group, name)
        stack.append(idx)
        self._charge(time.perf_counter() - t0)
        try:
            yield
        finally:
            t1 = time.perf_counter()
            sp.end = time.time()
            stack.pop()
            if stack:
                self.sc.setJobGroup(self.spans[stack[-1]].group,
                                    self.spans[stack[-1]].name)
            else:
                self.sc._jsc.clearJobGroup()
            self._charge(time.perf_counter() - t1)

    def _charge(self, seconds: float) -> None:
        with self._lock:
            self.overhead_s += seconds

    def add_span(self, name: str, start: float, end: float) -> None:
        """Record a span measured elsewhere (a streaming micro-batch)."""
        with self._lock:
            self.spans.append(Span(name, start, end, thread=-1,
                                   group=f"kgbench-span-{len(self.spans)}"))

    @contextmanager
    def installed(self):
        """Wrap every TRACED_FUNCTIONS entry at each module attribute that
        holds it, across the imported package modules; unwrap on exit."""
        originals = {}
        for mod, func, _ in TRACED_FUNCTIONS:
            fn = getattr(importlib.import_module(f"{PACKAGE}.{mod}"), func)
            originals[id(fn)] = (fn, self._wrap(fn, span_name(mod, func)))
        patched = []
        for mname, m in list(sys.modules.items()):
            if not mname.startswith(PACKAGE) or m is None:
                continue
            for attr, val in list(vars(m).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(m, attr, hit[1])
                    patched.append((m, attr, val))
        try:
            yield
        finally:
            for m, attr, val in patched:
                setattr(m, attr, val)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    # -- reduction ---------------------------------------------------------
    def collect_jobs(self) -> tuple[int, float]:
        """Attach every Spark job finished since the last call to its span.
        Returns (failed tasks, MB spilled to disk) over those jobs."""
        store = self.sc._jsc.sc().statusStore()
        seq = store.jobsList(None)
        by_group = {s.group: s for s in self.spans}
        failed, spill = 0, 0
        newest = self._last_job
        for k in range(seq.size()):
            jd = seq.apply(k)
            jid = jd.jobId()
            if jid <= self._last_job:
                continue
            newest = max(newest, jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            t0, t1 = sub.get().getTime() / 1e3, done.get().getTime() / 1e3
            shuffle_b = 0
            sids = jd.stageIds()
            for i in range(sids.size()):
                try:
                    st = store.lastStageAttempt(sids.apply(i))
                except Py4JJavaError:   # stage never ran or was pruned
                    continue
                shuffle_b += st.shuffleWriteBytes()
                spill += st.diskBytesSpilled()
                failed += st.numFailedTasks()
            grp = jd.jobGroup()
            sp = by_group.get(grp.get()) if grp.isDefined() else None
            if sp is None:
                sp = self._innermost_at(t0)
            if sp is not None:
                sp.jobs.append((t0, t1, shuffle_b, jid))
        self._last_job = newest
        return failed, spill / 1e6

    def _innermost_at(self, t: float) -> Span | None:
        best = None
        for sp in self.spans:
            if sp.start <= t <= sp.end and (
                    best is None or sp.end - sp.start < best.end - best.start):
                best = sp
        return best

    def reduce(self, first: int) -> dict[str, dict[str, float]]:
        """Per-name counters of the spans ``self.spans[first:]`` (one traced
        job or probe), summed over spans of the same name."""
        spans = self.spans[first:]
        parent = {}
        for i, sp in enumerate(spans):
            if sp.parent is not None and sp.parent >= first:
                parent[i] = sp.parent - first
        # spans opened on another thread (stream callbacks, batch spans)
        # nest under the innermost span that encloses them in time
        for i, sp in enumerate(spans):
            if i in parent:
                continue
            enclosing = [j for j, o in enumerate(spans)
                         if j != i and o.thread != sp.thread
                         and o.start <= sp.start and sp.end <= o.end]
            if enclosing:
                parent[i] = min(enclosing,
                                key=lambda j: spans[j].end - spans[j].start)
        children: dict[int, list[int]] = {}
        for c, p in parent.items():
            children.setdefault(p, []).append(c)

        def subtree_jobs(i):
            out = list(spans[i].jobs)
            for c in children.get(i, ()):
                out.extend(subtree_jobs(c))
            return out

        out: dict[str, dict[str, float]] = {}
        for i, sp in enumerate(spans):
            kids = [(spans[c].start, spans[c].end) for c in children.get(i, ())]
            jobs = subtree_jobs(i)
            acc = out.setdefault(sp.name, dict.fromkeys(ALL, 0.0))
            acc["self_s"] += (sp.end - sp.start) - covered(kids, sp.start, sp.end)
            acc["spark_s"] += sum(t1 - t0 for t0, t1, _, _ in jobs)
            acc["jobs"] += len(jobs)
            acc["shuffle_mb"] += sum(b for _, _, b, _ in jobs) / 1e6
        return out

    def dump(self, path: str) -> None:
        """Write every span as one JSON line: name, start, end (epoch
        seconds), parent span index and the ids of its Spark jobs."""
        with open(path, "w") as f:
            for i, sp in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": sp.name, "start": sp.start,
                    "end": sp.end, "parent": sp.parent,
                    "jobs": [j[3] for j in sp.jobs]}) + "\n")

    def coverage(self, first: int, start: float, end: float) -> float:
        """Share of [start, end] that the spans ``self.spans[first:]`` cover."""
        return covered([(s.start, s.end) for s in self.spans[first:]],
                       start, end) / (end - start)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
