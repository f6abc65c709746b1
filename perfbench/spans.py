"""Spans around calls into the package, with Spark work attached.

A span records a name, its parent, the op it belongs to and its wall
interval.  Spark work is attributed by id range, not by job group: the
DAG scheduler hands out job ids from one counter (``numTotalJobs``), so
the jobs a span caused are exactly the ids issued between its start and
its end, whichever thread submitted them (streaming drains run on the
stream thread).  A stage belongs to the first job that lists it; a later
job that lists it again only reuses its shuffle output.  The status
store keeps only the newest 1000 jobs and stages, so each op's jobs and
stages are read from it as soon as the op ends, once the listener bus
has recorded them.

Spans are kept in memory and written out once, when the run ends.  The
package itself carries no tracing: :class:`LayerPatch` wraps its public
functions from outside, only for the passes that are traced.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError

PACKAGE = "elastic_asset_etl_poc_spark"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: str | None
    start: float  # perf_counter seconds
    end: float = 0.0
    wall0_ms: float = 0.0  # epoch ms, to line up with job times
    job0: int = 0
    job1: int = 0
    gc0_ms: float = 0.0
    gc1_ms: float = 0.0
    persisted_rdds: int = 0  # set on op spans

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Nested spans plus job/stage data read from Spark's status store."""

    def __init__(self, spark, enabled: bool = True):
        self.enabled = enabled
        self.spark = spark
        sc = spark._jsc.sc()
        self._sched = sc.dagScheduler()
        self._store = sc.statusStore()
        self._jsc = spark._jsc
        self._gc_beans = list(
            spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.jobs: dict[int, tuple[float, float]] = {}  # id -> (submit ms, end ms)
        self.stages: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}  # stage id -> first job listing it

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._gc_beans))

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            parent=parent.id if parent else None,
            op=op if op is not None else (parent.op if parent else None),
            start=0.0,
        )
        self.spans.append(s)
        self._stack.append(s)
        s.job0 = self._sched.numTotalJobs()
        s.gc0_ms = self.gc_ms()
        s.wall0_ms = time.time() * 1000.0
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.job1 = self._sched.numTotalJobs()
            s.gc1_ms = self.gc_ms()
            self._stack.pop()
            if op is not None:  # an op span: read its Spark work right away
                s.persisted_rdds = self._jsc.getPersistentRDDs().size()
                self._read_store(s)

    def _job(self, jid: int):
        """The status store's finished record of job ``jid``, or None if it
        was evicted or the listener bus has not caught up within 10 s."""
        deadline = time.monotonic() + 10.0
        while True:
            try:
                j = self._store.job(jid)
                if j.completionTime().isDefined():
                    return j
            except Py4JJavaError:  # not registered yet, or evicted
                pass
            if time.monotonic() > deadline:
                return None
            time.sleep(0.005)

    def _read_store(self, s: Span) -> None:
        for jid in range(s.job0, s.job1):
            j = self._job(jid)
            if j is None:
                continue
            sub = j.submissionTime()
            self.jobs[jid] = (
                float(sub.get().getTime()) if sub.isDefined() else s.wall0_ms,
                float(j.completionTime().get().getTime()),
            )
            ids = j.stageIds()
            for sid in (ids.apply(i) for i in range(ids.length())):
                if sid in self.stage_job:
                    continue
                self.stage_job[sid] = jid
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted
                    continue
                self.stages[sid] = {
                    "tasks": st.numCompleteTasks(),
                    "run_ms": st.executorRunTime(),
                    "input_bytes": st.inputBytes(),
                    "input_rows": st.inputRecords(),
                    "output_bytes": st.outputBytes(),
                    "shuffle_w_bytes": st.shuffleWriteBytes(),
                    "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                }

    # -- per-span figures -------------------------------------------------

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def self_ms(self, s: Span) -> float:
        return s.ms - sum(c.ms for c in self.children(s))

    def stage_sum(self, s: Span, key: str) -> float:
        return float(
            sum(
                self.stages[sid][key]
                for sid, jid in self.stage_job.items()
                if s.job0 <= jid < s.job1 and sid in self.stages
            )
        )

    def driver_ms(self, s: Span) -> float:
        """Wall time of ``s`` that no Spark job covers."""
        lo = s.wall0_ms
        hi = lo + s.ms
        ivs = sorted(
            (max(a, lo), min(b, hi))
            for jid, (a, b) in self.jobs.items()
            if s.job0 <= jid < s.job1
        )
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return max(0.0, s.ms - covered)

    def figures(self, s: Span) -> dict:
        return {
            "ms": s.ms,
            "self_ms": self.self_ms(s),
            "jobs": s.job1 - s.job0,
            "tasks": self.stage_sum(s, "tasks"),
            "driver_ms": self.driver_ms(s),
            "run_ms": self.stage_sum(s, "run_ms"),
            "gc_ms": s.gc1_ms - s.gc0_ms,
            "input_rows": self.stage_sum(s, "input_rows"),
            "input_bytes": self.stage_sum(s, "input_bytes"),
            "output_bytes": self.stage_sum(s, "output_bytes"),
            "shuffle_w_bytes": self.stage_sum(s, "shuffle_w_bytes"),
            "spill_bytes": self.stage_sum(s, "spill_bytes"),
        }

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        rows = []
        for s in self.spans:
            d = asdict(s)
            d["start"] = s.start - t0
            d["end"] = s.end - t0
            d["self_ms"] = self.self_ms(s)
            rows.append(d)
        with open(path, "w") as fh:
            json.dump({**extra, "spans": rows}, fh)


# The package's public functions timed from outside, by layer.
LAYER_FUNCTIONS = {
    "sources": [
        ("sources.registry", ["load_table"]),
        ("sources.signals", ["signals_view"]),
    ],
    "operators": [
        (
            "operators.graph",
            [
                "pagerank",
                "triangle_count",
                "hits",
                "connected_components_star",
                "bfs_khop",
                "kcore_membership",
                "label_propagation",
            ],
        )
    ],
    "streaming": [
        ("streaming.services_stream", ["run_to_memory", "stream_services_phase1"]),
    ],
}


class LayerPatch:
    """Swap the package's public layer functions for span-recording wrappers.

    Every module of the package that bound one of these functions by name
    gets the wrapper too, so calls are caught however they were imported.
    """

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._undo: list[tuple[object, str, object]] = []

    def _wrap(self, span_name: str, fn):
        tracer = self.tracer

        @functools.wraps(fn)
        def traced(*a, **kw):
            with tracer.span(span_name):
                return fn(*a, **kw)

        return traced

    def __enter__(self):
        mods = [m for n, m in list(sys.modules.items()) if n.startswith(PACKAGE) and m]
        for layer, entries in LAYER_FUNCTIONS.items():
            for mod_name, names in entries:
                home = importlib.import_module(f"{PACKAGE}.{mod_name}")
                for name in names:
                    orig = getattr(home, name)
                    wrapper = self._wrap(f"{layer}.{name}", orig)
                    for m in mods + [home]:
                        if m.__dict__.get(name) is orig:
                            setattr(m, name, wrapper)
                            self._undo.append((m, name, orig))
        return self

    def __exit__(self, *exc):
        for m, name, orig in reversed(self._undo):
            setattr(m, name, orig)
        self._undo.clear()
        return False
