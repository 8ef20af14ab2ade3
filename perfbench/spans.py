"""Span tracing around the program's layer functions, from outside.

:func:`install` wraps the public functions of each layer (module
attributes and ``VersionedSink`` methods) so every call records a span:
layer name, start, end and parent. The wrappers are always installed and
cost one attribute check while tracing is off, so traced and untraced
operations run the same code path apart from the bookkeeping.

At every span boundary the tracer drains Spark's listener bus and reads
the status stores (they work with ``spark.ui.enabled=false``): SQL
executions started, source scans in their physical plans, and per-stage
input, shuffle-write, spill and executor-run-time figures. Those counters
go to the innermost span open while they accrued. Spans stay in memory;
the caller writes them out at exit.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time
from dataclasses import dataclass, field

COUNTERS = ("sql_executions", "source_scans", "source_bytes", "input_bytes",
            "shuffle_bytes", "spill_bytes", "task_s")

# layer span name -> (module, attribute); "Class.method" patches a method
PKG = "prefect_flow_arc_indexer_spark"
LAYER_FUNCS = {
    "session": ("session", "get_spark"),
    "sources": ("sources.parquet", "index_documents"),
    "runner": ("pipeline.runner", "full_sync"),
    "runner.incremental": ("pipeline.runner", "incremental_sync"),
    "sinks.write": ("pipeline.sinks", "VersionedSink.write_generation"),
    "sinks.publish": ("pipeline.sinks", "VersionedSink.publish"),
    "sinks.read_alias": ("pipeline.sinks", "VersionedSink.read_alias"),
    "sinks.drop": ("pipeline.sinks", "VersionedSink.drop_generation"),
    "bucketed.write": ("pipeline.bucketed", "write_generation_bucketed"),
    "bucketed.merge": ("pipeline.bucketed", "merge_bucketed"),
    "es_sink.upsert": ("pipeline.es_sink", "write_upserts_rest"),
    "es_sink.delete": ("pipeline.es_sink", "write_deletes"),
    "es_sink.swap": ("pipeline.es_sink", "swap_alias"),
    "es_sink.count": ("pipeline.es_sink", "count_index"),
    "cli": ("__main__", "main"),
}


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    tag: str = ""  # e.g. the operator module a query span belongs to
    end: float = 0.0
    counters: dict[str, float] = field(
        default_factory=lambda: dict.fromkeys(COUNTERS, 0.0))

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover
    (children are clipped to the parent and their overlaps merged)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_end = 0.0, s.start
        for a, b in sorted(kids.get(i, [])):
            a, b = max(a, cur_end), min(b, s.end)
            if b > a:
                covered += b - a
                cur_end = b
        out.append(s.dur - covered)
    return out


def coverage(spans: list[Span], wrappers=("op", "cli")) -> float:
    """Share of the ``op`` spans' wall that layer spans account for. Each
    of ``wrappers`` wraps a whole operation (the benchmark's ``op`` span and
    the CLI's ``main``), so their self times count as unaccounted."""
    wall = sum(s.dur for s in spans if s.name == "op")
    missed = sum(st for s, st in zip(spans, self_times(spans))
                 if s.name in wrappers)
    return 1.0 - missed / wall if wall else 0.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.enabled = False
        self.spark = None
        self.source_dir = ""
        self.source_bytes = 0
        self._next_stage = 0
        self._next_exec = 0

    # -- Spark status-store counters --------------------------------------
    def bind(self, spark, source_dir: str = "", source_bytes: int = 0) -> None:
        """Point the counters at a (new) session and skip what ran before."""
        self.spark, self.source_dir = spark, source_dir
        self.source_bytes = source_bytes
        self._next_stage = self._stage_high()
        self._next_exec = self._exec_high()

    def _sc(self):
        return self.spark.sparkContext._jsc.sc()

    def _stage_high(self) -> int:
        return int(self._sc().dagScheduler().nextStageId())

    def _exec_high(self) -> int:
        store = self.spark._jsparkSession.sharedState().statusStore()
        n = int(store.executionsCount())
        if n == 0:
            return 0
        return int(store.executionsList(n - 1, 1).apply(0).executionId()) + 1

    def _drain(self) -> None:
        """Attribute everything that finished since the last boundary to
        the innermost open span."""
        if self.spark is None:
            return
        sc = self._sc()
        sc.listenerBus().waitUntilEmpty()
        # outside any span the work is skipped, not carried into the next
        c = (self.spans[self.stack[-1]].counters if self.stack
             else dict.fromkeys(COUNTERS, 0.0))
        hi = self._stage_high()
        store = sc.statusStore()
        for sid in range(self._next_stage, hi):
            attempts = store.stageData(sid, False, None, False, None)
            for k in range(attempts.size()):
                st = attempts.apply(k)
                c["input_bytes"] += st.inputBytes()
                c["shuffle_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.diskBytesSpilled()
                c["task_s"] += st.executorRunTime() / 1000.0
        self._next_stage = hi
        sql = self.spark._jsparkSession.sharedState().statusStore()
        hi = self._exec_high()
        for eid in range(self._next_exec, hi):
            c["sql_executions"] += 1
            got = sql.execution(eid)
            if self.source_dir and got.isDefined():
                plan = got.get().physicalPlanDescription()
                n = sum(1 for line in plan.splitlines()
                        if line.strip().startswith("Location:")
                        and self.source_dir in line)
                c["source_scans"] += n
                c["source_bytes"] += n * self.source_bytes
        self._next_exec = hi

    # -- spans ---------------------------------------------------------------
    def open(self, name: str, tag: str = "") -> int | None:
        if not self.enabled:
            return None
        self._drain()
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(name, time.perf_counter(), parent, tag))
        self.stack.append(len(self.spans) - 1)
        return self.stack[-1]

    def close(self, sid: int | None) -> None:
        if sid is None:
            return
        self._drain()
        self.spans[sid].end = time.perf_counter()
        self.stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, tag: str = ""):
        sid = self.open(name, tag)
        try:
            yield sid
        finally:
            self.close(sid)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sid = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(sid)

        traced.__wrapped_layer__ = fn
        return traced

    def to_json(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [
            {"name": s.name, "tag": s.tag, "start": s.start, "end": s.end,
             "parent": s.parent, "self_s": st, **s.counters}
            for s, st in zip(self.spans, selfs)
        ]


def install(tracer: Tracer) -> None:
    """Wrap every function in :data:`LAYER_FUNCS` (idempotent)."""
    for name, (mod_name, attr) in LAYER_FUNCS.items():
        mod = importlib.import_module(f"{PKG}.{mod_name}")
        owner, attr_name = mod, attr
        if "." in attr:
            cls_name, attr_name = attr.split(".")
            owner = getattr(mod, cls_name)
        fn = getattr(owner, attr_name)
        if hasattr(fn, "__wrapped_layer__"):
            continue
        setattr(owner, attr_name, tracer.wrap(name, fn))
