"""Spans around the library's public entry points, for the traced run.

The untraced run never imports this module. The traced run installs
wrappers from here around the functions in ``ENTRY_POINTS``; each call
becomes a span (name, start, end, parent, trace id) kept in memory. Calls
that can run Spark jobs also get their own job group, and after the run
the jobs, stages, tasks, shuffle bytes and stage-active time of every
group are read from the status tracker and the JVM status store.
"""

from __future__ import annotations

import importlib
import itertools
import json
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from stats import clipped_union, self_time

#: (module, owner class or None, attribute, span name, own job group)
ENTRY_POINTS = [
    ("mongodb_cdc_delta_spark.cdc.pipeline", "CDCIngestor", "ingest_batch", "cdc.ingest_batch", True),
    ("mongodb_cdc_delta_spark.schema.types", None, "merge_schemas", "schema.merge_schemas", False),
    ("mongodb_cdc_delta_spark.schema.types", None, "cast_to_schema", "schema.cast_to_schema", False),
    ("mongodb_cdc_delta_spark.sinks.table", "LakeTable", "append", "sinks.append", True),
    ("mongodb_cdc_delta_spark.sinks.table", "LakeTable", "schema", "sinks.log_read", False),
    ("mongodb_cdc_delta_spark.sinks.table", "LakeTable", "version", "sinks.log_read", False),
    ("mongodb_cdc_delta_spark.sinks.table", "LakeTable", "txn_version", "sinks.log_read", False),
    ("mongodb_cdc_delta_spark.quality.reliability", None, "retry_call", "quality.retry_call", False),
]


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    trace: str = ""
    group: str | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans; ``install``/``uninstall`` patch the entry points."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        #: seconds spent in tracer bookkeeping inside the measured calls
        self.bookkeeping_s = 0.0

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, trace: str | None = None, group: bool = True):
        """A span around the benchmark's own call (a batch or a query)."""
        sp = self._open(name, trace, group)
        try:
            yield sp
        finally:
            self._close(sp)

    def _open(self, name: str, trace: str | None, group: bool) -> Span:
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = Span(
            id=next(self._ids),
            name=name,
            start=0.0,
            parent=parent.id if parent else None,
            trace=trace if trace is not None else (parent.trace if parent else ""),
        )
        if group:
            sp.group = f"pb-{sp.id}"
            self.spark.sparkContext.setJobGroup(sp.group, name)
        stack.append(sp)
        with self._lock:
            self.spans.append(sp)
            self.bookkeeping_s += time.perf_counter() - t0
        sp.start = time.time()
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.time()
        t0 = time.perf_counter()
        stack = self._stack()
        stack.pop()
        if sp.group is not None:
            outer = next((s.group for s in reversed(stack) if s.group), None)
            sc = self.spark.sparkContext
            if outer is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(outer, outer)
        with self._lock:
            self.bookkeeping_s += time.perf_counter() - t0

    # ------------------------------------------------------------ patching

    def install(self) -> None:
        """Wrap every entry point, including names other library modules
        imported with ``from … import``."""
        # import every module first, so the scan below sees all bindings
        mods = {mod_name: importlib.import_module(mod_name) for mod_name, *_ in ENTRY_POINTS}
        for mod_name, owner, attr, name, group in ENTRY_POINTS:
            mod = mods[mod_name]
            if owner is not None:
                cls = getattr(mod, owner)
                self._patch(cls, attr, self._wrap(getattr(cls, attr), name, group))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, name, group, retry=attr == "retry_call")
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("mongodb_cdc_delta_spark") and (
                    getattr(m, attr, None) is orig
                ):
                    self._patch(m, attr, wrapped)

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._undo):
            setattr(obj, attr, orig)
        self._undo.clear()

    def _patch(self, obj, attr: str, new) -> None:
        self._undo.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, new)

    def _wrap(self, fn, name: str, group: bool, retry: bool = False):
        tracer = self

        def traced(*args, **kwargs):
            sp = tracer._open(name, None, group)
            try:
                if retry:
                    inner = args[0]

                    def counted():
                        sp.attrs["attempts"] = sp.attrs.get("attempts", 0) + 1
                        return inner()

                    args = (counted, *args[1:])
                out = fn(*args, **kwargs)
                if name == "cdc.ingest_batch":
                    written = [c for c in out.collections.values() if not c.get("skipped")]
                    sp.attrs.update(
                        files=sum(c.get("files", 0) for c in written),
                        commits=len(written) + bool(out.dlq_rows),
                    )
                return out
            finally:
                tracer._close(sp)

        traced.__wrapped__ = fn
        return traced

    # ------------------------------------------------------------ spark

    def collect_spark(self) -> None:
        """Attach jobs, stages, tasks, shuffle write bytes and stage-active
        intervals to every span that had a job group."""
        from py4j.protocol import Py4JJavaError

        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        for sp in self.spans:
            if sp.group is None or "jobs" in sp.attrs:
                continue
            jobs = tracker.getJobIdsForGroup(sp.group)
            stages, tasks, shuffle, intervals = 0, 0, 0, []
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # a skipped stage has no attempt
                        continue
                    stages += 1
                    tasks += st.numTasks()
                    shuffle += st.shuffleWriteBytes()
                    sub, done = st.submissionTime(), st.completionTime()
                    if sub.isDefined() and done.isDefined():
                        intervals.append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
            sp.attrs.update(
                jobs=len(jobs), stages=stages, tasks=tasks, shuffle_write_bytes=shuffle, stage_intervals=intervals
            )

    # ------------------------------------------------------------ summaries

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                out.setdefault(sp.parent, []).append(sp)
        return out

    def subtree_sum(self, sp: Span, kids: dict[int, list[Span]], key: str) -> int:
        return sp.attrs.get(key, 0) + sum(self.subtree_sum(c, kids, key) for c in kids.get(sp.id, []))

    def subtree_intervals(self, sp: Span, kids: dict[int, list[Span]]) -> list[tuple[float, float]]:
        out = list(sp.attrs.get("stage_intervals", []))
        for c in kids.get(sp.id, []):
            out += self.subtree_intervals(c, kids)
        return out

    def layer_summary(self, per: int, window: tuple[float, float]) -> dict[str, float]:
        """Per-layer totals of the spans that started inside the measured
        ``window`` (epoch seconds), divided by its ``per`` operations."""
        kids = self.children()
        by_id = {sp.id: sp for sp in self.spans}
        acc: dict[str, float] = {}

        def add(key: str, v: float) -> None:
            acc[key] = acc.get(key, 0.0) + v

        for sp in self.spans:
            if not window[0] <= sp.start <= window[1]:
                continue
            dur = sp.end - sp.start
            # count a span once per chain of same-named ancestors (log reads
            # nest inside log reads when one public call uses another)
            nested = False
            p = sp.parent
            while p is not None:
                if by_id[p].name == sp.name:
                    nested = True
                    break
                p = by_id[p].parent
            if nested:
                continue
            add(f"{sp.name}.calls", 1)
            add(f"{sp.name}.s", dur)
            if sp.name == "cdc.ingest_batch":
                add("cdc.ingest_batch.self_s", self_time(sp.start, sp.end, [(c.start, c.end) for c in kids.get(sp.id, [])]))
                add("cdc.ingest_batch.jobs", self.subtree_sum(sp, kids, "jobs"))
                add("cdc.ingest_batch.tasks", self.subtree_sum(sp, kids, "tasks"))
                add("sinks.files_written", sp.attrs.get("files", 0))
                add("sinks.commits", sp.attrs.get("commits", 0))
            if sp.name == "quality.retry_call":
                add("quality.retry_call.attempts", sp.attrs.get("attempts", 0))
        return {k: v / max(per, 1) for k, v in acc.items()}

    def query_profile(self, sp: Span) -> dict[str, float]:
        """Jobs, tasks, shuffle bytes and driver gap of one query span."""
        kids = self.children()
        dur = sp.end - sp.start
        busy = clipped_union(sp.start, sp.end, self.subtree_intervals(sp, kids))
        return {
            "s": dur,
            "jobs": self.subtree_sum(sp, kids, "jobs"),
            "tasks": self.subtree_sum(sp, kids, "tasks"),
            "shuffle_write_bytes": self.subtree_sum(sp, kids, "shuffle_write_bytes"),
            "driver_gap_s": dur - busy,
        }

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                rec = {k: v for k, v in sp.__dict__.items() if k != "attrs"}
                rec.update({k: v for k, v in sp.attrs.items() if k != "stage_intervals"})
                fh.write(json.dumps(rec) + "\n")

