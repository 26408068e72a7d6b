"""Tracing for the catalog benchmark, kept outside the engine.

``Tracer.install`` replaces public entry points of ``lsd2_spark`` with
wrappers that record a span per call (name, start, end, parent, the
operation it belongs to).  Each benchmark operation runs under its own
Spark job group, so once the run ends the jobs, stages and task metrics
of every operation can be read back from the status tracker and the
status store.  Spans and counts stay in memory until ``finish``.

``NullTracer`` has the same interface and does nothing; untraced runs
use it so their timings carry no tracing cost.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import time
from dataclasses import dataclass, field

import numpy as np


@dataclass
class Span:
    sid: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    info: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Op:
    oid: int
    kind: str
    groups: list[str]  # the Spark job groups its jobs ran under


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def op(self, kind: str):
        yield {}

    @contextlib.contextmanager
    def span(self, name: str):
        yield {}

    def install(self) -> None:
        pass

    def uninstall(self) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self._stack: list[Span] = []
        self._op: Op | None = None
        self._ids = itertools.count()
        self._undo: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0

    # -- spans ------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        s = Span(
            next(self._ids), name, self._op.oid if self._op else None,
            self._stack[-1].sid if self._stack else None, 0.0,
        )
        self.spans.append(s)
        self._stack.append(s)
        self.bookkeeping_s += time.perf_counter() - t0
        s.start = time.perf_counter()
        try:
            yield s.info
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - s.end

    @contextlib.contextmanager
    def _group(self, group: str):
        """Run the enclosed Spark jobs under ``group``; restore after."""
        t0 = time.perf_counter()
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group, group)
        if self._op is not None and group not in self._op.groups:
            self._op.groups.append(group)
        self.bookkeeping_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(prev, prev)
            self.bookkeeping_s += time.perf_counter() - t1

    @contextlib.contextmanager
    def op(self, kind: str):
        oid = len(self.ops)
        with self.span(kind) as info:
            o = Op(oid, kind, [])
            self.ops.append(o)
            self._op = o
            self._stack[-1].op = oid
            try:
                with self._group(f"catbench-{oid}"):
                    yield info
            finally:
                self._op = None

    # -- patching ---------------------------------------------------------

    def _wrap(self, owner, attr: str, name: str, group: str | None = None, after=None):
        raw = owner.__dict__[attr]
        static = isinstance(raw, staticmethod)
        fn = raw.__func__ if static else raw
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as info:
                if group and tracer._op is not None:
                    with tracer._group(f"catbench-{tracer._op.oid}:{group}"):
                        out = fn(*args, **kwargs)
                else:
                    out = fn(*args, **kwargs)
                if after is not None:
                    after(info, args, out)
                return out

        setattr(owner, attr, staticmethod(wrapper) if static else wrapper)
        self._undo.append((owner, attr, raw))

    def install(self) -> None:
        from lsd2_spark import catalog, healpix
        from lsd2_spark.operators import crossmatch, margins

        def cover(info, args, out):
            info["order"], info["pixels"] = int(args[0]), out

        def cells(info, args, out):
            info["cells"] = len(out)

        cat = catalog.Catalog
        self._wrap(healpix, "cone_cover", "healpix.cone_cover", after=cover)
        self._wrap(cat, "load", "catalog.load")
        self._wrap(cat, "df", "catalog.df", group="df")
        self._wrap(cat, "cone_pruning_predicate", "catalog.prune", after=self._cells_hit)
        self._wrap(cat, "cone_search", "catalog.cone_search")
        self._wrap(cat, "append", "catalog.append")
        self._wrap(cat, "cross_match", "catalog.cross_match")
        self._wrap(catalog, "partition_catalog", "catalog.partition_catalog")
        self._wrap(catalog, "compute_partition_map", "plans.partition_map")
        self._wrap(crossmatch, "crossmatch_cells_plan", "plans.xmatch_cells", after=cells)
        self._wrap(margins, "write_margin_dataset", "margins.write")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, raw = self._undo.pop()
            setattr(owner, attr, raw)

    def _cells_hit(self, info, args, out) -> None:
        """Leaf cells the pruning predicate keeps: the covers computed
        inside this call, intersected with the catalog's coverage map."""
        me = self._stack[-1].sid
        hips = args[0].meta.hips
        n = 0
        for s in self.spans:
            if s.parent == me and s.name == "healpix.cone_cover":
                leaves = np.asarray(hips.get(s.info["order"], []), dtype=np.int64)
                n += len(np.intersect1d(s.info["pixels"], leaves))
                s.info.pop("pixels")
        info["cells_hit"] = n

    # -- read-back after the run ------------------------------------------

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def within(self, op: Op, name: str) -> list[Span]:
        return [s for s in self.spans if s.op == op.oid and s.name == name]

    def self_time(self, span: Span) -> float:
        """Duration minus the part its direct children cover."""
        return span.dur - sum(c.dur for c in self.children(span.sid))

    def jobs(self, op: Op, groups: list[str] | None = None) -> list[int]:
        st = self.sc.statusTracker()
        return sorted(
            j for g in (groups or op.groups) for j in st.getJobIdsForGroup(g)
        )

    def tasks(self, op: Op) -> dict[int, list[dict]]:
        """Finished tasks of every stage the operation ran, by stage id.
        Stages skipped because an earlier job computed them hold none."""
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out: dict[int, list[dict]] = {}
        for j in self.jobs(op):
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                if sid in out:
                    continue
                stage = st.getStageInfo(sid)
                if stage is None:
                    continue
                tl = store.taskList(sid, stage.currentAttemptId, 1 << 30)
                out[sid] = [_task(tl.apply(i)) for i in range(tl.size())]
        return out


def _task(t) -> dict:
    m = t.taskMetrics().get()
    start = t.launchTime().getTime() / 1000.0
    dur = t.duration().get() / 1000.0 if t.duration().isDefined() else 0.0
    return {
        "start": start,
        "end": start + dur,
        "run_s": m.executorRunTime() / 1000.0,
        "input_records": m.inputMetrics().recordsRead(),
        "shuffle_write_bytes": m.shuffleWriteMetrics().bytesWritten(),
        "shuffle_write_records": m.shuffleWriteMetrics().recordsWritten(),
        "shuffle_read_records": m.shuffleReadMetrics().recordsRead(),
    }


def scan_files(df) -> int:
    """Files read by the parquet scans of ``df``'s last execution."""
    total = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            todo.append(node.plan())
        else:
            if name == "FileSourceScanExec":
                m = node.metrics().get("numFiles")
                if m.isDefined():
                    total += int(m.get().value())
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
    return total
