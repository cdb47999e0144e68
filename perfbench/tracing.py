"""In-memory spans around the engine's public entry points, for the traced run.

The tracer never edits engine code. It replaces module attributes that the
pipeline, CLI and streaming code look up at call time (for example
``flink_job_spark.pipeline.freeze_cutoff``) with wrappers that record a span
and tag the Spark jobs the call launches with a job group of the span's own.
``uninstall`` puts the originals back.

A span has a name, start, end, parent and op id. Its self time is its
duration minus the part of that interval its child spans cover.

Two layers run inline inside ``snapshot_ingest`` rather than behind a
function of their own: the baseline ``COUNT`` under the cutoff and the
parquet write. They are recorded as *gap spans*: the span opens when the
call before it returns (``freeze_cutoff`` / ``row_hash_sql_expr``) and
closes at the next traced call on the same thread (``snapshot_scan`` /
``run_consistency_check``).
"""

from __future__ import annotations

import contextlib
import importlib
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    op: int
    group: str | None = None       # Spark job group of a main-thread span
    prev_group: str | None = None  # the group to restore when it ends


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.op_id = -1
        self.op_root: int | None = None
        # per-thread open spans and open gap span; the foreachBatch callback
        # runs on its own thread while the main thread waits in the stream
        self._stacks: dict[int, list[Span]] = {}
        self._gaps: dict[int, Span] = {}
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._main = threading.get_ident()

    # -- span bookkeeping ---------------------------------------------------

    def _stack(self) -> list[Span]:
        return self._stacks.setdefault(threading.get_ident(), [])

    def _close_gap(self) -> None:
        gap = self._gaps.pop(threading.get_ident(), None)
        if gap is not None:
            self._end(gap)

    def _open_gap(self, name: str) -> None:
        self._gaps[threading.get_ident()] = self._begin(name)

    def _begin(self, name: str) -> Span:
        stack = self._stack()
        # a callback thread's first span hangs under the main thread's
        # innermost open span (the call it runs inside of)
        main = self._stacks.get(self._main) or []
        parent = stack[-1].id if stack else (main[-1].id if main else self.op_root)
        with self._lock:
            span = Span(len(self.spans), name, time.perf_counter(), None, parent, self.op_id)
            self.spans.append(span)
        if threading.get_ident() == self._main:
            # jobs started from the main thread carry the span's group; the
            # foreachBatch callback thread is left in the streaming query's
            # own group (its run id), which the listener reports
            sc = self.spark.sparkContext
            span.group = f"pb-{self.op_id}-{span.id}"
            span.prev_group = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(span.group, name)
        stack.append(span)
        return span

    def _end(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        if span.group is not None:
            # None removes the property: jobs run outside any group again
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", span.prev_group)

    @contextlib.contextmanager
    def span(self, name: str):
        self._close_gap()
        s = self._begin(name)
        try:
            yield s
        finally:
            self._close_gap()
            self._end(s)

    @contextlib.contextmanager
    def op(self, op: int, name: str):
        """The root span of one op; spans opened inside it carry its op id."""
        self.op_id, self.op_root = op, None
        with self.span(name) as root:
            self.op_root = root.id
            yield root

    # -- wrapping -----------------------------------------------------------

    def wrap(self, module: str, attr: str, name: str, then: str | None = None,
             wrap_result: str | None = None) -> None:
        """Replace ``module.attr`` with a traced wrapper. ``then`` opens a gap
        span after the call returns; ``wrap_result`` wraps the returned
        callable (a factory's product) in a span of that name."""
        mod = importlib.import_module(module)
        fn = getattr(mod, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if then is not None:
                tracer._open_gap(then)
            if wrap_result is not None:
                inner = out

                def traced(*a, **kw):
                    with tracer.span(wrap_result):
                        return inner(*a, **kw)
                return traced
            return out

        self._patches.append((mod, attr, fn))
        setattr(mod, attr, wrapper)

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._patches):
            setattr(mod, attr, fn)
        self._patches.clear()

    # -- results ------------------------------------------------------------

    def finished(self) -> list[Span]:
        return [s for s in self.spans if s.end is not None]

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        children: dict[int, list[Span]] = {}
        for s in self.finished():
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.finished():
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.id] = (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        self_t = self.self_times()
        with open(path, "w") as fh:
            json.dump([dict(asdict(s), self_s=self_t.get(s.id)) for s in self.finished()], fh)


def job_counts(spark, groups: list[str]) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under ``groups``, from statusTracker."""
    st = spark.sparkContext.statusTracker()
    jobs = stages = tasks = 0
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is not None:
                    stages += 1
                    tasks += stage.numTasks
    return jobs, stages, tasks


class StreamProgress:
    """Collects ``durationMs`` and row counts of every micro-batch through a
    ``StreamingQueryListener``, plus each query's run id (its job group)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.batches: list[dict] = []
        self.run_ids: list[str] = []
        self.terminated: set[str] = set()
        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                outer.run_ids.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                outer.batches.append({"run": str(p.runId), "batch": p.batchId,
                                      "rows": p.numInputRows,
                                      "ms": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer.terminated.add(str(event.runId))

        self.listener = _L()
        spark.streams.addListener(self.listener)

    def wait_terminated(self, timeout: float = 10.0) -> None:
        """Listener events arrive asynchronously; wait until every started
        query's termination event has been delivered."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if set(self.run_ids) <= self.terminated:
                return
            time.sleep(0.02)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)
