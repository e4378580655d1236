"""Span tracer for the benchmark's traced run.

Spans are recorded from OUTSIDE the program: ``patch_function`` and
``patch_method`` replace a layer's public function with a wrapper, on its
module or class and on every package module that bound the same function
object with ``from ... import name``. ``uninstall`` restores the
originals, so the untraced measurement runs the unmodified program.

A span has a name, start, end, parent and request id. Spans that can
launch Spark work carry their own Spark job group; once the listener bus
has drained, ``resolve`` reads each group's jobs, stages, tasks and
shuffle/input bytes from ``sc.statusTracker()`` and the status store.
Spans are kept in memory; ``summary`` aggregates them per layer.
"""

from __future__ import annotations

import contextlib
import sys
import threading
import time
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    rid: str | None
    phase: str
    group: str | None = None
    end: float = 0.0
    child_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    input_bytes: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


@dataclass
class LayerStats:
    calls: int = 0
    incl_s: float = 0.0
    self_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    input_bytes: int = 0


class Tracer:
    def __init__(self, spark_context_fn):
        self._sc = spark_context_fn
        self.spans: list[Span] = []
        self.phase = "setup"
        self._ids = iter(range(1 << 62))
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []
        self.bindings: dict[str, int] = {}
        self._pending: list[Span] = []
        self._counted: tuple[object, set[int]] = (None, set())

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def request(self, rid: str):
        """Tag every span opened by this thread inside the block."""
        prev = getattr(self._local, "rid", None)
        self._local.rid = rid
        try:
            yield
        finally:
            self._local.rid = prev

    @contextlib.contextmanager
    def span(self, name: str, spark_jobs: bool = False):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        sp = Span(sid, name, 0.0, parent.sid if parent else None,
                  getattr(self._local, "rid", None), self.phase)
        sc = self._sc() if spark_jobs else None
        if sc is not None:
            sp.group = f"perfbench-{sid}"
            sc._jsc.setJobGroup(sp.group, name, False)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if parent is not None:
                parent.child_s += sp.dur
            if sc is not None:
                # hand the thread's job group back to the enclosing span
                outer = next((s.group for s in reversed(stack) if s.group), None)
                if outer is None:
                    sc._jsc.clearJobGroup()
                else:
                    sc._jsc.setJobGroup(outer, "", False)
            with self._lock:
                self.spans.append(sp)
                if sp.group:
                    self._pending.append(sp)

    def wrap(self, name: str, fn, spark_jobs: bool):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name, spark_jobs):
                return fn(*args, **kwargs)
        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        return traced

    # ---------------------------------------------------------- patching

    def patch_function(self, module, attr: str, name: str,
                       spark_jobs: bool = True, wrapper=None) -> None:
        """Wrap ``module.attr`` and every package-module global bound to
        the same function object."""
        original = getattr(module, attr)
        wrapped = (wrapper or (lambda f: self.wrap(name, f, spark_jobs)))(original)
        n = 0
        for mod in list(sys.modules.values()):
            ns = getattr(mod, "__dict__", None)
            if (ns is not None and getattr(mod, "__name__", "").startswith(
                    module.__name__.split(".")[0]) and ns.get(attr) is original):
                self._undo.append((mod, attr, original))
                setattr(mod, attr, wrapped)
                n += 1
        self.bindings[f"{module.__name__}.{attr}"] = n

    def patch_method(self, cls, attr: str, name: str,
                     spark_jobs: bool = True, wrapper=None) -> None:
        original = cls.__dict__[attr]
        wrapped = (wrapper or (lambda f: self.wrap(name, f, spark_jobs)))(original)
        self._undo.append((cls, attr, original))
        setattr(cls, attr, wrapped)
        self.bindings[f"{cls.__module__}.{cls.__name__}.{attr}"] = 1

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    # ------------------------------------------------------- spark jobs

    def resolve(self) -> None:
        """Attach job/stage/task/byte counts to every span that owns a
        job group. Call before the SparkContext that ran them stops."""
        sc = self._sc()
        if sc is None:
            return
        with self._lock:
            pending, self._pending = self._pending, []
        if not pending:
            return
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        if self._counted[0] is not sc:  # stage ids restart with a context
            self._counted = (sc, set())
        counted = self._counted[1]
        for sp in pending:
            for jid in tracker.getJobIdsForGroup(sp.group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                sp.jobs += 1
                for sid in info.stageIds:
                    if sid in counted:  # a stage another job already ran
                        continue
                    counted.add(sid)
                    got = _stage_counts(store, sid)
                    if got is None:  # skipped: shuffle output reused
                        continue
                    sp.stages += 1
                    sp.tasks += got[0]
                    sp.shuffle_bytes += got[1]
                    sp.input_bytes += got[2]

    # ----------------------------------------------------------- summary

    def summary(self, phase: str) -> dict[str, LayerStats]:
        """Per span name: calls, inclusive and self time, and inclusive
        Spark counts (own jobs plus those of every descendant span)."""
        incl = {s.sid: [s.jobs, s.stages, s.tasks, s.shuffle_bytes,
                        s.input_bytes] for s in self.spans}
        for s in sorted(self.spans, key=lambda s: -s.sid):  # children first
            if s.parent is not None and s.parent in incl:
                acc = incl[s.parent]
                for i, v in enumerate(incl[s.sid]):
                    acc[i] += v
        out: dict[str, LayerStats] = {}
        for s in self.spans:
            if s.phase != phase:
                continue
            st = out.setdefault(s.name, LayerStats())
            st.calls += 1
            st.incl_s += s.dur
            st.self_s += s.self_s
            j = incl[s.sid]
            st.jobs += j[0]
            st.stages += j[1]
            st.tasks += j[2]
            st.shuffle_bytes += j[3]
            st.input_bytes += j[4]
        return out

    def coverage(self, phase: str, op_prefix: str = "op.") -> float:
        """Share of op wall time covered by the layer spans directly
        under each op span (children of one op run sequentially)."""
        ops = {s.sid: s for s in self.spans
               if s.phase == phase and s.name.startswith(op_prefix)}
        total = sum(s.dur for s in ops.values())
        covered = sum(s.dur for s in self.spans
                      if s.parent in ops and s.phase == phase)
        return covered / total if total > 0 else 0.0

    def dump(self) -> list[dict]:
        return [{"sid": s.sid, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "rid": s.rid, "phase": s.phase,
                 "self_s": s.self_s, "jobs": s.jobs, "stages": s.stages,
                 "tasks": s.tasks, "shuffle_bytes": s.shuffle_bytes,
                 "input_bytes": s.input_bytes} for s in self.spans]


def _stage_counts(store, stage_id: int) -> tuple[int, int, int] | None:
    """(completed tasks, shuffle read+write bytes, input bytes) of a
    stage's last attempt, or None when the stage was skipped."""
    try:
        sd = store.lastStageAttempt(stage_id)
    except Py4JJavaError:  # never submitted
        return None
    if sd.status().toString() != "COMPLETE":
        return None
    return (int(sd.numCompleteTasks()),
            int(sd.shuffleReadBytes()) + int(sd.shuffleWriteBytes()),
            int(sd.inputBytes()))


class TimedGuard:
    """Context manager around a lock guard: the time spent entering it
    is the ``name`` span (the wait for the lock)."""

    def __init__(self, tracer: Tracer, name: str, guard):
        self._tracer, self._name, self._guard = tracer, name, guard

    def __enter__(self):
        with self._tracer.span(self._name):
            return self._guard.__enter__()

    def __exit__(self, *exc):
        return self._guard.__exit__(*exc)
