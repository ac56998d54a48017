"""Measurement from outside the program: spans, Spark status store, /proc.

Nothing here edits the crawl package. Spans come from wrapping the public
entry points of each layer at run time (``CrawlEngine.init_state``/``run``,
every public ``SnapshotStore`` method, and the engine's writer pool), and each
span sets the Spark job group of its calling thread, so every job a layer
submits carries the id of the span that caused it. Spans stay in memory
until the run ends.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

_GROUP = "spark.jobGroup.id"
_CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float


class Tracer:
    """In-memory span recorder; one per traced crawl."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sid = next(self._ids)
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, group_of(sid))
        stack.append(sid)
        t0 = time.time()
        try:
            yield sid
        finally:
            t1 = time.time()
            stack.pop()
            self.sc.setLocalProperty(_GROUP, prev)
            with self._lock:
                self.spans.append(Span(sid, name, parent, t0, t1))


def group_of(sid: int) -> str:
    return f"perfbench-{sid}"


def sid_of(group: str | None) -> int | None:
    if group and group.startswith("perfbench-"):
        return int(group.rsplit("-", 1)[1])
    return None


@contextmanager
def instrumented(tracer: Tracer):
    """Wrap the layer entry points in spans for the duration of the block."""
    from twitter_crawler_spark.crawl import engine as engine_mod
    from twitter_crawler_spark.crawl.state import SnapshotStore

    saved: list[tuple[object, str, object]] = []

    def wrap(owner, attr: str, name: str) -> None:
        orig = owner.__dict__[attr]

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        saved.append((owner, attr, orig))
        setattr(owner, attr, traced)

    wrap(engine_mod.CrawlEngine, "init_state", "engine.init_state")
    wrap(engine_mod.CrawlEngine, "run", "engine.run")
    for attr, member in vars(SnapshotStore).items():
        if not attr.startswith("_") and inspect.isfunction(member):
            wrap(SnapshotStore, attr, f"state.{attr}")

    base_pool = engine_mod.ThreadPoolExecutor

    class TracedPool(base_pool):
        """The engine's writer pool: each task runs in a span whose parent is
        the span that submitted it, so jobs from pool threads are attributed."""

        def submit(self, fn, /, *args, **kwargs):
            parent = tracer.current()
            name = f"engine.pool.{getattr(fn, '__name__', 'task')}"

            def task():
                with tracer.span(name, parent=parent):
                    return fn(*args, **kwargs)

            return super().submit(task)

    saved.append((engine_mod, "ThreadPoolExecutor", base_pool))
    engine_mod.ThreadPoolExecutor = TracedPool
    try:
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


# ---------------------------------------------------------------- intervals


def union_s(intervals) -> float:
    """Length of the union of (start, end) intervals."""
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


def clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


# ---------------------------------------------------------------- /proc CPU


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[1] = ppid, [11..14] = utime stime cutime cstime (clock ticks)
    ticks = sum(int(x) for x in fields[11:15])
    return int(fields[1]), ticks / _CLK_TCK


def proc_cpu() -> dict[str, float]:
    """CPU seconds of this process tree, split into the driver (this Python
    process), the JVM (its java child) and everything the JVM spawned (the
    Python workers). A process that exited was reaped by its parent, whose
    cutime/cstime now hold it, so differences of two readings are exact."""
    me = os.getpid()
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                stats[int(d)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)

    def tree(pid: int) -> float:
        return stats[pid][1] + sum(tree(c) for c in children.get(pid, []))

    out = {"driver": stats[me][1], "jvm": 0.0, "py_worker": 0.0}
    for c in children.get(me, []):
        out["jvm"] += stats[c][1]
        out["py_worker"] += sum(tree(g) for g in children.get(c, []))
    return out


# ---------------------------------------------------------------- status store


def last_job_id(sc) -> int:
    """Highest job id submitted so far (-1 if none); jobsList is newest first."""
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return jobs.apply(0).jobId() if jobs.size() else -1


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def read_status_store(sc, first_job: int) -> tuple[list[dict], dict[int, dict]]:
    """Jobs with id >= ``first_job`` and the last attempt of each of their
    stages (skipped stages included, marked by their status)."""
    store = sc._jsc.sc().statusStore()
    jobs = []
    listed = store.jobsList(None)  # newest first
    for i in range(listed.size()):
        j = listed.apply(i)
        if j.jobId() < first_job:
            break
        sub, comp = _opt(j.submissionTime()), _opt(j.completionTime())
        jobs.append({
            "id": j.jobId(),
            "group": _opt(j.jobGroup()),
            "start": sub.getTime() / 1000 if sub is not None else None,
            "end": comp.getTime() / 1000 if comp is not None else None,
            "stages": _seq(j.stageIds()),
        })
    stages: dict[int, dict] = {}
    for sid in sorted({s for j in jobs for s in j["stages"]}):
        s = store.lastStageAttempt(sid)
        stages[sid] = {
            "status": s.status().toString(),
            "tasks": s.numTasks(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "shuffle_read": s.shuffleReadBytes(),
            "shuffle_write": s.shuffleWriteBytes(),
            "input": s.inputBytes(),
        }
    return jobs, stages
