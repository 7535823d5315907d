"""Outside-in measurement for the benchmark.

Three independent pieces, none of which edits the engine:

- :class:`ProcTree` reads ``/proc`` for the CPU time and RSS of this
  process and all its descendants (the Spark JVM, the Python workers it
  forks, and the mapper/reducer children those workers reap), and
  :class:`RssSampler` keeps the peak of the tree's summed RSS.
- :func:`spark_counters` reads one job group's jobs and stages from
  Spark's status store (works with the UI off).
- :class:`Tracer` wraps the engine's public functions by replacing
  module attributes, recording spans (name, start, end, parent, op id)
  in memory; :meth:`Tracer.dump` writes them once at exit. A span's
  self time is its duration minus the time its child spans cover.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> tuple[int, str, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:  # the process ended between listdir and open
        return None
    head, _, rest = raw.rpartition(")")
    comm = head.partition("(")[2]
    fields = rest.split()
    return int(fields[1]), comm, fields


class ProcTree:
    """The process tree rooted at this interpreter."""

    def __init__(self) -> None:
        self.root = os.getpid()

    def _members(self) -> list[tuple[int, str, list[str]]]:
        stats: dict[int, tuple[int, str, list[str]]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(name)
                if st is not None:
                    stats[int(name)] = st
        children: dict[int, list[int]] = defaultdict(list)
        for pid, (ppid, _, _) in stats.items():
            children[ppid].append(pid)
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                ppid, comm, fields = stats[pid]
                out.append((pid, comm, fields))
                todo.extend(children.get(pid, ()))
        return out

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds by category: ``driver`` (this
        interpreter), ``jvm`` (the Spark JVM's own threads) and
        ``pyworker`` (everything below the JVM, plus every child any
        member has reaped, so finished mapper/reducer processes still
        count)."""
        acc = {"driver": 0, "jvm": 0, "pyworker": 0}
        for pid, comm, f in self._members():
            own = int(f[11]) + int(f[12])
            reaped = int(f[13]) + int(f[14])
            if pid == self.root:
                acc["driver"] += own + reaped
            elif comm == "java":
                acc["jvm"] += own
                acc["pyworker"] += reaped
            else:
                acc["pyworker"] += own + reaped
        return {k: v / _TICK for k, v in acc.items()}

    def rss_mb(self) -> float:
        """Summed RSS of the tree. A child caught between spawn and exec
        still shares its parent's memory (vfork, posix_spawn) or its
        pages (fork) and reports the parent's vsize and RSS; counting it
        would add the whole parent again for that instant, so a member
        whose (vsize, RSS) equals its parent's is skipped. (Summed PSS
        from ``smaps_rollup`` would need no such rule, but reading it
        for the JVM costs ~16 ms of CPU per sample.)"""
        members = {pid: f for pid, _, f in self._members()}
        pages = 0
        for f in members.values():
            parent = members.get(int(f[1]))
            if parent is None or (parent[20], parent[21]) != (f[20], f[21]):
                pages += int(f[21])
        return pages * _PAGE / 1e6


class RssSampler:
    """Background thread keeping the peak summed RSS of a ProcTree."""

    def __init__(self, tree: ProcTree, interval: float = 0.1) -> None:
        self._tree = tree
        self._interval = interval
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self.peak_mb = 0.0

    def _loop(self) -> None:
        while not self._stop.is_set():
            rss = self._tree.rss_mb()
            with self._lock:
                self.peak_mb = max(self.peak_mb, rss)
            self._stop.wait(self._interval)

    def take_peak(self) -> float:
        """The peak since the previous call (or the start), then reset."""
        with self._lock:
            peak, self.peak_mb = max(self.peak_mb, self._tree.rss_mb()), 0.0
        return peak

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine since boot, from
    ``/proc/stat``: time the hypervisor gave this machine's CPUs to
    others."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _opt(x):
    """Scala Option -> Python value or None."""
    return x.get() if x.isDefined() else None


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def spark_counters(spark, group: str) -> dict[str, float]:
    """Sum the status-store metrics of every job in ``group``.

    Returns job/stage/task counts, executor run/CPU/GC seconds, shuffle
    and spill megabytes, and ``job_intervals`` (epoch seconds) so the
    caller can find the part of an op's wall time with no job running."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10000)
    store = jsc.statusStore()
    out = defaultdict(float)
    intervals = []
    stage_ids = set()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(job_id)
        out["jobs"] += 1
        out["tasks"] += job.numTasks()
        out["failed_tasks"] += job.numFailedTasks()
        sub, end = _opt(job.submissionTime()), _opt(job.completionTime())
        if sub is not None and end is not None:
            intervals.append((sub.getTime() / 1e3, end.getTime() / 1e3))
        stage_ids.update(int(s) for s in _scala_iter(job.stageIds()))
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — pruned or never-run (skipped) stage
            continue
        if st.numCompleteTasks() == 0 and st.numFailedTasks() == 0:
            continue  # skipped: its shuffle output was reused
        out["stages"] += 1
        out["executor_run_s"] += st.executorRunTime() / 1e3
        out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
        out["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
        out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
    res = dict(out)
    res["job_intervals"] = intervals
    return res


def uncovered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] not covered by any interval."""
    covered, cur = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, end)
        if b > a:
            covered += b - a
            cur = b
    return max(0.0, end - start - covered)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """In-memory span recorder with module-attribute wrappers.

    ``enabled`` gates recording, so the same process can alternate
    traced and untraced passes and measure its own overhead."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.op: int | None = None  # op id the next spans belong to
        self.op_span: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            parent = stack[-1] if stack else self.op_span
            sp = Span(sid, name, time.perf_counter(), 0.0, parent, self.op)
            self.spans.append(sp)
        stack.append(sid)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter()

    def record(self, name: str, start: float, end: float) -> None:
        """Add a span measured elsewhere (perf_counter times)."""
        if not self.enabled:
            return
        stack = self._local.__dict__.get("stack")
        with self._lock:
            parent = stack[-1] if stack else self.op_span
            self.spans.append(Span(len(self.spans), name, start, end, parent, self.op))

    def wrap(self, owner, attr: str, name: str, on_enter=None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper; ``on_enter``
        runs first on the calling thread (used to tag Spark jobs)."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            if on_enter is not None:
                on_enter()
            with tracer.span(name):
                return orig(*args, **kwargs)

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def self_times(self) -> list[tuple[Span, float]]:
        child = defaultdict(float)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.end - sp.start
        return [(sp, (sp.end - sp.start) - child[sp.id]) for sp in self.spans]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {
                        "id": sp.id,
                        "name": sp.name,
                        "start": sp.start,
                        "end": sp.end,
                        "parent": sp.parent,
                        "op": sp.op,
                        "self_s": st,
                    }
                    for sp, st in self.self_times()
                ],
                fh,
            )
