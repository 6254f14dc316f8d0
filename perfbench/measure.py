"""Measurement from outside the engine: /proc process-tree CPU and memory,
Spark's status store, and in-memory spans.

Nothing here is imported by the engine.  The engine is observed through
the process tree rooted at this Python process (it, its JVM and the
JVM's Python workers) and through the JVM's AppStatusStore, which
Spark fills even with the UI disabled.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 1024 * 1024


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """`root` (default: this process) and every live descendant."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """utime + stime + cutime + cstime summed over `pids`, in seconds.
    The child terms carry workers that already exited and were reaped."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(b")") + 2:].split()
        ticks += sum(int(v) for v in fields[11:15])
    return ticks / _TICK


def tree_rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Background sampler of the process tree's resident memory.

    `window()` starts a new peak window and returns the previous one's
    peak.  The tree is re-discovered every `refresh_s`, so Python workers
    that start mid-pass are counted."""

    def __init__(self, period_s: float = 0.05, refresh_s: float = 0.5):
        self._period, self._refresh = period_s, refresh_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self):
        pids, found = process_tree(), time.monotonic()
        while not self._stop.wait(self._period):
            if time.monotonic() - found > self._refresh:
                pids, found = process_tree(), time.monotonic()
            rss = tree_rss_bytes(pids)
            with self._lock:
                self._peak = max(self._peak, rss)

    def window(self) -> int:
        rss = tree_rss_bytes(process_tree())
        with self._lock:
            peak, self._peak = max(self._peak, rss), rss
        return peak


class StatusStore:
    """Reads per-stage and per-job metrics from the JVM's AppStatusStore.

    Stage and job lists come back newest first, so each read walks only
    the entries created since the caller's watermark."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._jvm = self._sc._jvm
        self._gw = self._sc._gateway

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the final metrics of every finished job."""
        self._jsc.listenerBus().waitUntilEmpty()

    def watermark(self) -> tuple[int, int]:
        self.drain()
        stages, jobs = self._stages(), self._jobs()
        return (-1 if stages.isEmpty() else stages.head().stageId(),
                -1 if jobs.isEmpty() else jobs.head().jobId())

    def _stages(self):
        empty = self._gw.new_array(self._jvm.double, 0)
        return self._jsc.statusStore().stageList(
            self._jvm.java.util.ArrayList(), False, False, empty,
            self._jvm.java.util.ArrayList())

    def _jobs(self):
        return self._jsc.statusStore().jobsList(
            self._jvm.java.util.ArrayList())

    def since(self, mark: tuple[int, int], task_skew: bool = False) -> dict:
        """Totals over the stages and jobs created after `mark`."""
        self.drain()
        stage_mark, job_mark = mark
        out = {"shuffle_bytes": 0, "spill_bytes": 0, "run_ms": 0,
               "jobs": 0, "task_skew": 0.0}
        longest = None
        it = self._stages().iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() <= stage_mark:
                break
            run_ms = s.executorRunTime()
            out["shuffle_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.diskBytesSpilled()
            out["run_ms"] += run_ms
            if longest is None or run_ms > longest[0]:
                longest = (run_ms, s.stageId(), s.attemptId())
        it = self._jobs().iterator()
        while it.hasNext():
            if it.next().jobId() <= job_mark:
                break
            out["jobs"] += 1
        if task_skew and longest is not None:
            out["task_skew"] = self._skew(longest[1], longest[2])
        return out

    def _skew(self, stage_id: int, attempt: int) -> float:
        """max / median task run time of one stage."""
        q = self._gw.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        dist = self._jsc.statusStore().taskSummary(stage_id, attempt, q)
        if not dist.isDefined():
            return 0.0
        run = dist.get().executorRunTime()
        med, top = run.apply(0), run.apply(1)
        return top / med if med > 0 else 1.0


@dataclass
class Span:
    name: str
    parent: int | None
    pass_id: int
    start: float
    end: float = 0.0
    rows_out: int = 0
    counters: dict = field(default_factory=dict)


_ADDITIVE = ("wall_s", "cpu_s", "shuffle_bytes", "spill_bytes", "run_ms",
             "jobs")


class Tracer:
    """Spans around each call into an engine module.

    Each span labels the jobs it starts with its own Spark job group.  Its
    counters are the stages and jobs created while it was open (passes
    run one at a time, so nothing else creates any), and `self_counters`
    takes its child spans' share out.  Spans stay in memory; `dump`
    returns them for writing out at the end of the run."""

    def __init__(self, spark, store: StatusStore):
        self._sc = spark.sparkContext
        self._store = store
        self.spans: list[Span] = []
        self._open: list[int] = []
        self.pass_id = -1
        self.cost_s = 0.0       # time spent in the tracer's own bookkeeping

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._open[-1] if self._open else None
        idx = len(self.spans)
        mark = self._store.watermark()
        cpu0 = tree_cpu_s(process_tree())
        sp = Span(name, parent, self.pass_id, 0.0)
        self.spans.append(sp)
        self._open.append(idx)
        self._sc.setJobGroup(f"bench:{idx}:{name}", name)
        sp.start = time.perf_counter()
        self.cost_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._open.pop()
            group = self._open[-1] if self._open else None
            if group is None:
                self._sc.setJobGroup("bench", "bench")
            else:
                g = self.spans[group]
                self._sc.setJobGroup(f"bench:{group}:{g.name}", g.name)
            sp.counters = self._store.since(mark, task_skew=True)
            sp.counters["cpu_s"] = tree_cpu_s(process_tree()) - cpu0
            sp.counters["wall_s"] = sp.end - sp.start
            sp.counters["rows_out"] = sp.rows_out
            self.cost_s += time.perf_counter() - sp.end

    def add_rows(self, n: int) -> None:
        """Credit `n` output rows to the innermost open span."""
        self.spans[self._open[-1]].rows_out += n

    def self_counters(self, idx: int) -> dict:
        """A span's counters minus those of its direct children: its self
        time, and the jobs, bytes and CPU of work no child span covers.
        Children run one after another, so their durations do not
        overlap."""
        out = dict(self.spans[idx].counters)
        for kid in self.spans[idx + 1:]:
            if kid.parent == idx:
                for key in _ADDITIVE:
                    out[key] -= kid.counters[key]
        return out

    def dump(self) -> list[dict]:
        return [{"name": s.name, "parent": s.parent, "pass_id": s.pass_id,
                 "start": s.start, "end": s.end, **s.counters}
                for s in self.spans]
