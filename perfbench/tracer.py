"""Span and counter tracer for the benchmark, measured from outside the engine.

A span wraps one call into a layer's public function. It records its name,
start, end, parent span and op id, plus named row counts. When a Spark
session is attached, each span also records Spark counters:

* ``shuffle_write_mb``, ``failed_tasks``: diffs of the status store's
  executor summaries taken at the span's boundaries. These diffs are
  inclusive; the span's *self* share is its diff minus the diffs of its
  child spans, the same arithmetic as self time.
* ``jobs``, ``task_busy_s`` (summed task run time), ``spill_mb``: read from
  the stages of the jobs the span ran under its own job group (each span
  sets one on entry and restores its parent's on exit), so they are self
  values already. Task time comes from the stages because in local mode the
  executor summary's ``totalDuration`` does not sum task durations.

Spans are kept in memory and written out by the caller when the run ends.
``ProcTree`` reads CPU time and peak RSS (VmHWM) over a process tree from
``/proc`` (Linux only).
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: executor-summary counters, diffed at span boundaries (inclusive)
DIFF_COUNTERS = ("shuffle_write_mb", "failed_tasks")


@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    rows: dict = field(default_factory=dict)
    incl: dict = field(default_factory=dict)   # inclusive counter diffs
    group: dict = field(default_factory=dict)  # self counters of own jobs

    @property
    def wall(self) -> float:
        return self.end - self.start

    def count(self, key: str, value) -> None:
        self.rows[key] = self.rows.get(key, 0) + value


def covered(interval: tuple[float, float],
            children: list[tuple[float, float]]) -> float:
    """Length of the part of ``interval`` covered by the union of
    ``children`` (clipped to the interval)."""
    lo, hi = interval
    parts = sorted((max(a, lo), min(b, hi)) for a, b in children)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in parts:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_stats(spans: list[Span]) -> dict[int, dict]:
    """Per span id: ``self_s`` (wall minus the part its children cover) and
    the self share of every inclusive counter (own diff minus the sum of its
    children's diffs), plus the group counters as recorded."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        ch = kids.get(s.sid, [])
        st = {"self_s": s.wall - covered((s.start, s.end),
                                         [(c.start, c.end) for c in ch])}
        for k, v in s.incl.items():
            st[k] = v - sum(c.incl.get(k, 0.0) for c in ch)
        st.update(s.group)
        out[s.sid] = st
    return out


class SparkCounters:
    """Spark status-store reader: executor-summary snapshots and per-job-group
    job, task-time and spill totals. Every read first drains the listener bus, so the
    store reflects every task that ended before the read."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def snapshot(self) -> dict:
        self._bus.waitUntilEmpty()
        ex = self._store.executorList(True)
        shuffle_b = failed = 0
        for i in range(ex.size()):
            e = ex.apply(i)
            shuffle_b += e.totalShuffleWrite()
            failed += e.failedTasks()
        return {"shuffle_write_mb": shuffle_b / 2**20,
                "failed_tasks": float(failed)}

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def group_totals(self, group: str) -> dict:
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        run_ms = spilled = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # stage skipped or evicted from the store
                    continue
                run_ms += st.executorRunTime()
                spilled += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return {"jobs": float(len(jobs)), "task_busy_s": run_ms / 1000.0,
                "spill_mb": spilled / 2**20}


class Tracer:
    """In-memory span recorder. ``enabled`` is False for untraced runs, where
    ``span`` still yields a Span (so callers need no branches) but records
    nothing and ``force`` leaves DataFrames lazy."""

    def __init__(self, counters: SparkCounters | None = None,
                 enabled: bool = True, clock=time.perf_counter):
        self.counters = counters
        self.enabled = enabled
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._persisted: list = []
        self._next_sid = 0

    @contextmanager
    def span(self, name: str, op: int = -1):
        parent = self._stack[-1] if self._stack else None
        s = Span(self._next_sid, name, op,
                 parent.sid if parent else None, 0.0)
        self._next_sid += 1
        if not self.enabled:
            yield s
            return
        c = self.counters
        before = c.snapshot() if c else {}
        if c:
            c.set_group(f"perfbench-span-{s.sid}")
        self._stack.append(s)
        s.start = self.clock()
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()
            if c:
                after = c.snapshot()
                s.incl = {k: after[k] - before[k] for k in DIFF_COUNTERS}
                s.group = c.group_totals(f"perfbench-span-{s.sid}")
                c.set_group(f"perfbench-span-{parent.sid}" if parent
                            else None)
            self.spans.append(s)

    def force(self, df, span: Span, key: str = "rows"):
        """Materialize ``df`` at the current layer boundary (persist + count)
        so its cost lands in ``span``; a no-op when tracing is off."""
        if not self.enabled:
            return df
        df = df.persist()
        self._persisted.append(df)
        span.count(key, df.count())
        return df

    def release(self) -> None:
        """Unpersist every DataFrame ``force`` cached."""
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def op_summary(self, op: int) -> dict[str, dict]:
        """Per span name, summed over the op's spans: self time, self
        counters, row counts and wall; plus ``coverage`` of the op root's
        wall by its direct children."""
        spans = [s for s in self.spans if s.op == op]
        stats = self_stats(spans)
        out: dict[str, dict] = {}
        for s in spans:
            agg = out.setdefault(s.name, {"wall_s": 0.0})
            agg["wall_s"] += s.wall
            for k, v in list(stats[s.sid].items()) + list(s.rows.items()):
                agg[k] = agg.get(k, 0.0) + v
        roots = [s for s in spans if s.parent is None]
        if len(roots) == 1:
            r = roots[0]
            kids = [(s.start, s.end) for s in spans if s.parent == r.sid]
            out[r.name]["coverage"] = (
                covered((r.start, r.end), kids) / r.wall if r.wall else 0.0
            )
        return out

    def dump(self) -> list[dict]:
        return [
            {"sid": s.sid, "name": s.name, "op": s.op, "parent": s.parent,
             "start": s.start, "end": s.end, "rows": s.rows,
             "incl": s.incl, "group": s.group}
            for s in self.spans
        ]


def slot_idle_frac(task_busy_s: float, wall_s: float, cores: int) -> float:
    """1 - task_busy / (wall x cores): the share of task slots left idle."""
    if wall_s <= 0 or cores <= 0:
        return 0.0
    return 1.0 - task_busy_s / (wall_s * cores)


class ProcTree:
    """CPU seconds and peak RSS over a process and all its descendants.

    CPU is utime+stime plus the reaped children's cutime+cstime of every
    live process in the tree, so a worker that exits still counts once its
    parent reaps it. Peak RSS is the sum over every pid ever seen of the
    highest VmHWM read for it; call ``sample`` between operations so
    processes that exit later still contribute."""

    def __init__(self, root: int | None = None, proc: str = "/proc"):
        self.root = root or os.getpid()
        self.proc = proc
        self.tick = os.sysconf("SC_CLK_TCK")
        self.hwm_kb: dict[int, int] = {}

    def _stat(self, pid: int) -> list[str] | None:
        try:
            with open(f"{self.proc}/{pid}/stat") as f:
                raw = f.read()
        except OSError:
            return None
        return raw[raw.rindex(")") + 2:].split()

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir(self.proc):
            if not name.isdigit():
                continue
            st = self._stat(int(name))
            if st:
                children.setdefault(int(st[1]), []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, ()))
        return out

    def cpu_s(self) -> float:
        ticks = 0
        for pid in self.pids():
            st = self._stat(pid)
            if st:
                ticks += sum(int(x) for x in st[11:15])
        return ticks / self.tick

    def sample(self) -> None:
        for pid in self.pids():
            try:
                with open(f"{self.proc}/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            if kb > self.hwm_kb.get(pid, 0):
                                self.hwm_kb[pid] = kb
                            break
            except OSError:
                continue

    def peak_rss_mb(self) -> float:
        return sum(self.hwm_kb.values()) / 1024.0
