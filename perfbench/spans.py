"""Measurement plumbing that sees the program only from outside.

- ``Tracer``: spans (name, start, end, parent, run id) kept in memory
  and written once at the end. ``Tracer.wrap`` swaps a public function
  or method for a timing shim for the life of a ``with`` block.
- ``SparkLedger``: reads Spark's own status stores (jobs, stages, SQL
  plan metrics) for a wall-clock window of the driver.
- ``RssSampler``: peak resident memory of this process tree (the
  Python driver, its JVM and the JVM's Python workers).
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import threading
import time


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._ids = 0
        self.root: int | None = None  # parent for spans on helper threads

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._tls.__dict__.setdefault("stack", [])
        with self._lock:
            self._ids += 1
            sid = self._ids
        parent = stack[-1] if stack else self.root
        stack.append(sid)
        t0 = time.time()
        try:
            yield sid
        finally:
            t1 = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "start": t0, "end": t1,
                     "parent": parent, "run": self.run_id}
                )

    @contextlib.contextmanager
    def wrap(self, owner, attr: str, name):
        """Time every call of ``owner.attr`` (a module function or a
        class method) as a span until the block exits. ``name`` is the
        span name, or a callable of the call's (args, kwargs)."""
        orig = getattr(owner, attr)
        tracer = self

        def shim(*a, **kw):
            with tracer.span(name(a, kw) if callable(name) else name):
                return orig(*a, **kw)

        setattr(owner, attr, shim)
        try:
            yield
        finally:
            setattr(owner, attr, orig)

    def named(self, name: str, since: float = 0.0) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["start"] >= since]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


# ------------------------------------------------------------ Spark


_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VAL = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def _metric_total(text: str | None) -> float:
    """Total of one SQL plan metric as Spark formats it: either a
    bare value ('24 ms', '2.4 KiB', '100,000') or
    'total (min, med, max ...)\\n<total> (...)'. Bytes and seconds."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VAL.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


_SQL_METRICS = {
    "time to run Python workers": "python_s",
    "data sent to Python workers": "arrow_sent_b",
    "data returned from Python workers": "arrow_recv_b",
}


class SparkLedger:
    """Jobs, stages and plan metrics of the work the driver ran in a
    window. Jobs are attributed by job group or, for jobs submitted
    from helper threads that do not inherit the group, by submission
    time inside the window."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._gw = sc._gateway
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the stores hold the jobs that just finished."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, t0: float, t1: float, group: str | None = None) -> list[dict]:
        self.drain()
        out = []
        seq = self._store.jobsList(None)
        for i in range(seq.size()):
            j = seq.apply(i)
            sub = j.submissionTime()
            if not sub.isDefined():
                continue
            start = sub.get().getTime() / 1000.0
            g = j.jobGroup()
            mine = (g.isDefined() and g.get() == group) if group else False
            if not (mine or (t0 <= start <= t1)):
                continue
            end_o = j.completionTime()
            ids = j.stageIds()
            out.append({
                "id": j.jobId(), "start": start,
                "end": end_o.get().getTime() / 1000.0 if end_o.isDefined() else t1,
                "stages": [ids.apply(k) for k in range(ids.size())],
                "done_stages": j.numCompletedStages(),
            })
        return out

    def stages(self, stage_ids: set) -> list[dict]:
        empty = self._gw.jvm.java.util.ArrayList()
        seq = self._store.stageList(empty, False, False, self._gw.new_array(self._gw.jvm.double, 0), empty)
        out = []
        for i in range(seq.size()):
            s = seq.apply(i)
            if s.stageId() not in stage_ids or str(s.status().toString()) == "SKIPPED":
                continue
            out.append({
                "id": s.stageId(), "attempt": s.attemptId(), "tasks": s.numTasks(),
                "failed_tasks": s.numFailedTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "shuffle_write_b": s.shuffleWriteBytes(),
                "spill_b": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            })
        return out

    def task_skew(self, stage: dict) -> float:
        """max / median task duration of one stage."""
        seq = self._store.taskList(stage["id"], stage["attempt"], stage["tasks"])
        ds = []
        for i in range(seq.size()):
            d = seq.apply(i).duration()
            if d.isDefined():
                ds.append(float(d.get()))
        med = statistics.median(ds) if ds else 0.0
        return max(ds) / med if med > 0 else 0.0

    def sql_totals(self, job_ids: set) -> dict:
        tot = {v: 0.0 for v in _SQL_METRICS.values()}
        seq = self._sql.executionsList()
        for i in range(seq.size()):
            e = seq.apply(i)
            jobs = e.jobs()
            keys = jobs.keys().toSeq()
            if not any(keys.apply(k) in job_ids for k in range(keys.size())):
                continue
            vals = self._sql.executionMetrics(e.executionId())
            mets = e.metrics()
            for k in range(mets.size()):
                pm = mets.apply(k)
                key = _SQL_METRICS.get(pm.name())
                if key is None:
                    continue
                v = vals.get(pm.accumulatorId())
                if v.isDefined():
                    tot[key] += _metric_total(v.get())
        return tot

    def task_totals(self) -> tuple[int, int]:
        """(tasks run, tasks failed) over the whole session."""
        seq = self._store.executorList(True)
        done = failed = 0
        for i in range(seq.size()):
            e = seq.apply(i)
            done += e.totalTasks()
            failed += e.failedTasks()
        return done, failed


def busy_union(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Seconds of [t0, t1] covered by at least one interval."""
    covered, cur = 0.0, t0
    for a, b in sorted((max(a, t0), min(b, t1)) for a, b in intervals):
        if b <= cur:
            continue
        covered += b - max(a, cur)
        cur = b
    return covered


# ------------------------------------------------------------- memory


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


RSS_PERIOD_S = 0.25
RSS_TREE_EVERY = 8  # re-walk /proc for new processes every N samples


class RssSampler:
    """Polls /proc every ``RSS_PERIOD_S`` for the summed RSS of this
    process and all of its descendants; ``peak_mb`` is the largest sum
    seen. The process tree is re-read every ``RSS_TREE_EVERY`` samples,
    so each poll is a few small reads and adds little to the driver's
    own work."""

    def __init__(self):
        self._pids: list[int] = []
        self._n = 0
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)

    def sample(self) -> int:
        if self._n % RSS_TREE_EVERY == 0:
            self._pids = [os.getpid()] + descendants(os.getpid())
        self._n += 1
        total = 0
        for p in self._pids:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        self.peak = max(self.peak, total)
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(RSS_PERIOD_S)
