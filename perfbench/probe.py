"""Measurement instruments the benchmark drives from outside the engine.

- :class:`ProcTree` reads CPU time and peak resident memory of this
  process and all its descendants (the JVM and the Python workers) from
  /proc.
- :class:`Tracer` records spans around calls into the engine's public
  functions. Each span runs under its own Spark job group, so the jobs a
  call fires are attributed to the innermost span that fired them.
- :class:`StatusReader` reads, right after a unit of work finishes, the
  jobs, stages and task metrics of each of the unit's job groups from
  Spark's in-process status store.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict

_CLK = os.sysconf("SC_CLK_TCK")


class ProcTree:
    """CPU seconds and peak resident memory of a process tree, from /proc.

    Peak memory is each process's kernel high-water mark (``VmHWM``),
    taken as the largest value seen while the process was in the tree;
    sampling only has to find each process once, not catch the moment of
    its peak. :meth:`peak_rss` sums it by kind of process: the JVM, or
    Python (the driver and its workers).
    """

    def __init__(self, interval: float = 0.2):
        self.root = os.getpid()
        self.interval = interval
        self._hwm: dict[int, int] = {}
        self._comm: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _pids(self) -> list[int]:
        children = defaultdict(list)
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        """utime + stime of every live process in the tree, plus the
        cutime + cstime each has collected from its exited children."""
        total = 0
        for pid in self._pids():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        return total / _CLK

    @staticmethod
    def hwm_bytes(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) * 1024
        except (OSError, IndexError, ValueError):
            pass
        return 0

    def sample(self) -> None:
        for pid in self._pids():
            # read each time: the JVM starts as the spark-submit script
            # and execs java under the same pid
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    self._comm[pid] = fh.read().strip()
            except OSError:
                continue
            self._hwm[pid] = max(self._hwm.get(pid, 0), self.hwm_bytes(pid))

    def peak_rss(self, jvm: bool) -> int:
        """Sum of the peaks of the JVM (``jvm``) or of the other
        processes."""
        return sum(v for pid, v in self._hwm.items()
                   if (self._comm.get(pid) == "java") == jvm)

    def start(self) -> None:
        def loop() -> None:
            while not self._stop.wait(self.interval):
                self.sample()

        self._thread = threading.Thread(target=loop, name="proc-tree",
                                        daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()


def host_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from /proc/stat: CPU time
    the hypervisor gave to other guests, a cause of wall-time noise."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


class Tracer:
    """In-memory spans (id, parent, name, layer, unit, start, end).

    ``span`` doubles as the job-group scope: while a span is open, Spark
    jobs the driver thread fires carry the group ``pb-<id>``. Spans are
    kept in memory and written once, by :meth:`dump`, at the end of the
    run.
    """

    def __init__(self):
        self.sc = None    # set once the session is up
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0
        self.unit: str | None = None
        self.enabled = True

    def group(self, span: dict) -> str:
        return f"pb-{span['id']}"

    def _set_group(self, span: dict | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(self.group(span), span["name"])

    def open(self, name: str, layer: str) -> dict:
        parent = self._stack[-1]["id"] if self._stack else None
        span = {"id": self._next, "parent": parent, "name": name,
                "layer": layer, "unit": self.unit, "start": 0.0, "end": 0.0}
        self._next += 1
        self._stack.append(span)
        self._set_group(span)
        span["start"] = time.monotonic()
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.monotonic()
        self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)
        self.spans.append(span)

    def call(self, name: str, layer: str, fn, *args, **kw):
        if not self.enabled:
            return fn(*args, **kw)
        span = self.open(name, layer)
        try:
            return fn(*args, **kw)
        finally:
            self.close(span)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kw):
            return self.call(name, layer, fn, *args, **kw)

        return traced

    @staticmethod
    def self_times(spans: list[dict]) -> dict[str, float]:
        """Self time per layer: each span's duration minus the part of it
        its children cover (children run inside their parent, sequentially
        on the driver thread)."""
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in spans:
            out[s["layer"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def dump(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [dict(s, start=round(s["start"] - t0, 6),
                      end=round(s["end"] - t0, 6)) for s in self.spans]
        doc = {"spans": spans,
               "self_s_by_layer": {k: round(v, 6) for k, v in sorted(
                   self.self_times(self.spans).items())}}
        doc.update(extra or {})
        with open(path, "w") as fh:
            json.dump(doc, fh)


class Patches:
    """Attribute patches that can be undone, for switching tracing on and
    off between passes."""

    def __init__(self):
        self._saved: list[tuple[object, str, object]] = []

    def set(self, owner, attr: str, value) -> None:
        self._saved.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def undo(self) -> None:
        while self._saved:
            owner, attr, old = self._saved.pop()
            setattr(owner, attr, old)


def _jdouble_array(gateway, values):
    arr = gateway.new_array(gateway.jvm.double, len(values))
    for i, v in enumerate(values):
        arr[i] = float(v)
    return arr


STAGE_FIELDS = ("tasks", "failed_tasks", "task_run_s", "task_cpu_s",
                "gc_s", "input_rows", "input_mb", "output_mb",
                "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


class StatusReader:
    """Per-job-group figures from the in-process status store.

    Read a group right after its unit finishes: the store keeps only the
    last ``spark.ui.retainedJobs``/``retainedStages`` entries, so a unit
    is read while all of its records are still there. Nothing here sums
    the whole stage list before and after a unit.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self.gw = sc._gateway
        self.jsc = sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.tracker = sc.statusTracker()
        self._quantiles = _jdouble_array(self.gw, [0.5, 1.0])

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the unit's finished jobs and tasks."""
        self.jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))

    def read_group(self, group: str) -> dict:
        """jobs, executed stages, task totals, job wall and worst skew of
        one job group."""
        out = {"jobs": 0, "stages": 0, "exec_s": 0.0, "skew_max": 0.0,
               "stage_input_rows": []}
        for k in STAGE_FIELDS:
            out[k] = 0.0
        seen: set[int] = set()
        empty = self.gw.jvm.java.util.ArrayList()
        for jid in self.job_ids(group):
            job = self.store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["exec_s"] += (done.get().getTime()
                                  - sub.get().getTime()) / 1000.0
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = self.store.stageData(
                    sid, False, empty, False, self._quantiles)
                ait = attempts.iterator()
                while ait.hasNext():
                    self._add_stage(out, ait.next())
        return out

    def _add_stage(self, out: dict, st) -> None:
        if st.status().toString() == "SKIPPED" or st.numTasks() == 0:
            return
        mb = 1.0 / (1024 * 1024)
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        out["failed_tasks"] += st.numFailedTasks()
        out["task_run_s"] += st.executorRunTime() / 1000.0
        out["task_cpu_s"] += st.executorCpuTime() / 1e9
        out["gc_s"] += st.jvmGcTime() / 1000.0
        out["input_rows"] += st.inputRecords()
        out["input_mb"] += st.inputBytes() * mb
        out["output_mb"] += st.outputBytes() * mb
        out["shuffle_read_mb"] += (st.shuffleRemoteBytesRead()
                                   + st.shuffleLocalBytesRead()) * mb
        out["shuffle_write_mb"] += st.shuffleWriteBytes() * mb
        out["spill_mb"] += (st.memoryBytesSpilled()
                            + st.diskBytesSpilled()) * mb
        out["stage_input_rows"].append(st.inputRecords())
        if st.numTasks() > 1:
            summary = self.store.taskSummary(
                st.stageId(), st.attemptId(), self._quantiles)
            if summary.isDefined():
                q = summary.get().duration()
                med, worst = q.apply(0), q.apply(1)
                if med > 0:
                    out["skew_max"] = max(out["skew_max"], worst / med)

    def store_job_count(self, group: str) -> int:
        """Jobs of a group as the status store's job list records them —
        the cross-check for :meth:`job_ids`, which asks the tracker."""
        n = 0
        it = self.store.jobsList(None).iterator()
        while it.hasNext():
            g = it.next().jobGroup()
            if g.isDefined() and g.get() == group:
                n += 1
        return n
