"""Attribution: which Spark work each timed call caused, and what the process
tree held in memory.

Each traced call runs under a job group that only this harness sets, so the
group's jobs are the call's jobs. Their stages and task metrics are read
from the in-process status store over py4j, which is populated even with the
UI off. Streaming jobs run on the stream's own thread and carry no group;
they are attributed through the query's progress instead (see
``workloads.quote_stream``).
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

from stats import Span, driver_gap, median, self_times

# what each attributed call reports, with its unit
LAYER_FIELDS = {
    "wall_s": "s",
    "jobs": "count",
    "tasks": "count",
    "tasks_failed": "count",
    "driver_gap_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_bytes": "B",
    "spill_bytes": "B",
    "input_bytes": "B",
}
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree(root: int) -> list[tuple[int, int | None]]:
    """``(pid, parent pid)`` of ``root`` and every descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [(root, None)]
    while todo:
        pid, ppid = todo.pop()
        out.append((pid, ppid))
        todo.extend((c, pid) for c in children.get(pid, []))
    return out


def tree_pids(root: int) -> list[int]:
    return [pid for pid, _ in _tree(root)]


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_rss(root: int) -> dict:
    """RSS in bytes of ``root`` and each of its descendants, by pid. The JVM
    starts processes by vfork, and until the child execs it shares the
    JVM's pages and reports the JVM's RSS; such a java child of java is
    not counted twice."""
    out = {}
    for pid, ppid in _tree(root):
        exe = _exe(pid)
        if ppid is not None and exe is not None and exe.endswith("/java") and exe == _exe(ppid):
            continue
        try:
            with open(f"/proc/{pid}/statm") as fh:
                out[pid] = int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


class RssSampler:
    """Samples the RSS of this process and all its descendants (the JVM and
    the Python workers) and keeps the peak."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak = 0
        self.peak_by_process: list = []  # (command, MB) at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self):
        rss = tree_rss(os.getpid())
        total = sum(rss.values())
        if total > self.peak:
            self.peak = total
            self.peak_by_process = [(_comm(p), round(b / 1e6)) for p, b in rss.items()]

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6


def _opt_epoch_s(opt):
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class Tracer:
    """Times layer calls. With ``enabled`` it also records a span per call
    and attributes the call's jobs, stages and task metrics to it."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.calls: list[dict] = []  # one attributed record per traced call
        self._stack: list[int] = []
        self._seq = 0
        self.overhead_s = 0.0  # wall time spent on job groups and status reads
        self.bind(spark)

    def bind(self, spark):
        """Point at a (re)started session."""
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()

    @contextmanager
    def span(self, name: str, attribute: bool = False):
        """A timed region. ``attribute`` puts its Spark jobs under a job
        group of their own and records their metrics when it ends; only
        leaf calls are attributed, because a job carries one group."""
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        sp = Span(name, time.time(), 0.0, parent)
        self.spans.append(sp)
        self._stack.append(idx)
        group = None
        if self.enabled and attribute:
            self._seq += 1
            group = f"perfbench-{self._seq}"
            self.sc.setJobGroup(group, name)
            self.overhead_s += time.time() - sp.start
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                self.calls.append(self._attribute(name, group, sp.start, sp.end))
                self.overhead_s += time.time() - sp.end

    def _attribute(self, name: str, group: str, t0: float, t1: float) -> dict:
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        jobs = self._settled_jobs(job_ids)
        rec = dict.fromkeys(LAYER_FIELDS, 0.0)
        rec.update(name=name, wall_s=t1 - t0, jobs=len(job_ids), executor_run_s=0.0)
        intervals, stage_ids = [], set()
        for jd in jobs:
            start = _opt_epoch_s(jd.submissionTime())
            end = _opt_epoch_s(jd.completionTime())
            if start is not None:
                intervals.append((start, end if end is not None else t1))
            seq = jd.stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
        for sid in stage_ids:
            sd = self._stage(sid)
            if sd is None or sd.status().toString() == "SKIPPED":
                continue
            sub = _opt_epoch_s(sd.submissionTime())
            # a stage skipped here but run by an earlier call keeps that
            # call's metrics; count only stages submitted inside this call
            if sub is None or not (t0 - 0.05 <= sub <= t1 + 0.05):
                continue
            rec["tasks"] += sd.numTasks()
            rec["tasks_failed"] += sd.numFailedTasks()
            rec["executor_run_s"] += sd.executorRunTime() / 1e3
            rec["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            rec["gc_s"] += sd.jvmGcTime() / 1e3
            rec["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
            rec["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            rec["input_bytes"] += sd.inputBytes()
        rec["driver_gap_s"] = driver_gap(t0, t1, intervals)
        return rec

    def _settled_jobs(self, job_ids, timeout_s: float = 10.0):
        """Job records once the status listener has seen every job end (it
        runs asynchronously on the listener bus)."""
        deadline = time.time() + timeout_s
        while True:
            jobs = [self._job(j) for j in job_ids]
            done = all(
                jd is not None and jd.completionTime().isDefined() for jd in jobs
            )
            if done or time.time() > deadline:
                return [jd for jd in jobs if jd is not None]
            time.sleep(0.02)

    def _job(self, job_id):
        try:
            return self._store.job(job_id)
        except Exception:  # evicted or not yet posted: py4j wraps NoSuchElementException
            return None

    def _stage(self, stage_id):
        try:
            return self._store.lastStageAttempt(stage_id)
        except Exception:  # evicted or not yet posted: py4j wraps NoSuchElementException
            return None

    def layer_metrics(self, names) -> dict:
        """Median over each layer's attributed calls of every field in
        LAYER_FIELDS, as ``{"<layer>.<field>": value}``; 0 for a layer this
        run never called."""
        out = {}
        for name in names:
            recs = [c for c in self.calls if c["name"] == name]
            for f in LAYER_FIELDS:
                out[f"{name}.{f}"] = median([r[f] for r in recs]) if recs else 0.0
        return out

    def dump(self) -> dict:
        selfs = self_times(self.spans)
        return {
            "spans": [
                {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "self_s": st}
                for s, st in zip(self.spans, selfs)
            ],
            "calls": self.calls,
        }
