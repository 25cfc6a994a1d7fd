"""Measurement taken from outside the engine: Spark's in-process status
store, a /proc peak-RSS sampler, host CPU counters and a span tracer.

None of these change what the engine executes. The status store is read
through the driver JVM (``SparkContext.statusStore``), which Spark keeps
with the UI disabled, so no REST endpoint or UI port is needed.
"""

from __future__ import annotations

import json
import os
import signal
import threading
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any


@dataclass
class GroupTotals:
    """Executor-side totals of every job tagged with one job group."""

    cpu_s: float = 0.0
    task_run_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    failed_tasks: int = 0
    stage_ids: list[int] = field(default_factory=list)

    def add(self, other: GroupTotals) -> None:
        self.cpu_s += other.cpu_s
        self.task_run_s += other.task_run_s
        self.shuffle_bytes += other.shuffle_bytes
        self.spill_bytes += other.spill_bytes
        self.failed_tasks += other.failed_tasks
        self.stage_ids += other.stage_ids


class StatusStore:
    """Per-job-group CPU, shuffle, spill and failed tasks.

    ``mark()`` returns the newest job id; ``groups(since)`` folds every job
    submitted after it into :class:`GroupTotals` keyed by job group. A
    stage shared by several jobs (skipped re-use) is counted once.
    """

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()

    def _settle(self) -> None:
        # job-end events reach the store asynchronously
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        self._settle()
        jobs = self._sc.statusStore().jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def groups(self, since: int) -> dict[str, GroupTotals]:
        self._settle()
        store = self._sc.statusStore()
        jobs = store.jobsList(None)  # newest first
        out: dict[str, GroupTotals] = {}
        seen: set[int] = set()
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= since:
                break
            g = job.jobGroup()
            tot = out.setdefault(g.get() if g.isDefined() else "", GroupTotals())
            tot.failed_tasks += job.numFailedTasks()
            ids = job.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                tot.stage_ids.append(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — stage evicted or never run
                    continue
                tot.cpu_s += st.executorCpuTime() / 1e9
                tot.task_run_s += st.executorRunTime() / 1e3
                tot.shuffle_bytes += st.shuffleWriteBytes()
                tot.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def udf_batches(self, stage_ids: list[int], per_batch: int) -> int:
        """Arrow batches fed to a Python UDF in the writing stages among
        ``stage_ids``: per task, ceil(rows read / per_batch)."""
        store = self._sc.statusStore()
        total = 0
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.outputRecords() <= 0:
                continue
            tasks = store.taskList(sid, st.attemptId(), 1 << 20)
            for k in range(tasks.size()):
                m = tasks.apply(k).taskMetrics()
                if m.isDefined():
                    rows = (
                        m.get().inputMetrics().recordsRead()
                        + m.get().shuffleReadMetrics().recordsRead()
                    )
                    total += -(-rows // per_batch)
        return total


def fold(groups: dict[str, GroupTotals], pred: Callable[[str], bool]) -> GroupTotals:
    tot = GroupTotals()
    for name, g in groups.items():
        if pred(name):
            tot.add(g)
    return tot


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants() -> list[int]:
    """Every process below this one, from /proc."""
    kids = _children()
    todo, out = list(kids.get(os.getpid(), [])), []
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def _running(pid: int) -> bool:
    """True while any thread of ``pid`` has not exited: a JVM's main
    thread reads as a zombie while its other threads still shut down."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return False
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                state = f.read().rsplit(")", 1)[1].split()[0]
        except OSError:
            continue
        if state not in ("Z", "X"):
            return True
    return False


def become_subreaper() -> None:
    """Adopt the orphans of this process's descendants. Spark's launch
    script leaves a finished launcher process as a child of the JVM; once
    the JVM ends it would pass to init, which in a container may be slow
    to reap it or never do so."""
    import ctypes

    pr_set_child_subreaper = 36
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def _reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _signal_all(pids: list[int], sig: int) -> None:
    for pid in pids:
        try:
            os.kill(pid, sig)
        except OSError:
            pass


def stop_processes(pids: list[int], grace_s: float = 10.0) -> list[int]:
    """SIGTERM ``pids``, wait up to ``grace_s`` for them to end, SIGKILL
    what is left and wait again. This process's children (its own and,
    after :func:`become_subreaper`, adopted orphans) are reaped as they
    end, so none stays a zombie. Returns the pids still running at the
    end."""

    def wait(deadline: float) -> list[int]:
        left = list(pids)
        while True:
            _reap_children()
            left = [p for p in left if _running(p)]
            if not left or time.monotonic() >= deadline:
                return left
            time.sleep(0.05)

    _signal_all(pids, signal.SIGTERM)
    left = wait(time.monotonic() + grace_s)
    _signal_all(left, signal.SIGKILL)
    left = wait(time.monotonic() + 5.0)
    _reap_children()
    return left


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between the forked Python
    workers are split among them instead of counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory (summed PSS) of every process below this one —
    the driver JVM and the Python workers it forks — sampled from /proc
    every ``period_s``."""

    def __init__(self, period_s: float = 0.2) -> None:
        self.period_s = period_s
        self.peak_bytes = 0
        self._epoch = 0  # bumped by reset(); a sample taken before it is dropped
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _sample(self) -> int:
        return sum(_pss_bytes(pid) for pid in descendants())

    def _loop(self) -> None:
        while not self._stop.is_set():
            epoch = self._epoch
            sample = self._sample()
            with self._lock:
                if epoch == self._epoch:
                    self.peak_bytes = max(self.peak_bytes, sample)
            self._stop.wait(self.period_s)

    def reset(self) -> None:
        with self._lock:
            self._epoch += 1
            self.peak_bytes = 0

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


_CPU_KEYS = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")


def host_cpu() -> dict[str, float]:
    """Cumulative host CPU seconds by kind, from /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    tick = os.sysconf("SC_CLK_TCK")
    return {k: int(v) / tick for k, v in zip(_CPU_KEYS, parts[1:9])}


def host_cpu_delta(before: dict[str, float]) -> dict[str, float]:
    now = host_cpu()
    return {k: now[k] - before[k] for k in before}


class Tracer:
    """In-memory spans: name, start, end, parent. ``wrap`` returns a
    function that records one span per call; nesting follows the call
    stack of the calling thread. Spans are written out once, at the end,
    with self time = duration minus the time covered by child spans."""

    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self._t0 = time.monotonic()

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"id": sid, "name": name, "parent": parent, "start": self._now()})
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = self._now()

    def wrap(self, name: str, fn: Callable, label: Callable | None = None) -> Callable:
        """``fn`` with one span per call, named ``label(*args)`` when given."""

        def traced(*args, **kwargs):
            with self.span(label(*args, **kwargs) if label else name):
                return fn(*args, **kwargs)

        return traced

    def total(self, name: str) -> float:
        """Summed duration of the finished spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name and "end" in s)

    def dump(self, path: str) -> None:
        covered: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] = covered.get(s["parent"], 0.0) + s["end"] - s["start"]
        for s in self.spans:
            s["self"] = s["end"] - s["start"] - covered.get(s["id"], 0.0)
        with open(path, "w") as f:
            json.dump(self.spans, f)

    def _now(self) -> float:
        return time.monotonic() - self._t0
