"""Counters the benchmark reads from outside the program.

- :class:`JobProbe` counts Spark jobs by the global job-id range.
- :class:`RssSampler` tracks the peak resident memory of the process tree,
  and :class:`TreeCpu` its CPU time.
- :func:`capture_stderr` routes the process's (and the JVM's) stderr to a
  file so Spark's ERROR lines can be counted.
"""

from __future__ import annotations

import contextlib
import os
import re
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


class JobProbe:
    """New Spark jobs since the last probe, found by job id.

    Job ids are global and dense, so probing ``getJobInfo(id)`` upward from
    the last id seen finds every job, whatever its job group. Counting per
    job group misses streaming micro-batches, which run under their
    query's own group. The listener bus is drained first so a job that
    has just started is already in the status store.
    """

    def __init__(self, sc) -> None:
        self._sc = sc
        self._tracker = sc.statusTracker()
        self._next = 0
        self.advance()

    def advance(self) -> list[int]:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        found = []
        while self._tracker.getJobInfo(self._next) is not None:
            found.append(self._next)
            self._next += 1
        return found

    def stage_counts(self, job_ids: list[int]) -> tuple[int, int, int]:
        """(stages run, tasks completed, tasks failed) over ``job_ids``.

        Stages skipped because their shuffle output was reused complete no
        task and are not counted.
        """
        stages = tasks = failed = 0
        for jid in job_ids:
            job = self._tracker.getJobInfo(jid)
            for sid in job.stageIds if job else ():
                st = self._tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue
                stages += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return stages, tasks, failed


def cpu_times() -> list[int]:
    """Machine-wide CPU time counters from /proc/stat (user … steal …)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


_TICK = os.sysconf("SC_CLK_TCK")


def _tree_pids(root: int) -> list[int]:
    """``root`` and every process descended from it.

    Walks each thread's ``children`` list, so only the tree's own /proc
    entries are read, however many other processes there are.
    """
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:  # the process ended while we walked
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
            except OSError:
                continue
    return out


def _stat_ticks(path: str, first: int, last: int) -> int:
    """Sum of stat fields ``first``..``last`` (1-based, as in proc(5))."""
    with open(path) as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    # fields[0] is field 3 (state)
    return sum(int(f) for f in fields[first - 3 : last - 2])


#: HotSpot's JIT compiler threads as /proc shows their names (15 chars).
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class TreeCpu:
    """User + system CPU time of a process tree, reaped children included,
    with the JVM's JIT compiler threads and any ``exclude``d thread of this
    process counted apart. Time the hypervisor steals is not charged to any
    process.

    A thread that ends leaves its time in its process's total, so a
    set-apart thread counts with the last time read for it. A compiler
    thread that starts and ends between two reads is not seen at all:
    start the JVM with ``-XX:-UseDynamicNumberOfCompilerThreads``.
    """

    def __init__(self, root: int, exclude: tuple[int, ...] = ()) -> None:
        self._root = root
        self._exclude = {(root, tid) for tid in exclude}
        self._apart: dict[tuple[int, int], int] = {}  # (pid, tid) -> ticks

    def read(self) -> tuple[float, float]:
        """(seconds outside the set-apart threads, seconds of JIT compilation)."""
        total = 0
        for pid in _tree_pids(self._root):
            try:  # utime stime cutime cstime
                total += _stat_ticks(f"/proc/{pid}/stat", 14, 17)
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:  # the process ended while we read it
                continue
            for tid in tids:
                key = (pid, int(tid))
                try:
                    if key not in self._exclude:
                        with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                            if not fh.read().startswith(_JIT_THREADS):
                                continue
                    self._apart[key] = _stat_ticks(f"/proc/{pid}/task/{tid}/stat", 14, 15)
                except OSError:
                    continue
        jit = sum(t for k, t in self._apart.items() if k not in self._exclude)
        return (total - sum(self._apart.values())) / _TICK, jit / _TICK


def _tree_rss_bytes(root: int) -> int:
    pages = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                pages += int(fh.read().split()[1])
        except OSError:
            continue
    return pages * _PAGE


class RssSampler:
    """Peak RSS of this process and all its descendants, sampled in a thread.

    The thread's id is ``tid``, so that CPU time measurements can leave it
    out.
    """

    def __init__(self, interval_s: float = 0.1) -> None:
        self._interval = interval_s
        self._stop = threading.Event()
        self._started = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._lock = threading.Lock()
        self.tid = 0
        self.peak_bytes = 0

    def _run(self) -> None:
        self.tid = threading.get_native_id()
        self._started.set()
        while True:
            rss = _tree_rss_bytes(os.getpid())
            with self._lock:
                self.peak_bytes = max(self.peak_bytes, rss)
            if self._stop.wait(self._interval):
                return

    def reset(self) -> None:
        """Start a new peak from the next sample."""
        with self._lock:
            self.peak_bytes = 0

    def __enter__(self) -> RssSampler:
        self._thread.start()
        self._started.wait()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


#: log4j's default console layout: "yy/MM/dd HH:mm:ss LEVEL Logger: msg".
_ERROR_LINE = re.compile(rb"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR ", re.M)


def count_error_lines(path: str) -> int:
    with open(path, "rb") as fh:
        return len(_ERROR_LINE.findall(fh.read()))


@contextlib.contextmanager
def capture_stderr(path: str):
    """Send fd 2 to ``path`` for the block; a JVM started inside inherits it.

    On exit the captured text is copied to the original stderr, so nothing
    is hidden from whoever runs the benchmark.
    """
    saved = os.dup(2)
    try:
        with open(path, "wb") as log:
            os.dup2(log.fileno(), 2)
        try:
            yield path
        finally:
            os.dup2(saved, 2)
            with open(path, "rb") as log:
                for chunk in iter(lambda: log.read(1 << 16), b""):
                    os.write(2, chunk)
    finally:
        os.close(saved)
