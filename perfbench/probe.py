"""What the benchmark reads about its own processes and about Spark.

* ``ProcTree``: CPU seconds of this process and all its descendants
  (Python driver, the Spark JVM, Python workers), from /proc, and a
  sampler for the peak resident memory summed over the Python ones.
* ``spark_counts``: jobs, tasks, shuffle bytes and executor run time per
  job group, read from Spark's status store after the fact.
* ``become_subreaper`` and ``reap_all``: a run ends every process it
  started, however deep, and waits for each before it exits.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return s[s.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(d))
    return kids


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class ProcTree:
    """The program's processes: this Python driver and everything under
    the Spark JVM it launched (Python daemon and workers).  The
    benchmark's own children (calibration pool, input generator) are
    left out."""

    def __init__(self):
        self.root = os.getpid()
        self.peak_py_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def pids(self) -> list[int]:
        kids = _children()
        out = [self.root]
        todo = [p for p in kids.get(self.root, ()) if _comm(p) == "java"]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(kids.get(p, ()))
        return out

    def cpu_s(self) -> float:
        """utime+stime of every live process in the tree plus what each
        has collected from its reaped children (cutime+cstime), so a
        worker that exits between two readings is still counted."""
        total = 0
        for p in self.pids():
            st = _stat(p)
            if st is not None:
                total += sum(int(x) for x in st[11:15])
        return total / _TICK

    def py_rss(self) -> int:
        total = 0
        for p in self.pids():
            if _comm(p).startswith("python"):
                try:
                    with open(f"/proc/{p}/statm") as f:
                        total += int(f.read().split()[1]) * _PAGE
                except OSError:
                    pass
        return total

    def start_sampling(self, interval: float = 0.2) -> None:
        def loop():
            while not self._stop.wait(interval):
                self.peak_py_rss = max(self.peak_py_rss, self.py_rss())

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def stop_sampling(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak_py_rss = max(self.peak_py_rss, self.py_rss())


def become_subreaper() -> None:
    """Have orphaned descendants (the Python daemon of a stopped JVM,
    the workers of a stopped daemon) re-parented to this process rather
    than to init, so that ``reap_all`` can end and wait for each one."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0):
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_all(grace_s: float = 10.0) -> list[str]:
    """End every process this one started, directly or through others,
    and wait until each has ended: SIGTERM, then SIGKILL after
    ``grace_s``.  Returns the command names of those it had to stop."""
    import contextlib
    import signal
    import time
    from multiprocessing import resource_tracker

    # the tracker a spawn-context pool starts exits only when its pipe
    # closes, which would otherwise happen after this process exits
    resource_tracker._resource_tracker._stop()
    me, stopped = os.getpid(), []
    while True:
        kids = _children().get(me, [])
        if not kids:
            return stopped
        for p in kids:
            st = _stat(p)
            if st is not None and st[0] != "Z":
                stopped.append(_comm(p))
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGTERM)
        for p in kids:
            deadline = time.monotonic() + grace_s
            while True:
                try:
                    done, _ = os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    break
                if done:
                    break
                if time.monotonic() > deadline:
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(p, signal.SIGKILL)
                    os.waitpid(p, 0)
                    break
                time.sleep(0.02)


def spark_counts(spark) -> dict[str, dict]:
    """Per job group: {jobs, tasks, shuffle_bytes, executor_run_s}.
    Read from the live status store of the current SparkContext, so call
    it before the context stops."""
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    no_q = spark.sparkContext._gateway.new_array(jvm.double, 0)
    stages = {}
    it = store.stageList(None, False, False, no_q, None).iterator()
    while it.hasNext():
        s = it.next()
        stages[(s.stageId(), s.attemptId())] = (
            s.numCompleteTasks(), s.shuffleWriteBytes(), s.executorRunTime())
    by_stage: dict[int, list] = {}
    for (sid, _att), v in stages.items():
        by_stage.setdefault(sid, []).append(v)
    groups: dict[str, dict] = {}
    jobs = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        grp = j.jobGroup()
        sids = []
        st = j.stageIds().iterator()
        while st.hasNext():
            sids.append(st.next())
        jobs.append((j.jobId(), grp.get() if grp.isDefined() else "", sids))
    # a stage reused by a later job (skipped there) counts once, for the
    # first job that ran it
    seen: set[int] = set()
    for _jid, name, sids in sorted(jobs):
        g = groups.setdefault(name, {"jobs": 0, "tasks": 0, "shuffle_bytes": 0,
                                     "executor_run_s": 0.0})
        g["jobs"] += 1
        for sid in sids:
            if sid in seen:
                continue
            seen.add(sid)
            for tasks, shuffle, run_ms in by_stage.get(sid, ()):
                g["tasks"] += tasks
                g["shuffle_bytes"] += shuffle
                g["executor_run_s"] += run_ms / 1000.0
    return groups
