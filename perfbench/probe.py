"""Measurement helpers that observe the program from outside it.

- ``ProcessTree``: the benchmark's descendant processes (JVM, Python
  workers), their summed resident memory from ``/proc/<pid>/status``, and a
  bounded wait for all of them to end.
- ``RssSampler``: one thread that samples the tree's summed ``VmRSS`` and
  keeps the high-water mark (no psutil needed).
- ``JobGroups``: runs a call under a benchmark-set Spark job group and
  reads its job, stage, task and failed-task counts from the status
  tracker. No event log, no change to the program.
"""

from __future__ import annotations

import os
import signal
import threading
import time
from typing import Callable, Dict, List, Set, Tuple


def _ppid(pid: int) -> int:
    with open(f"/proc/{pid}/stat") as f:
        # the command name (field 2) may hold spaces; fields after ')' are fixed
        return int(f.read().rsplit(")", 1)[1].split()[1])


def _mem_kb(pid: int) -> Tuple[int, int]:
    """(VmSize, VmRSS) in kB; (0, 0) for zombies, which have neither."""
    size = rss = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmSize:"):
                size = int(line.split()[1])
            elif line.startswith("VmRSS:"):
                rss = int(line.split()[1])
    return size, rss


class ProcessTree:
    """This process and every process descended from it."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def parents(self) -> Dict[int, int]:
        """pid -> parent pid for this process and its descendants."""
        children: Dict[int, List[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                children.setdefault(_ppid(int(name)), []).append(int(name))
            except (OSError, IndexError, ValueError):
                continue  # exited while we looked
        out, todo = {self.root: 0}, [self.root]
        while todo:
            pid = todo.pop()
            for c in children.get(pid, ()):
                out[c] = pid
                todo.append(c)
        return out

    def rss_mb(self) -> float:
        """Summed VmRSS. A child whose (VmSize, VmRSS) equal its parent's
        is skipped: it still shares the parent's pages, as the JVM's
        vfork-style helper does until it execs (e.g. ``chmod`` during file
        commits), and counting it would add the whole JVM a second time."""
        parents = self.parents()
        mem = {}
        for pid in parents:
            try:
                mem[pid] = _mem_kb(pid)
            except OSError:
                continue  # exited while we looked
        return sum(m[1] for pid, m in mem.items() if mem.get(parents[pid]) != m) / 1024.0

    def descendants(self) -> Set[int]:
        return set(self.parents()) - {self.root}


def wait_gone(pids: Set[int], timeout_s: float = 20.0) -> Set[int]:
    """Wait until every pid has exited; SIGKILL what is left after the
    timeout. Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout_s
    alive = set(pids)
    while alive and time.monotonic() < deadline:
        for pid in list(alive):
            try:
                os.waitpid(pid, os.WNOHANG)  # reap our own children
            except ChildProcessError:
                pass
            if not os.path.exists(f"/proc/{pid}") or _is_zombie(pid):
                alive.discard(pid)
        time.sleep(0.1)
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return alive


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


class RssSampler:
    """Samples the summed RSS of the process tree until ``stop()``."""

    def __init__(self, tree: ProcessTree, period_s: float = 0.2):
        self.tree = tree
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self.tree.rss_mb())
            self._stop.wait(self.period_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, self.tree.rss_mb())
        return self.peak_mb


def timed(fn: Callable, *args, **kwargs) -> Tuple[object, float]:
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


class JobGroups:
    """Runs calls under benchmark-set Spark job groups and reads their work
    counts back from the status tracker."""

    def __init__(self, sc):
        self.sc = sc
        self._seq = 0

    def run(self, label: str, fn: Callable, *args, **kwargs) -> Tuple[object, Dict[str, float]]:
        """Run ``fn`` under a fresh job group; return (result, counts) where
        counts holds seconds, jobs, stages, tasks and failed_tasks."""
        self._seq += 1
        group = f"perfbench-{self._seq}-{label}"
        self.sc.setJobGroup(group, label)
        try:
            out, seconds = timed(fn, *args, **kwargs)
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        # the status store is fed by an asynchronous listener: wait until
        # every job of the group has ended so its stage counts are final
        deadline = time.monotonic() + 5.0
        while True:
            infos = [tracker.getJobInfo(j) for j in job_ids]
            done = all(i is not None and i.status != "RUNNING" for i in infos)
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        stages = tasks = failed = 0
        for info in infos:
            for sid in (info.stageIds if info else ()):
                st = tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks == 0:
                    continue  # skipped (reused shuffle) or evicted stage
                stages += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return out, {"seconds": seconds, "jobs": len(job_ids), "stages": stages,
                     "tasks": tasks, "failed_tasks": failed}


def dir_mb(path: str) -> Tuple[float, int]:
    """(MB, data files) under ``path``; Spark's _SUCCESS/.crc files excluded."""
    total, files = 0, 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total / 1e6, files
