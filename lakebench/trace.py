"""Measurement plumbing for the lake benchmark: spans, Spark job and
task counts, table-directory diffs and process-tree peak RSS.

Everything is measured from outside the library, around its public
calls. Spans live in memory and are written out once, at the end.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans ``(name, start, end, parent, op)``.

    ``enabled=False`` keeps the same call sites free of any recording,
    so the untraced run pays nothing but a branch. With a SparkContext
    attached, each :meth:`call` also runs under its own job group, and
    :meth:`spark_counts` reads that group's jobs and tasks from the
    public status tracker afterwards (outside the span)."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list = []
        self._stack: list = []
        self._groups = 0

    @contextmanager
    def span(self, name: str, op=None):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def call(self, name: str, op=None):
        """A span around one public library call, run in its own Spark
        job group when tracing."""
        if not self.enabled:
            yield None
            return
        self._groups += 1
        group = f"lakebench-{self._groups}"
        self.sc.setJobGroup(group, name)
        try:
            with self.span(name, op) as rec:
                rec["job_group"] = group
                yield rec
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def spark_counts(self, rec) -> tuple:
        """``(jobs, tasks)`` the call recorded in ``rec`` ran."""
        jvm_sc = self.sc._jsc.sc()
        try:
            jvm_sc.listenerBus().waitUntilEmpty()
        except Exception:  # listener bus not reachable: give it a moment
            time.sleep(0.05)
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(rec["job_group"])
        tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numCompletedTasks
        rec["spark_jobs"], rec["spark_tasks"] = len(jobs), tasks
        return len(jobs), tasks

    def self_times(self) -> dict:
        """Span id -> self time in seconds: the span's duration minus
        the part of it its child spans cover (children do not overlap
        in this single-threaded client)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in self.spans}

    def dump(self, path: str, t0: float) -> None:
        selfs = self.self_times()
        out = []
        for s in self.spans:
            rec = dict(s)
            rec["start"] = s["start"] - t0
            rec["end"] = s["end"] - t0
            rec["self"] = selfs[s["id"]]
            out.append(rec)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(out, f)


def dir_listing(root: str) -> dict:
    """``{relative path: size}`` of every regular file under ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for n in files:
            p = os.path.join(dirpath, n)
            try:
                out[os.path.relpath(p, root)] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


def dir_diff(before: dict, after: dict) -> dict:
    created = [p for p in after if p not in before]
    deleted = [p for p in before if p not in after]
    return {
        "files_created": len(created),
        "bytes_created": sum(after[p] for p in created),
        "data_files_created": sum(1 for p in created if _is_data(p)),
        "data_bytes_created": sum(after[p] for p in created if _is_data(p)),
        "files_deleted": len(deleted),
    }


def _is_data(rel: str) -> bool:
    return "bucket-" in rel and not rel.startswith(("manifest", "snapshot"))


def process_start_time() -> float:
    """This process's start, on the ``time.monotonic`` clock, so set-up
    time can include interpreter start and imports."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.monotonic() - age


def process_tree(root_pid: int) -> list:
    """``root_pid`` and all its live descendants."""
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):  # the process ended
        pass
    return 0


def tree_rss_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid``'s process tree, summed as PSS
    (proportional set size), so that the pages forked Python workers
    share with their parent count once, not once per worker."""
    return sum(_pss_bytes(pid) for pid in process_tree(root_pid))


class PeakRss:
    """Peak resident memory of this process tree (Python driver, JVM,
    Python workers), sampled from ``/proc`` every ``interval`` seconds by
    a daemon thread and on every :meth:`sample` call, until :meth:`stop`."""

    def __init__(self, interval: float = 0.2):
        self.peak = 0
        self._interval = interval
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def sample(self) -> None:
        if self._stop.is_set():
            return
        rss = tree_rss_bytes(os.getpid())
        with self._lock:
            self.peak = max(self.peak, rss)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def stop(self) -> None:
        """Take a last sample and freeze the peak; later calls do nothing."""
        self.sample()
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
