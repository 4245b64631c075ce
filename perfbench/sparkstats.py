"""Outside-in observation of a running Spark session.

Nothing here reaches into the package under test.  Spans are timed
around the benchmark's own calls; Spark-side numbers come from the
Spark event log the benchmark turns on: the jobs of the job group it
sets around each span, the stages of those jobs, and the SQL metrics of
every executed plan, which Spark accumulates per stage.  Resident memory
is sampled from /proc.
"""

from __future__ import annotations

import json
import os
import signal
import threading
import time
from contextlib import contextmanager
from typing import NamedTuple


class JobCount(NamedTuple):
    """A per-layer metric read from the event log once the session has
    stopped: the Spark jobs of the named spans (and their children),
    divided by ``per``."""

    spans: tuple[str, ...]
    per: float = 1.0


class Tracer:
    """Spans (name, start, end, parent) kept in memory, each with a Spark
    job group of its own, so the event log tells which jobs ran inside it."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        group = "perfbench:%d:%s" % (sid, name)
        rec = {"id": sid, "name": name, "parent": parent,
               "start": time.perf_counter() - self._t0, "end": None,
               "group": group}
        self.spans.append(rec)
        self._stack.append(sid)
        sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                sc.setJobGroup(outer["group"], outer["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def tree_groups(self, names: list[str]) -> set[str]:
        """Job groups of the named spans and all their descendants."""
        ids = {s["id"] for s in self.spans if s["name"] in names}
        grew = True
        while grew:
            more = {s["id"] for s in self.spans if s["parent"] in ids} - ids
            grew = bool(more)
            ids |= more
        return {s["group"] for s in self.spans if s["id"] in ids}


def event_log_totals(path: str, groups: set[str]) -> dict:
    """Sum stage metrics over the jobs whose job group is in ``groups``,
    from a finished (uncompressed, unrolled) Spark event log.  Stage
    accumulables carry raw values of both the task metrics and the SQL
    metrics of the executed plans.  A stage listed by several jobs (a
    reused shuffle shows up as skipped) counts once."""
    jobs: list[tuple[int, list[int]]] = []
    stages: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            if line.startswith('{"Event":"SparkListenerJobStart"'):
                ev = json.loads(line)
                if ev.get("Properties", {}).get("spark.jobGroup.id") in groups:
                    jobs.append((ev["Job ID"], ev["Stage IDs"]))
            elif line.startswith('{"Event":"SparkListenerStageCompleted"'):
                info = json.loads(line)["Stage Info"]
                if "Failure Reason" not in info:
                    stages[info["Stage ID"]] = {
                        a["Name"]: a.get("Value") for a in info.get("Accumulables", [])}
    tot = {"jobs": len(jobs), **dict.fromkeys(_TOTALS, 0)}
    seen: set[int] = set()
    for _, stage_ids in sorted(jobs):
        for sid in stage_ids:
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            acc = stages[sid]
            for key, (name, scale) in _TOTALS.items():
                if name in acc:
                    tot[key] += int(acc[name]) * scale
    return tot


# total -> (stage accumulable, scale to the reported unit)
_TOTALS = {
    "scan_bytes": ("internal.metrics.input.bytesRead", 1),
    "shuffle_bytes": ("internal.metrics.shuffle.write.bytesWritten", 1),
    "python_sent_bytes": ("data sent to Python workers", 1),
    "python_received_bytes": ("data returned from Python workers", 1),
    "eval_python_s": ("time to run Python workers", 1e-3),
}


def process_tree(pid_root: int) -> list[int]:
    """The process and all its descendants, from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % d) as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid_root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until none of ``pids`` runs any more (they need not be our
    children: Python workers outlive the JVM that forked them by a few
    moments); kill what is left after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    while any(_running(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in pids:
        if _running(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    deadline = time.monotonic() + 5
    while any(_running(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)


def _running(pid: int) -> bool:
    st = _stat_fields("/proc/%d/stat" % pid)
    return st is not None and st[1][0] != "Z"


_TICK = os.sysconf("SC_CLK_TCK")


# JIT compiler threads of a HotSpot JVM (thread names are cut to 15 chars)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path: str) -> tuple[str, list[str]] | None:
    try:
        with open(path) as f:
            head, rest = f.read().rsplit(")", 1)
    except OSError:
        return None
    return head.split("(", 1)[1], rest.split()


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used so far by a process tree, counting
    children that already exited and were reaped, less the JVM's JIT
    compiler threads.  The kernel charges time the hypervisor steals to
    no process, so unlike wall time this does not stretch when other
    machines load the host; JIT compilation is a one-time cost whose
    amount shifts from run to run with timing, so it is left out (the JVM
    runs with a fixed set of compiler threads for this)."""
    ticks = 0
    for p in process_tree(pid):
        st = _stat_fields("/proc/%d/stat" % p)
        if st is None:
            continue
        ticks += sum(int(v) for v in st[1][11:15])  # utime stime cutime cstime
        try:
            tids = os.listdir("/proc/%d/task" % p)
        except OSError:
            continue
        for tid in tids:
            th = _stat_fields("/proc/%d/task/%s/stat" % (p, tid))
            if th is not None and th[0].startswith(_JIT_THREADS):
                ticks -= int(th[1][11]) + int(th[1][12])
    return ticks / _TICK


def _rss_kb(pid: int) -> int:
    try:
        with open("/proc/%d/status" % pid) as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed resident set of a process tree (the driver JVM
    and the Python workers it forks), sampled every ``period`` seconds."""

    def __init__(self, pid: int, period: float = 0.05):
        self.pid = pid
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            total = sum(_rss_kb(p) for p in process_tree(self.pid))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
