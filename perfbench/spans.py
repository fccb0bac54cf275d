"""Outside-in measurement helpers: spans, noop drains, Spark event-log
attribution, process-tree CPU time and memory.

Nothing here instruments the program. Layer calls are timed from the
benchmark's side of the call, each under its own Spark job group, and the
event log written by the session supplies the per-group task counters.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# the physical-plan node of a DataFrameWriter save to files
_WRITE = "InsertIntoHadoopFsRelationCommand"


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent, request
    id); spans are kept until :meth:`dump` writes them out."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, request: str | None = None, group: str | None = None):
        """Time the body as span ``name``; jobs it submits run under Spark
        job group ``group`` (default: the span name)."""
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {"name": name, "parent": parent and parent["id"],
               "request": request if request is not None
               else (parent and parent["request"]),
               "group": group or name}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        sc = self.spark.sparkContext
        sc.setJobGroup(rec["group"], name, interruptOnCancel=False)
        stack.append(rec)
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            stack.pop()
            if stack:
                sc.setJobGroup(stack[-1]["group"], stack[-1]["name"],
                               interruptOnCancel=False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def drain(self, name: str, df) -> float:
        """Execute ``df`` through the ``noop`` sink under span ``name``;
        returns the wall seconds. Layer calls are lazy, so this is where
        their execution time shows."""
        with self.span(name) as rec:
            df.write.format("noop").mode("overwrite").save()
        return rec["end"] - rec["start"]

    def timed(self, name: str, fn, *args, group: str | None = None, **kw):
        """Call ``fn`` under span ``name``; returns (result, seconds)."""
        with self.span(name, group=group) as rec:
            out = fn(*args, **kw)
        return out, rec["end"] - rec["start"]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class EventLog:
    """Per-job-group task counters and timelines parsed from a Spark event
    log. ``timeline[group]`` lists the group's SQL executions and jobs as
    (start ms, end ms, is a file write)."""

    def __init__(self, log_dir: str):
        files = [f for f in glob.glob(os.path.join(log_dir, "*"))
                 if not f.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, "
                               f"found {files}")
        job_group: dict[int, str | None] = {}
        job_start: dict[int, int] = {}
        stage_job: dict[int, int] = {}
        stage_submit: dict[int, int] = {}
        stage_first_launch: dict[int, int] = {}
        executions: dict[str, tuple] = {}
        self.groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        self.timeline: dict[str, list] = defaultdict(list)
        task_ends = []
        with open(files[0]) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind.endswith("SparkListenerSQLExecutionStart"):
                    executions[ev["executionId"]] = (
                        ev.get("jobGroupId"), ev["time"],
                        _WRITE in ev.get("physicalPlanDescription", ""))
                elif kind.endswith("SparkListenerSQLExecutionEnd"):
                    start = executions.pop(ev["executionId"], None)
                    if start and start[0] is not None:
                        self.timeline[start[0]].append(
                            (start[1], ev["time"], start[2]))
                elif kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    job_group[jid] = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    job_start[jid] = ev["Submission Time"]
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                    self.groups[job_group[jid]]["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if job_group.get(jid) is not None:
                        self.timeline[job_group[jid]].append(
                            (job_start[jid], ev["Completion Time"], False))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Submission Time" in info:
                        stage_submit[info["Stage ID"]] = info["Submission Time"]
                elif kind == "SparkListenerTaskEnd":
                    task_ends.append(ev)
        for ev in task_ends:
            sid = ev["Stage ID"]
            g = self.groups[job_group.get(stage_job.get(sid))]
            info = ev.get("Task Info", {})
            launch = info.get("Launch Time")
            if launch is not None:
                prev = stage_first_launch.get(sid)
                stage_first_launch[sid] = launch if prev is None else min(prev, launch)
            m = ev.get("Task Metrics") or {}
            g["tasks"] += 1
            g["gc_ms"] += m.get("JVM GC Time", 0)
            g["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
            g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            inp = m.get("Input Metrics") or {}
            g["input_bytes"] += inp.get("Bytes Read", 0)
            g["input_records"] += inp.get("Records Read", 0)
        for sid, first in stage_first_launch.items():
            if sid in stage_submit:
                g = self.groups[job_group.get(stage_job.get(sid))]
                g["queue_wait_ms"] += max(0, first - stage_submit[sid])

    def total(self, key: str, groups=None) -> float:
        """Sum ``key`` over job groups (all, or those accepted by the
        predicate ``groups``)."""
        return sum(v.get(key, 0.0) for g, v in self.groups.items()
                   if groups is None or (g is not None and groups(g)))

    def write_and_after(self, group: str) -> tuple[float, float]:
        """Seconds of the group's file-write executions, and seconds from
        the end of its last write to the end of its last job or execution
        (the reads that follow a write)."""
        events = self.timeline.get(group, [])
        writes = [(a, b) for a, b, w in events if w]
        if not writes:
            return 0.0, 0.0
        last_write = max(b for _, b in writes)
        last = max(b for _, b, _ in events)
        return (sum(b - a for a, b in writes) / 1e3,
                max(0, last - last_write) / 1e3)


def _children(zombies: bool = False) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                raw = fh.read()
        except OSError:
            continue
        fields = raw[raw.rfind(")") + 2:].split()
        if zombies or fields[0] != "Z":    # zombies have exited already
            kids[int(fields[1])].append(int(stat.split("/")[2]))
    return kids


def descendants(pid: int | None = None, zombies: bool = False) -> list[int]:
    """Every live process below ``pid`` (default: this process); with
    ``zombies``, also those that have exited but are not yet reaped."""
    kids = _children(zombies)
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every descendant, the
    driver JVM and its Python workers, including exited children they
    reaped. The kernel leaves time stolen by the hypervisor out of these
    counters, so on a shared host they move much less than wall time."""
    total = 0
    for pid in [os.getpid(), *descendants(zombies=True)]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        # utime, stime, cutime, cstime
        total += sum(map(int, raw[raw.rfind(")") + 2:].split()[11:15]))
    return total / _TICK


def settled_cpu_s(window: float = 0.5, idle_cores: float = 0.2,
                  limit: float = 15.0) -> float:
    """Wait until the process tree goes idle, then return
    :func:`tree_cpu_s`. The JVM keeps compiling hot code and collecting
    garbage for a while after a result is back; waiting for that work lets
    each phase be charged the background work it started, instead of the
    phase that follows. Idle means less than ``idle_cores`` cores busy over
    ``window`` seconds; waiting stops after ``limit`` seconds in any case."""
    deadline = time.perf_counter() + limit
    prev = tree_cpu_s()
    while True:
        time.sleep(window)
        cur = tree_cpu_s()
        if cur - prev < idle_cores * window or time.perf_counter() > deadline:
            return cur
        prev = cur


def peak_rss_mb() -> tuple[float, float]:
    """Peak resident set (VmHWM) in MB of (the driver: this process and
    the JVM; the Python workers: every other live descendant). How many
    workers Spark forks depends on how tasks happen to overlap, so their sum
    moves by hundreds of MB from run to run and is kept apart."""
    driver = workers = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                jvm = fh.read().strip() == "java"
            with open(f"/proc/{pid}/status") as fh:
                kb = next(int(line.split()[1]) for line in fh
                          if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
        if pid == os.getpid() or jvm:
            driver += kb
        else:
            workers += kb
    return driver / 1024.0, workers / 1024.0
