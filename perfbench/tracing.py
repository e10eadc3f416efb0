"""Spans, Spark counters and process memory for the benchmark.

Spans are kept in memory and written out when the run ends. Each span sets
the Spark job group of its thread, so the stages its jobs run are tagged
with it in the event log; :func:`read_event_log` turns that log into per-job
and per-stage counters after the session has stopped (the log is complete
only then).
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """Spans around calls into the program's layers.

    A span opened with no open span in its own thread is parented to the
    open root span of the run (``root``), so spans of server threads hang
    under the client request that caused them.
    """

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self.root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str, root: bool = False):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1][0] if stack else self.root
        stack.append((sid, name))
        if root:
            self.root = sid
        self.sc.setLocalProperty(JOB_GROUP, name)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            self.sc.setLocalProperty(JOB_GROUP, stack[-1][1] if stack else None)
            if root:
                self.root = None
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self.run_id))

    @contextlib.contextmanager
    def patched(self, patches):
        """Temporarily replace ``module.attr`` with a spanned call for each
        ``(module, attr, span name, force)``. ``force(result)`` runs in a
        ``<name>.exec`` span so execution time lands on the layer whose
        output it is, and returns what the caller receives."""
        saved = []
        for module, attr, name, force in patches:
            orig = getattr(module, attr)
            saved.append((module, attr, orig))
            setattr(module, attr, self._wrap(orig, name, force))
        try:
            yield
        finally:
            for module, attr, orig in reversed(saved):
                setattr(module, attr, orig)

    def _wrap(self, fn, name, force):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if force is None:
                return out
            with self.span(name + ".exec"):
                return force(out)
        return call

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


def union_length(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def coverage(spans, jobs, skip: str) -> float:
    """Share of the root spans' time covered by the layer spans under them.

    A span with no child spans covers its whole interval. A span with
    children (``kg.pipeline.run``, ``cli.main``) covers only the children
    and the Spark jobs it ran in its own job group; its remaining self
    time, driver work no layer span accounts for, is uncovered. Spans named
    ``skip`` and below (the plan guard) count neither as covered nor as
    run time."""
    parents = {s.parent for s in spans if not s.name.startswith(skip)}
    covered = wall = 0.0
    for r in (s for s in spans if s.parent is None):
        cover, guard = [], []
        for s in spans:
            if s is r or not r.start <= s.start <= r.end:
                continue
            if s.name.startswith(skip):
                guard.append((s.start, s.end))
            elif s.id not in parents:
                cover.append((s.start, s.end))
            else:
                cover.extend((max(j["start"], s.start), min(j["end"], s.end))
                             for j in jobs if j["group"] == s.name
                             and j["end"] > s.start and j["start"] < s.end)
        g = union_length(guard)
        covered += union_length(cover + guard) - g
        wall += r.end - r.start - g
    return covered / wall if wall else 0.0


# --------------------------------------------------------------------------
# Spark event log → counters
# --------------------------------------------------------------------------

@dataclass
class StageCounters:
    group: str | None = None
    start: float = 0.0      # submission of the job that ran the stage
    tasks: int = 0
    tasks_failed: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class EngineLog:
    jobs: list[dict] = field(default_factory=list)      # group, start, end
    stages: dict[int, StageCounters] = field(default_factory=dict)
    #: (start, shuffle and broadcast exchanges in its final plan) per SQL
    #: execution
    executions: list[tuple[float, int]] = field(default_factory=list)

    def select(self, groups=None, t0: float = float("-inf"),
               t1: float = float("inf")):
        """Jobs, stage counters and exchanges of the jobs submitted within
        [t0, t1] in job ``groups`` (None = any). A stage counts for the job
        that ran it, not for later jobs that list it as skipped."""
        def keep(group, start):
            return (groups is None or group in groups) and t0 <= start <= t1
        return ([j for j in self.jobs if keep(j["group"], j["start"])],
                [c for c in self.stages.values() if keep(c.group, c.start)],
                sum(n for start, n in self.executions if t0 <= start <= t1))


def _count_exchanges(plan: dict) -> int:
    n = 1 if plan.get("nodeName", "").endswith("Exchange") and \
        not plan.get("nodeName", "").startswith("Reused") else 0
    return n + sum(_count_exchanges(c) for c in plan.get("children", []))


def read_event_log(log_dir: str) -> EngineLog:
    """Parse the (uncompressed) Spark event log of a stopped session."""
    out = EngineLog()
    stage_job: dict[int, dict] = {}
    job_by_id: dict[int, dict] = {}
    final_plan: dict[int, dict] = {}
    sql_start: dict[int, float] = {}
    files = sorted(os.path.join(d, f) for d, _s, fs in os.walk(log_dir)
                   for f in fs if not f.startswith((".", "appstatus")))
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    start = ev["Submission Time"] / 1000.0
                    job = {"id": ev["Job ID"], "start": start, "end": start,
                           "group": (ev.get("Properties") or {}).get(JOB_GROUP)}
                    job_by_id[job["id"]] = job
                    out.jobs.append(job)
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, job)
                elif kind == "SparkListenerJobEnd":
                    job_by_id[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job[ev["Stage ID"]]
                    c = out.stages.setdefault(
                        ev["Stage ID"], StageCounters(job["group"], job["start"]))
                    c.tasks += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        c.tasks_failed += 1
                    m = ev.get("Task Metrics") or {}
                    c.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    c.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    c.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0))
                    c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}
                                              ).get("Shuffle Bytes Written", 0)
                elif kind.endswith("SQLExecutionStart"):
                    sql_start[ev["executionId"]] = ev["time"] / 1000.0
                    final_plan[ev["executionId"]] = ev.get("sparkPlanInfo") or {}
                elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                    final_plan[ev["executionId"]] = ev.get("sparkPlanInfo") or {}
    out.executions = [(sql_start[eid], _count_exchanges(p))
                      for eid, p in final_plan.items() if eid in sql_start]
    return out


# --------------------------------------------------------------------------
# process tree memory
# --------------------------------------------------------------------------

def descendants(pid: int) -> list[int]:
    """``pid`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def rss_bytes(pids) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm", encoding="ascii") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, ValueError, IndexError):
            continue
    return total


def _stat(path: str) -> tuple[str, list[str]]:
    with open(path, encoding="utf-8", errors="replace") as f:
        head, tail = f.read().rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def _jit_ticks(jvm: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads (kept alive for the
    JVM's life by ``-XX:-UseDynamicNumberOfCompilerThreads``)."""
    ticks = 0
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            name, fields = _stat(f"/proc/{jvm}/task/{tid}/stat")
        except OSError:
            continue        # the thread ended
        if "CompilerThre" in name:
            ticks += int(fields[11]) + int(fields[12])
    return ticks


def cpu_seconds(pids, jvm: int) -> float:
    """User + system CPU time of ``pids`` (with their reaped children),
    except the JIT compiler threads of the JVM ``jvm``: how much compiling
    is still going on depends on how long ago the JVM started, not on the
    operation being measured. The JVM's time is its process total, which
    keeps the time of threads that have ended (idle executor threads do)."""
    ticks = 0
    for p in pids:
        try:
            fields = _stat(f"/proc/{p}/stat")[1]
            if p == jvm:
                ticks += int(fields[11]) + int(fields[12]) - _jit_ticks(jvm)
            else:
                ticks += sum(int(x) for x in fields[11:15])
        except (OSError, ValueError, IndexError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the resident memory of a process tree in a background
    thread; ``peak`` is the largest sum seen while started."""

    def __init__(self, pid: int, interval: float = 0.05):
        self.pid = pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        pids, last = descendants(self.pid), 0.0
        while not self._stop.is_set():
            now = time.time()
            if now - last > 1.0:    # new Python workers appear over time
                pids, last = descendants(self.pid), now
            self.peak = max(self.peak, rss_bytes(pids))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
