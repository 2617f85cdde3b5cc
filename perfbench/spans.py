"""Span recorder, Spark job attribution and process statistics.

Every call the benchmark makes into the engine runs inside a span. A
span sets the Spark job group to its own id before the call, so every
job the call launches (including jobs from the engine's inheritable
worker threads) carries the span id. Two sources then attribute jobs
to spans:

- ``StatusTracker`` (always on): job, stage and task counts per span,
  read right after the call returns. Counts repeat exactly from run to
  run, so they are cheap structural evidence.
- the Spark event log (traced runs only): job wall intervals, task
  ``executorRunTime`` and shuffle bytes written, parsed after the
  session stops. ``driver_gap_ms`` is the span's wall time minus the
  union of its jobs' intervals: plan building, py4j calls, collects.

Spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: str
    name: str          # layer metric prefix, e.g. "catalog.read.flat"
    request: int       # request id shared by the spans of one request
    parent: str | None
    start: float       # epoch seconds (same clock as Spark's event log)
    end: float = 0.0
    jobs: list = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    error: str | None = None

    @property
    def wall_ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Recorder:
    """Holds the run's spans. ``span()`` wraps one engine call; spans
    opened inside it get it as their parent."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._request = 0

    def new_request(self) -> int:
        self._request += 1
        return self._request

    @contextmanager
    def span(self, name: str, request: int = 0):
        parent = self._open[-1] if self._open else None
        sp = Span(f"pb{len(self.spans)}", name, request,
                  parent.id if parent else None, 0.0)
        self.spans.append(sp)
        self._open.append(sp)
        self.sc.setJobGroup(sp.id, name)
        sp.start = time.time()
        try:
            yield sp
        except Exception as exc:
            sp.error = f"{type(exc).__name__}: {exc}"[:300]
            raise
        finally:
            sp.end = time.time()
            self._open.pop()
            if parent:
                self.sc.setJobGroup(parent.id, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.count_jobs(sp, sp.id)

    def count_jobs(self, sp: Span, group: str) -> None:
        """Add the jobs of job group ``group`` to ``sp``. Streaming
        micro-batches run under their query's run id, on the query's
        own thread, so a drain's span counts that group too."""
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            sp.jobs.append(int(jid))
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                # a stage whose shuffle output was reused never runs
                # a task; count only the stages that did work
                if stage is not None and stage.numCompletedTasks:
                    sp.stages += 1
                    sp.tasks += stage.numCompletedTasks

    def dump(self) -> list[dict]:
        out = []
        for s in self.spans:
            d = asdict(s)
            d["wall_ms"] = s.wall_ms
            out.append(d)
        return out


# --- event log ---------------------------------------------------------

def parse_event_log(evdir: str) -> dict:
    """Per job group: job intervals (ms epoch), task executor run time
    and shuffle bytes written, from every event-log file under
    ``evdir``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[tuple[int, float, int]] = []
    for root, _dirs, files in os.walk(evdir):
        for f in files:
            if f.startswith(".") or "appstatus" in f:
                continue
            with open(os.path.join(root, f)) as fh:
                for line in fh:
                    try:
                        ev = json.loads(line)
                    except json.JSONDecodeError:
                        continue
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        jid = ev["Job ID"]
                        jobs[jid] = {
                            "group": props.get("spark.jobGroup.id"),
                            "start": ev["Submission Time"], "end": None}
                        for sid in ev.get("Stage IDs", []):
                            stage_job[sid] = jid
                    elif kind == "SparkListenerJobEnd":
                        if ev["Job ID"] in jobs:
                            jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                    elif kind == "SparkListenerTaskEnd":
                        m = ev.get("Task Metrics") or {}
                        sw = (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
                        tasks.append((ev["Stage ID"],
                                      float(m.get("Executor Run Time", 0)),
                                      int(sw)))
    by_group: dict[str, dict] = {}
    for jid, j in jobs.items():
        g = by_group.setdefault(j["group"], {"intervals": [], "run_ms": 0.0,
                                             "shuffle_write_bytes": 0,
                                             "job_ids": []})
        g["job_ids"].append(jid)
        if j["end"] is not None:
            g["intervals"].append((j["start"], j["end"]))
    for sid, run_ms, sw in tasks:
        jid = stage_job.get(sid)
        if jid is None:
            continue
        g = by_group[jobs[jid]["group"]]
        g["run_ms"] += run_ms
        g["shuffle_write_bytes"] += sw
    return by_group


def union_ms(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def enrich_spans(spans: list[dict], by_group: dict,
                 stream_groups: dict[str, list[str]]) -> None:
    """Add ``job_wall_ms``, ``executor_run_ms``, ``shuffle_write_bytes``
    and ``driver_gap_ms`` to each span dict. ``stream_groups`` maps a
    span id to the streaming run ids whose jobs it owns."""
    for s in spans:
        groups = [s["id"]] + stream_groups.get(s["id"], [])
        intervals, run_ms, sw = [], 0.0, 0
        for g in groups:
            rec = by_group.get(g)
            if rec:
                intervals += rec["intervals"]
                run_ms += rec["run_ms"]
                sw += rec["shuffle_write_bytes"]
        lo, hi = s["start"] * 1000.0, s["end"] * 1000.0
        covered = union_ms(intervals, lo, hi)
        s["job_wall_ms"] = sum(e - b for b, e in intervals)
        s["executor_run_ms"] = run_ms
        s["shuffle_write_bytes"] = sw
        s["driver_gap_ms"] = max(0.0, s["wall_ms"] - covered)


# --- process statistics --------------------------------------------------

def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of ``pid`` from ``/proc/<pid>/status``."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _stat_fields(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of a /proc stat file."""
    try:
        with open(path) as fh:
            st = fh.read()
    except OSError:
        return None
    return st[st.index("(") + 1:st.rindex(")")], st[st.rindex(")") + 2:].split()


# JVM threads whose CPU is the JIT compiler's, not the program's
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def tree_cpu_s(root: int) -> tuple[float, float]:
    """CPU seconds (user + system) used so far by ``root`` and every
    live process under it (the JVM, the Python workers), including the
    children each of them has reaped; and the part of it spent by JIT
    compiler threads. Time the hypervisor stole is in neither."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        st = _stat_fields(f"/proc/{d}/stat")
        if st is None:
            continue
        # after the command name: state ppid ... utime stime cutime
        # cstime at offsets 11-14
        f = st[1]
        procs[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, jit, todo = 0, 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo += kids.get(pid, [])
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            st = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
            if st is not None and st[0].startswith(JIT_THREADS):
                jit += int(st[1][11]) + int(st[1][12])
    hz = os.sysconf("SC_CLK_TCK")
    return ticks / hz, jit / hz


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate ``/proc/stat`` line."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    d_total = after[1] - before[1]
    return (after[0] - before[0]) / d_total if d_total > 0 else 0.0


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total
