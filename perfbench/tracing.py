"""Tracing for the benchmark's traced run: spans and Spark's event log.

Spans are recorded by the benchmark around each call into a layer of the
package (no span lives inside the package).  Each span that may run Spark
jobs gets a job group unique to that span, so the event-log parser can
attribute every job, stage and task to exactly one span and one operation.
Reusing a group id across operations would merge their jobs.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float          # epoch seconds, comparable with the event log
    end: float
    parent: int | None    # index into Tracer.spans
    op: int               # operation id; spans of one operation share it
    group: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder; ``enabled=False`` records nothing and sets
    no job group, so the untraced run pays only a context-manager call."""
    enabled: bool
    sc: object = None     # SparkContext, for job groups
    prefix: str = "pb"
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op: int, jobs: bool = False):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        group = f"{self.prefix}.{op}.{idx}.{name}" if jobs else None
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, op, group))
        self._stack.append(idx)
        if group and self.sc is not None:
            self.sc.setJobGroup(group, name)
        try:
            yield
        finally:
            if group and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._stack.pop()
            self.spans[idx].end = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def union_seconds(intervals) -> float:
    """Total length covered by possibly overlapping (start, end) pairs."""
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


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [s.seconds - union_seconds(children.get(i, ()))
            for i, s in enumerate(spans)]


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

@dataclass
class JobStats:
    group: str
    start: float          # epoch seconds
    end: float


@dataclass
class TaskStats:
    stage: int
    run_s: float
    cpu_s: float
    gc_s: float
    duration_s: float
    shuffle_write_bytes: int
    spill_bytes: int
    input_bytes: int
    input_records: int
    output_bytes: int


@dataclass
class SqlExecution:
    """One Spark SQL execution (a DataFrame action or command).  Its start
    is stamped before the plan is optimized and made physical, so the time
    from ``start`` to its first job is Catalyst planning of the plan that
    actually runs."""
    group: str
    start: float          # epoch seconds
    end: float
    first_job: float | None = None


@dataclass
class EventLog:
    jobs: dict[int, JobStats] = field(default_factory=dict)
    tasks: list[TaskStats] = field(default_factory=list)
    stage_group: dict[int, str] = field(default_factory=dict)
    sql: dict[int, SqlExecution] = field(default_factory=dict)


def parse_event_log(lines) -> EventLog:
    """Jobs (with their job group), SQL executions, stages and task
    metrics from Spark's JSON event log.  Jobs outside any job group are
    kept with group ''.  A stage belongs to the group of the job that
    submitted it: a job that reuses an earlier job's shuffle lists that
    stage but skips it."""
    log = EventLog()
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event", "").rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            start = ev["Submission Time"] / 1000.0
            log.jobs[ev["Job ID"]] = JobStats(_group(ev), start, 0.0)
            sql = log.sql.get(int((ev.get("Properties") or {}).get(
                "spark.sql.execution.id", -1)))
            if sql is not None and sql.first_job is None:
                sql.first_job = start
        elif kind == "SparkListenerSQLExecutionStart":
            log.sql[ev["executionId"]] = SqlExecution(
                ev.get("jobGroupId") or "", ev["time"] / 1000.0, 0.0)
        elif kind == "SparkListenerSQLExecutionEnd":
            sql = log.sql.get(ev["executionId"])
            if sql is not None:
                sql.end = ev["time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            log.stage_group[ev["Stage Info"]["Stage ID"]] = _group(ev)
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            inp = m.get("Input Metrics") or {}
            out = m.get("Output Metrics") or {}
            log.tasks.append(TaskStats(
                stage=ev["Stage ID"],
                run_s=m.get("Executor Run Time", 0) / 1000.0,
                cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                gc_s=m.get("JVM GC Time", 0) / 1000.0,
                duration_s=(info.get("Finish Time", 0)
                            - info.get("Launch Time", 0)) / 1000.0,
                shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                spill_bytes=m.get("Disk Bytes Spilled", 0),
                input_bytes=inp.get("Bytes Read", 0),
                input_records=inp.get("Records Read", 0),
                output_bytes=out.get("Bytes Written", 0)))
    return log


def _group(ev: dict) -> str:
    return (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""


def read_event_log(path: str) -> EventLog:
    with open(path) as f:
        return parse_event_log(f)


SPARK_KEYS = ("jobs", "stages", "tasks", "job_busy_s", "task_run_s",
              "task_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
              "max_task_over_median")


def spark_stats(log: EventLog, groups: set[str]) -> dict[str, float]:
    """The ``spark.*`` metrics of the jobs whose group is in ``groups``.

    ``max_task_over_median`` is taken on the stage with the most task time:
    its slowest task over its median task, the skew that sets stage time."""
    jobs = {jid: j for jid, j in log.jobs.items() if j.group in groups}
    tasks = [t for t in log.tasks if log.stage_group.get(t.stage) in groups]
    by_stage: dict[int, list[TaskStats]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t)
    skew = 1.0
    if by_stage:
        main = max(by_stage.values(), key=lambda ts: sum(t.run_s for t in ts))
        durations = [t.duration_s for t in main]
        med = statistics.median(durations)
        if med > 0:
            skew = max(durations) / med
    return {
        "jobs": len(jobs),
        "stages": len(by_stage),
        "tasks": len(tasks),
        "job_busy_s": union_seconds((j.start, j.end) for j in jobs.values()),
        "task_run_s": sum(t.run_s for t in tasks),
        "task_cpu_s": sum(t.cpu_s for t in tasks),
        "gc_s": sum(t.gc_s for t in tasks),
        "shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "spill_bytes": sum(t.spill_bytes for t in tasks),
        "max_task_over_median": skew,
        "input_bytes": sum(t.input_bytes for t in tasks),
        "input_records": sum(t.input_records for t in tasks),
        "output_bytes": sum(t.output_bytes for t in tasks),
        "scan_tasks": sum(1 for t in tasks if t.input_bytes > 0),
    }


def split_span(log: EventLog, start: float, end: float,
               groups: set[str]) -> dict[str, float]:
    """Split the wall time of a span whose Spark work carries one of
    ``groups`` into four parts that add up to it exactly:

    - ``job_busy_s``: some job of the span is running;
    - ``plan_s``: otherwise, a SQL execution is between its start and its
      first job (its Catalyst planning; all of it when it runs no job);
    - ``gap_s``: otherwise, a SQL execution is open (re-planning between
      adaptive stages, handing results to the driver);
    - ``driver_s``: the rest, outside every execution (building and
      analyzing DataFrames, Python-side work, reading results back).

    Each instant is counted once, in the first part that holds it."""
    def clip(ivs):
        return [(max(s, start), min(e, end)) for s, e in ivs
                if e > start and s < end]
    jobs = clip((j.start, j.end) for j in log.jobs.values()
                if j.group in groups)
    sqls = [x for x in log.sql.values() if x.group in groups]
    plans = clip((x.start, min(x.first_job or x.end, x.end)) for x in sqls)
    execs = clip((x.start, x.end) for x in sqls)
    busy = union_seconds(jobs)
    with_plan = union_seconds(jobs + plans)
    with_exec = union_seconds(jobs + plans + execs)
    return {"job_busy_s": busy, "plan_s": with_plan - busy,
            "gap_s": with_exec - with_plan,
            "driver_s": (end - start) - with_exec}


# ---------------------------------------------------------------------------
# Percentiles
# ---------------------------------------------------------------------------

TAIL_LADDER = (99, 95, 90, 80, 75)


def tail_percentile(n: int) -> int | None:
    """The highest percentile of ``TAIL_LADDER`` with at least ten of ``n``
    samples strictly beyond it, or None when even the lowest has fewer."""
    for p in TAIL_LADDER:
        if n * (100 - p) / 100 >= 10:
            return p
    return None


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


# ---------------------------------------------------------------------------
# Process CPU time
# ---------------------------------------------------------------------------

def process_tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) of this
    process and every live descendant: its JVM and the JVM's Python
    workers.  It grows far less than wall time when the host gives this
    machine's CPUs to other guests."""
    stats, children = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:           # the process ended while listing
            continue
        # fields[1] is ppid; utime, stime, cutime, cstime are 11..14
        stats[int(pid)] = sum(int(x) for x in fields[11:15])
        children.setdefault(int(fields[1]), []).append(int(pid))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")
