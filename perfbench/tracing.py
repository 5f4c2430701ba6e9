"""Outside-in tracing for the traced run (``--trace 1``).

Spans are recorded by wrapping the package's public entry points from here,
never by editing the package: each span keeps its name, start, end, parent
and op id in memory. Spans that can start Spark jobs also set one Spark job
group each, so that

- ``SparkContext.statusTracker()`` gives the span's jobs, tasks and failed
  tasks while the run is live, and
- the local event log (read after the session stops) attributes each
  ``SparkListenerTaskEnd`` to the span through its stage's job group.

Process counters (CPU seconds, peak RSS of the Spark JVM) come from
``/proc`` so that the untraced run can report them too.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import pstats
import signal
import time
from collections import defaultdict
from dataclasses import dataclass, field

from stats import self_time

TASK_METRICS = (
    "executor_cpu_s", "executor_run_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes",
    "tasks", "tasks_failed",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    jobs: list[int] = field(default_factory=list)
    tasks: int = 0
    tasks_failed: int = 0


class Tracer:
    """Span stack plus the Spark job-group bookkeeping."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op: int | None = None
        self.enabled = sc is not None

    def span(self, name: str, spark_jobs: bool = False):
        return _SpanCtx(self, name, spark_jobs)

    def _enter(self, name: str, spark_jobs: bool) -> Span:
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 self.op, time.perf_counter())
        if spark_jobs:
            s.group = f"perfbench-{s.id}"
            self.sc.setJobGroup(s.group, name, False)
        self.spans.append(s)
        self._stack.append(s)
        return s

    def _exit(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack.pop()
        if s.group is not None:
            outer = next((p for p in reversed(self._stack) if p.group), None)
            if outer is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(outer.group, outer.name, False)

    def collect_jobs(self, spans: list[Span]) -> None:
        """Jobs, tasks and failed tasks per span from the status tracker.
        Run after an op's timing ends, while its jobs are still retained."""
        st = self.sc.statusTracker()
        for s in spans:
            if s.group is None:
                continue
            s.jobs = sorted(st.getJobIdsForGroup(s.group))
            for j in s.jobs:
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    if si is not None:
                        s.tasks += si.numCompletedTasks
                        s.tasks_failed += si.numFailedTasks

    # -- arithmetic over the recorded spans ----------------------------------

    def children(self) -> dict[int | None, list[Span]]:
        out: dict[int | None, list[Span]] = defaultdict(list)
        for s in self.spans:
            out[s.parent].append(s)
        return out

    def self_times(self) -> dict[int, float]:
        kids = self.children()
        return {
            s.id: self_time(s.start, s.end,
                            [(c.start, c.end) for c in kids.get(s.id, [])])
            for s in self.spans
        }

    def subtree(self, root: Span) -> list[Span]:
        kids = self.children()
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, []))
        return out


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, spark_jobs: bool):
        self.tracer, self.name, self.spark_jobs = tracer, name, spark_jobs
        self.span: Span | None = None

    def __enter__(self) -> Span | None:
        if self.tracer.enabled:
            self.span = self.tracer._enter(self.name, self.spark_jobs)
        return self.span

    def __exit__(self, *exc) -> None:
        if self.span is not None:
            self.tracer._exit(self.span)


def wrap_method(tracer: Tracer, cls, method: str, name: str,
                spark_jobs: bool = False, before=None, after=None) -> None:
    """Replace ``cls.method`` with a span-recording wrapper. ``before`` /
    ``after`` run outside the span (storage walks), so they add to the
    tracing overhead but not to the span's own time."""
    orig = getattr(cls, method)

    @functools.wraps(orig)
    def wrapped(self, *args, **kwargs):
        state = before(self) if before else None
        with tracer.span(name, spark_jobs) as s:
            result = orig(self, *args, **kwargs)
        if after and s is not None:
            after(self, state, s)
        return result

    setattr(cls, method, wrapped)


# -- event log -----------------------------------------------------------------


def tracing_conf(event_dir: str) -> dict[str, str]:
    """Session conf of the traced run: a plain-JSON, single-file event log
    (the defaults are zstd and rolling) and the Python UDF perf profiler."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(event_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.sql.pyspark.udf.profiler": "perf",
    }


def read_event_log(event_dir: str) -> dict[str, dict[str, float]]:
    """Task metrics summed per job group from ``SparkListenerTaskEnd``.
    A stage is attributed to the job group of its submission."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(TASK_METRICS, 0.0))
    for path in glob.glob(os.path.join(event_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    m = out[group]
                    m["tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        m["tasks_failed"] += 1
                    tm = ev.get("Task Metrics") or {}
                    m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    sr = tm.get("Shuffle Read Metrics") or {}
                    m["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0))
                    sw = tm.get("Shuffle Write Metrics") or {}
                    m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    m["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                         + tm.get("Disk Bytes Spilled", 0))
                    m["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                    m["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
    return dict(out)


def udf_python_seconds(spark, dump_dir: str) -> float:
    """Python time recorded by the UDF perf profiler since the last call,
    summed over UDFs; clears the profiler afterwards."""
    for p in glob.glob(os.path.join(dump_dir, "*.pstats")):
        os.remove(p)
    spark.profile.dump(dump_dir, type="perf")
    spark.profile.clear(type="perf")
    return sum(pstats.Stats(p).total_tt
               for p in glob.glob(os.path.join(dump_dir, "*.pstats")))


# -- /proc counters ------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                out[int(d)] = int(_stat_fields(int(d))[1])
            except (OSError, IndexError):
                pass
    return out


def spark_jvm_pid() -> int:
    """The Spark JVM is the java child of this Python process."""
    for pid, ppid in _ppid_map().items():
        if ppid == os.getpid():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    if f.read().strip() == "java":
                        return pid
            except OSError:
                pass
    raise RuntimeError("no Spark JVM child process found")


def cpu_seconds(jvm_pid: int) -> float:
    """CPU seconds of this process plus the JVM and all its descendants
    (the Python workers), counting reaped children too."""
    t = os.times()
    total = t.user + t.system
    for p in _descendants(jvm_pid):
        try:
            f = _stat_fields(p)
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of /proc/pid/stat
        total += sum(int(x) for x in f[11:15]) / _TICK
    return total


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def _descendants(pid: int) -> set[int]:
    ppids = _ppid_map()
    tree, todo = set(), [pid]
    while todo:
        p = todo.pop()
        tree.add(p)
        todo.extend(c for c, pp in ppids.items() if pp == p and c not in tree)
    return tree


def _alive(pid: int) -> bool:
    try:
        return _stat_fields(pid)[0] != "Z"
    except OSError:
        return False


def stop_jvm(jvm_pid: int, timeout: float = 60.0) -> None:
    """End the Spark JVM and its Python workers and wait until they are
    gone: after ``spark.stop()`` the JVM would otherwise live on until this
    process exits."""
    tree = _descendants(jvm_pid)
    try:
        os.kill(jvm_pid, signal.SIGTERM)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in tree) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in tree:
        if _alive(p):
            os.kill(p, signal.SIGKILL)
    try:
        os.waitpid(jvm_pid, 0)
    except ChildProcessError:
        pass
