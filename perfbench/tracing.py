"""Measurement from outside the program: spans around calls into the
package's public functions, Spark's own event log for everything below
them, and process-tree memory from /proc.

Spans are kept in memory and written once, at exit. A Spark job is
assigned to a rep by its submission time falling inside the rep's
window, and to a branch by its ``spark.scheduler.pool`` property, which
``plans.runner.run_job`` sets to the branch's dir_key.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field
from pathlib import Path

# ------------------------------------------------------------------ spans


@dataclass
class Span:
    name: str
    t0: float
    t1: float = 0.0
    parent: str | None = None

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """In-memory span recorder. Times are epoch seconds, so they line up
    with the event log's epoch-millisecond timestamps."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sp = Span(name, time.time(), parent=self._stack[-1] if self._stack else None)
        self._stack.append(name)
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            self._stack.pop()
            self.spans.append(sp)

    @contextlib.contextmanager
    def wrap(self, module, attr: str, name: str, results: list | None = None):
        """Replace ``module.attr`` by a spanned call for the block's
        duration; return values are appended to ``results`` if given."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*a, **kw):
            with self.span(name):
                r = fn(*a, **kw)
            if results is not None:
                results.append(r)
            return r

        setattr(module, attr, spanned)
        try:
            yield
        finally:
            setattr(module, attr, fn)

    def within(self, name: str, t0: float, t1: float) -> list[Span]:
        return [s for s in self.spans if s.name == name and t0 <= s.t0 and s.t1 <= t1]

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps([asdict(s) for s in self.spans], indent=0))


# ---------------------------------------------------------------- /proc


def process_age() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str]:
    """/proc/<pid>/stat after the command name: index 1 is the ppid,
    11-14 are utime, stime, cutime and cstime in clock ticks."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def _tree_pids(root_pid: int) -> list[int]:
    """``root_pid`` and every live descendant."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            ppid = int(_stat_fields(d)[1])
        except (OSError, ValueError, IndexError):
            continue
        children[ppid].append(int(d))
    pids, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, ()))
    return pids


def tree_hwm_mb(root_pid: int | None = None) -> float:
    """Sum of peak resident set (VmHWM) over ``root_pid`` and every live
    descendant: driver, JVM, Python workers and pipe children."""
    total_kb = 0
    for pid in _tree_pids(root_pid or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


#: HotSpot's JIT compiler threads ("C2 CompilerThread0" and so on; the
#: kernel keeps the first 15 characters of a thread's name)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def tree_cpu_s(root_pid: int | None = None) -> tuple[float, float]:
    """CPU seconds (user + system) spent so far by ``root_pid`` and its
    live descendants, all threads, plus the reaped children of each:
    a pipe child that exits during a job is counted through the worker
    that waited for it. Time the kernel accounts as steal (a vCPU not
    running because the host ran something else) is not in it.

    Returns (all of it, the part spent in live JIT compiler threads)."""
    ticks = jit = 0
    for pid in _tree_pids(root_pid or os.getpid()):
        try:
            ticks += sum(int(v) for v in _stat_fields(pid)[11:15])
            tids = os.listdir(f"/proc/{pid}/task")
        except (OSError, ValueError, IndexError):
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            if stat[stat.index("(") + 1:].startswith(JIT_THREADS):
                jit += sum(int(v) for v in stat.rsplit(")", 1)[1].split()[11:13])
    hz = os.sysconf("SC_CLK_TCK")
    return ticks / hz, jit / hz


# -------------------------------------------------------------- event log


def event_log_conf(log_dir: Path) -> dict[str, str]:
    """Session conf for the traced run. Spark 4.1 defaults to zstd
    rolling event-log dirs; plain JSON lines need no codec module."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.resolve().as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Job:
    id: int
    submit: float
    end: float
    pool: str | None
    execution: int | None
    stages: list[int]


@dataclass
class EventLog:
    """The parts of a Spark event log the layer metrics need."""

    jobs: dict[int, Job] = field(default_factory=dict)
    #: stage id -> list of (task metrics dict, {(node, metric): update})
    tasks: dict[int, list] = field(default_factory=lambda: defaultdict(list))
    #: accumulator id -> (plan node name, metric name)
    accums: dict[int, tuple[str, str]] = field(default_factory=dict)
    #: execution id -> {(node, metric): value} from driver-side updates
    driver_accums: dict[int, dict] = field(default_factory=lambda: defaultdict(lambda: defaultdict(int)))


def _walk_plan(info: dict, accums: dict) -> None:
    for m in info.get("metrics", ()):
        accums[m["accumulatorId"]] = (info["nodeName"], m["name"])
    for child in info.get("children", ()):
        _walk_plan(child, accums)


def read_event_log(path: Path) -> EventLog:
    log = EventLog()
    pending_tasks = []
    pending_driver = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"].rsplit(".", 1)[-1]
            if kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
                _walk_plan(e["sparkPlanInfo"], log.accums)
            elif kind == "SparkListenerSQLAdaptiveSQLMetricUpdates":
                for m in e.get("sqlPlanMetrics", ()):
                    log.accums.setdefault(m["accumulatorId"], ("?", m["name"]))
            elif kind == "SparkListenerDriverAccumUpdates":
                pending_driver.append(e)
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                ex = props.get("spark.sql.execution.id")
                log.jobs[e["Job ID"]] = Job(
                    e["Job ID"], e["Submission Time"] / 1000, 0.0,
                    props.get("spark.scheduler.pool"),
                    int(ex) if ex is not None else None, list(e["Stage IDs"]),
                )
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in log.jobs:
                    log.jobs[e["Job ID"]].end = e["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                pending_tasks.append(e)
    # accumulator ids of AQE re-plans can appear after the tasks that
    # update them, so updates are resolved once the whole log is read
    for e in pending_tasks:
        sql = defaultdict(int)
        for a in e["Task Info"].get("Accumulables", ()):
            key = log.accums.get(a["ID"])
            if key is not None and "Update" in a:
                try:
                    sql[key] += int(a["Update"])
                except (TypeError, ValueError):
                    pass
        log.tasks[e["Stage ID"]].append((e.get("Task Metrics") or {}, sql))
    for e in pending_driver:
        for acc_id, value in e["accumUpdates"]:
            key = log.accums.get(acc_id)
            if key is not None:
                log.driver_accums[e["executionId"]][key] += int(value)
    return log


def find_event_log(log_dir: Path) -> Path:
    files = [p for p in log_dir.iterdir() if p.is_file() and not p.name.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    return files[0]


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
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


def _sql(sql: dict, node_pred, metric: str) -> int:
    return sum(v for (node, m), v in sql.items() if m == metric and node_pred(node))


def rep_layers(
    log: EventLog, t0: float, t1: float, cores: int, input_rows: int, run_t0: float | None = None
) -> dict[str, float]:
    """Layer metrics of one rep: the jobs submitted inside [t0, t1].
    ``run_t0`` is when ``run_job`` was entered; the driver time from
    there to the first job is ``runner.plan_s``."""
    jobs = [j for j in log.jobs.values() if t0 <= j.submit <= t1]
    wall = t1 - t0
    spans = [(max(j.submit, t0), min(j.end or t1, t1)) for j in jobs]
    # a stage skipped by a later job (reused shuffle output) is listed by
    # both jobs, so stages are counted once
    stages = {s for j in jobs for s in j.stages}
    tasks = [t for s in stages for t in log.tasks.get(s, ())]
    m: dict[str, float] = defaultdict(float)
    sql_total: dict = defaultdict(int)
    for tm, sql in tasks:
        m["exec.run_s"] += tm.get("Executor Run Time", 0) / 1e3
        m["exec.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["exec.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        m["exec.deser_s"] += tm.get("Executor Deserialize Time", 0) / 1e3
        sw = tm.get("Shuffle Write Metrics", {})
        m["shuffle.write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
        m["shuffle.bytes"] += sw.get("Shuffle Bytes Written", 0)
        m["shuffle.records"] += sw.get("Shuffle Records Written", 0)
        if _sql(sql, lambda n: n.startswith("Scan "), "number of output rows"):
            # a task that read input files: its run time is scan plus
            # whatever Spark fused into the same stage
            m["io.scan_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["io.scan_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
        for k, v in sql.items():
            sql_total[k] += v
    executions = {j.execution for j in jobs if j.execution is not None}
    for ex in executions:
        for k, v in log.driver_accums.get(ex, {}).items():
            sql_total[k] += v

    def total(pred, metric):
        return _sql(sql_total, pred, metric)

    py = lambda n: n in ("MapInPandas", "MapInArrow")  # noqa: E731
    m["exec.tasks"] = len(tasks)
    m["exec.busy_ratio"] = m["exec.run_s"] / (cores * wall) if wall > 0 else 0.0
    m["runner.jobs"] = len(jobs)
    m["runner.driver_gap_s"] = wall - _union_seconds(spans)
    run_t0 = t0 if run_t0 is None else run_t0
    m["runner.plan_s"] = (min(j.submit for j in jobs) - run_t0) if jobs else t1 - run_t0
    pools = defaultdict(list)
    for j in jobs:
        if j.pool is not None:
            pools[j.pool].append((j.submit, j.end or t1))
    branch_s = [max(e for _, e in v) - min(s for s, _ in v) for v in pools.values()]
    m["runner.branch_max_s"] = max(branch_s, default=0.0)
    med = statistics.median(branch_s) if branch_s else 0.0
    m["runner.branch_skew"] = m["runner.branch_max_s"] / med if med > 0 else 0.0
    m["share.scan_amplification"] = total(lambda n: n.startswith("Scan "), "number of output rows") / input_rows
    m["share.cache_rows"] = total(lambda n: n == "InMemoryTableScan", "number of output rows")
    m["io.write_commit_s"] = (total(lambda n: True, "task commit time")
                              + total(lambda n: True, "job commit time")) / 1e3
    m["io.written_bytes"] = total(lambda n: True, "written output")
    m["io.files_written"] = total(lambda n: True, "number of written files")
    m["pipe.py_start_s"] = total(py, "time to start Python workers") / 1e3
    m["pipe.py_init_s"] = total(py, "time to initialize Python workers") / 1e3
    m["pipe.py_run_s"] = total(py, "time to run Python workers") / 1e3
    m["pipe.bytes_sent"] = total(py, "data sent to Python workers")
    m["pipe.bytes_returned"] = total(py, "data returned from Python workers")
    m["agg.build_s"] = total(lambda n: n.endswith("Aggregate"), "time in aggregation build") / 1e3
    return dict(m)
