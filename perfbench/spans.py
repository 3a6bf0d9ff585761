"""Spans, job groups and Spark event-log parsing for the benchmark.

A span is a named, timed region whose Spark jobs carry the span's name
as their job group. Spans are recorded from outside the package: around
the calls the benchmark makes, and around package functions that the
benchmark wraps at run time (``wrap``), so the package itself is never
edited. With tracing on, the session also writes Spark's uncompressed,
non-rolling event log, and ``parse_event_log`` turns it into per-group
task metrics.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# SQL metric names, as Spark 4.1 writes them into task accumulables
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_FILES_READ = "number of files read"


class Spans:
    """Job-group tagging and wall-time spans for one Spark session."""

    def __init__(self, spark):
        self.spark = spark
        self.walls: dict[str, list[float]] = defaultdict(list)
        self.results: dict[str, list] = defaultdict(list)
        self.groups: set[str] = set()
        self._group: str | None = None

    def _set_group(self, group: str | None) -> None:
        self._group = group
        if group is not None:
            self.groups.add(group)
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str):
        """Eager span: jobs inside belong to ``name``; the enclosing
        group is restored on exit."""
        outer = self._group
        self._set_group(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name].append(time.perf_counter() - t0)
            self._set_group(outer)

    def wrap(self, module, attr: str, name: str, lazy: bool = False):
        """Replace ``module.attr`` by a wrapper that opens span ``name``.
        A lazy span (a function that returns an unevaluated DataFrame)
        leaves its group set after returning, so the jobs that later
        evaluate the frame are counted to it. Returns an undo callable."""
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            if lazy:
                self._set_group(name)
                return orig(*args, **kwargs)
            with self.span(name):
                out = orig(*args, **kwargs)
            self.results[name].append(out)
            return out

        setattr(module, attr, wrapper)
        return lambda: setattr(module, attr, orig)

    def job_counts(self) -> dict[str, int]:
        """Spark jobs started per group, from the live status tracker
        (works with tracing off)."""
        tracker = self.spark.sparkContext.statusTracker()
        return {g: len(tracker.getJobIdsForGroup(g)) for g in sorted(self.groups)}


def _proc_stats() -> dict[int, list[str]]:
    """The fields after the command name of every /proc/<pid>/stat."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        out[int(entry)] = stat[stat.rindex(")") + 2 :].split()
    return out


def _tree(stats: dict[int, list[str]] | None = None) -> list[int]:
    """This process and all its descendants: the JVM and its Python
    workers."""
    stats = _proc_stats() if stats is None else stats
    children = defaultdict(list)
    for pid, fields in stats.items():
        children[int(fields[1])].append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


_TICK = os.sysconf("SC_CLK_TCK")
# CPU time the memory sampler's thread has used; tree_cpu_s leaves it out
_sampler_cpu_s = 0.0


def tree_cpu_s() -> float:
    """User + system CPU time of this process and its descendants, and of
    descendants that have exited (their parents' waited-for children).
    The kernel counts time the hypervisor gave to other guests as steal,
    not as any process's time. The memory sampler's own time is left out,
    because it grows with wall time."""
    stats = _proc_stats()
    ticks = 0
    for pid in _tree(stats):
        f = stats.get(pid)
        if f is not None:
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _TICK - _sampler_cpu_s


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and its Python workers), sampled from /proc. Each process
    counts its proportional share of pages it shares (PSS), so forked
    Python workers do not count their parent's pages again."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_rss(self) -> int:
        total = 0
        for pid in _tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total

    def _run(self) -> None:
        global _sampler_cpu_s
        while not self._stop.is_set():
            t0 = time.thread_time()
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            _sampler_cpu_s += time.thread_time() - t0
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())


def _plan_metric_ids(plan: dict, name: str, out: set) -> None:
    for m in plan.get("metrics", ()):
        if m.get("name") == name:
            out.add(m["accumulatorId"])
    for child in plan.get("children", ()):
        _plan_metric_ids(child, name, out)


def parse_event_log(path: str) -> dict[str, dict]:
    """Per job group: jobs, their summed wall time, task run/CPU/GC
    time, shuffle bytes read and written, spill, Arrow bytes to and
    from Python workers, files read by scans, and every task's run
    time (for skew)."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    exec_group: dict[int, str] = {}
    files_ids: set = set()
    driver_updates: list = []  # (execution id, accumulator id, value)
    acc: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    tasks: dict[str, list] = defaultdict(list)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id")
                if g is None:
                    continue
                jid = ev["Job ID"]
                job_group[jid] = g
                job_start[jid] = ev["Submission Time"] / 1e3
                acc[g]["n_jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = g
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    exec_group.setdefault(int(eid), g)
            elif kind == "SparkListenerJobEnd":
                g = job_group.get(ev["Job ID"])
                if g is not None:
                    acc[g]["jobs_wall_s"] += (
                        ev["Completion Time"] / 1e3 - job_start[ev["Job ID"]]
                    )
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                a = acc[g]
                run_s = m["Executor Run Time"] / 1e3
                tasks[g].append(run_s)
                a["executor_run_s"] += run_s
                a["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                a["gc_s"] += m["JVM GC Time"] / 1e3
                sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
                a["shuffle_bytes"] += (
                    sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                    + sw["Shuffle Bytes Written"]
                )
                a["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                for u in ev["Task Info"].get("Accumulables", ()):
                    if u.get("Name") in (_PY_SENT, _PY_RECV):
                        a["python_bytes"] += float(u.get("Update", 0))
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_metric_ids(ev["sparkPlanInfo"], _FILES_READ, files_ids)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                # scans list their files while planning, before the
                # execution's first job names its group: resolve below
                for acc_id, value in ev["accumUpdates"]:
                    driver_updates.append((ev["executionId"], acc_id, value))
    for eid, acc_id, value in driver_updates:
        g = exec_group.get(eid)
        if g is not None and acc_id in files_ids:
            acc[g]["files_read"] += value
    out = {}
    for g, a in acc.items():
        row = {
            k: a.get(k, 0.0)
            for k in (
                "n_jobs", "jobs_wall_s", "executor_run_s", "executor_cpu_s",
                "gc_s", "shuffle_bytes", "spill_bytes", "python_bytes",
                "files_read",
            )
        }
        row["task_runs"] = tasks.get(g, [])
        out[g] = row
    return out


def aggregate(groups: dict[str, dict], names) -> dict:
    """Sum per-group rows over ``names``, pooling their task times."""
    total: dict = defaultdict(float)
    total["task_runs"] = []
    for n in names:
        for k, v in groups.get(n, {}).items():
            if k == "task_runs":
                total[k] = total[k] + v
            else:
                total[k] += v
    return dict(total)


def layer_metrics(row: dict, wall_s: float, cores: int) -> dict:
    """The nine per-call metrics plus Arrow bytes, from a group row and
    the call's wall time measured outside Spark."""
    runs = row.get("task_runs", [])
    p50 = statistics.median(runs) if runs else 0.0
    run_s = row.get("executor_run_s", 0.0)
    return {
        "wall_s": wall_s,
        "n_jobs": int(row.get("n_jobs", 0)),
        "executor_run_s": run_s,
        "executor_cpu_s": row.get("executor_cpu_s", 0.0),
        "gc_s": row.get("gc_s", 0.0),
        "shuffle_bytes": int(row.get("shuffle_bytes", 0)),
        "spill_bytes": int(row.get("spill_bytes", 0)),
        "busy_share": run_s / (wall_s * cores) if wall_s else 0.0,
        "task_skew": max(runs) / p50 if p50 else 1.0,
        "python_bytes": int(row.get("python_bytes", 0)),
    }
