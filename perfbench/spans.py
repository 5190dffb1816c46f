"""Spans, process CPU and Spark event-log parsing for the traced run.

Spans are recorded by the benchmark around each public call it makes; the
program under test is not instrumented.  In a traced run every span also
sets ``sc.setJobGroup(<op id>)``, so each Spark job, stage and task in the
plain-JSON event log can be charged to the public call that caused it.
"""

from __future__ import annotations

import json
import os
import signal
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")

# SQL metrics the Python exec nodes (mapInPandas, pandas UDFs, cogroup)
# report per task, mapped to the per-op column they feed.
_PY_METRICS = {
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "arrow_bytes_in",
    "data returned from Python workers": "arrow_bytes_out",
}

# Columns summed over the tasks (or spans) of one op instance.
OP_COLUMNS = (
    "wall_s", "proc_cpu_s", "task_s", "task_cpu_s", "gc_s", "tasks",
    "python_init_s", "python_run_s", "arrow_bytes_in", "arrow_bytes_out",
    "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_fetch_wait_s",
    "driver_s", "broadcast_bytes", "kernel_build_s", "retries",
)
# The columns that come from the event log (and roll up from child spans).
SPARK_COLUMNS = (
    "task_s", "task_cpu_s", "gc_s", "tasks", "python_init_s", "python_run_s",
    "arrow_bytes_in", "arrow_bytes_out", "shuffle_write_bytes",
    "shuffle_read_bytes", "shuffle_fetch_wait_s", "broadcast_bytes",
)


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this host's CPUs so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK


def _procs() -> dict[int, tuple[int, int, int, str]]:
    """Every live process: pid -> (ppid, CPU ticks of it and its reaped
    children, start time in ticks, state)."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after "(comm)": state(0) ppid(1) ... utime(11) stime cutime
        # cstime(14) ... starttime(19)
        rest = stat[stat.rindex(")") + 2:].split()
        procs[int(name)] = (int(rest[1]), sum(int(x) for x in rest[11:15]), int(rest[19]), rest[0])
    return procs


def _tree(root_pid: int, procs: dict) -> list[int]:
    """``root_pid`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_) in procs.items():
        children.setdefault(ppid, []).append(pid)
    tree, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        if pid in procs:
            tree.append(pid)
        stack.extend(children.get(pid, ()))
    return tree


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by ``root_pid`` and every live descendant
    (the JVM and its Python workers), including children they reaped."""
    procs = _procs()
    return sum(procs[pid][1] for pid in _tree(root_pid, procs)) / _CLK


def descendants(root_pid: int) -> dict[int, int]:
    """Every live descendant of ``root_pid``: pid -> start time, which tells
    the process apart from a later one that reuses its pid."""
    procs = _procs()
    return {pid: procs[pid][2] for pid in _tree(root_pid, procs) if pid != root_pid}


def end_all(started: dict[int, int], grace_s: float = 20.0) -> None:
    """Wait until every process in ``started`` (from ``descendants``) has
    ended, whoever its parent is by now: SIGTERM to those still running,
    SIGKILL to those left after ``grace_s``.  A zombie counts as ended."""

    def running() -> list[int]:
        procs = _procs()
        return [pid for pid, start in started.items()
                if pid in procs and procs[pid][2] == start and procs[pid][3] != "Z"]

    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 60.0)):
        left = running()
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while left and time.monotonic() < deadline:
            time.sleep(0.05)
            left = running()
        if not left:
            return


class EventLog:
    """Spark's own event-log listener, attached to a running session for
    the traced part of a run and detached afterwards.  It writes the same
    plain JSON as ``spark.eventLog.enabled`` would, honouring the
    session's ``spark.eventLog.*`` settings (compression and rolling off)."""

    def __init__(self, sc, log_dir: str):
        jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._dir = log_dir
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            sc.applicationId, jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + log_dir), self._sc.conf(),
            sc._jsc.hadoopConfiguration(),
        )
        self._listener.start()
        self._sc.addSparkListener(self._listener)

    def close(self) -> str:
        """Detach after every queued event is written; return the log path."""
        self._sc.listenerBus().waitUntilEmpty(60_000)
        self._sc.removeSparkListener(self._listener)
        self._listener.stop()
        (name,) = os.listdir(self._dir)
        return os.path.join(self._dir, name)


class Tracer:
    """In-memory span recorder.  Every span records its wall time, the CPU
    the process tree used and the CPU time the hypervisor stole from the
    host meanwhile.  Once ``trace(sc)`` is called, each span also tags its
    Spark jobs with a job group named after the span's id."""

    def __init__(self):
        self.sc = None
        self.phase = "untraced"
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._count = 0

    def trace(self, sc) -> None:
        self.sc = sc
        self.phase = "traced"

    def _tag(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["id"], span["name"], False)

    @contextmanager
    def span(self, name: str, **attrs):
        self._count += 1
        rec = {
            "id": f"{name}#{self._count}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "phase": self.phase,
            **attrs,
        }
        if self.sc is not None:
            self._tag(rec)
        cpu0, steal0 = tree_cpu_s(os.getpid()), steal_s()
        self._stack.append(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        except BaseException as e:
            rec["error"] = repr(e)
            raise
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            rec["proc_cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
            rec["steal_s"] = steal_s() - steal0
            if self.sc is not None:
                self._tag(self._stack[-1] if self._stack else None)
            self.spans.append(rec)


def _plan_metric_types(node: dict, out: dict) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = m["metricType"]
    for child in node.get("children", ()):
        _plan_metric_types(child, out)


def _to_seconds(value: float, metric_type: str | None) -> float:
    return value / 1e9 if metric_type == "nsTiming" else value / 1e3


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def parse_event_log(path: str, spans: list[dict]) -> dict[str, dict]:
    """Per-span Spark metrics from a plain-JSON event log.

    Returns ``{span id: row}`` where row holds the task and SQL metric sums
    of the jobs tagged with that span's id, the span's own wall and process
    CPU, ``driver_s`` (span wall not covered by any of its stages) and a
    per-call-site stage breakdown under ``stages``."""
    rows = {s["id"]: {c: 0.0 for c in OP_COLUMNS} | {"stages": {}} for s in spans}
    metric_types: dict[int, str] = {}
    stage_group: dict[tuple[int, int], str] = {}
    stage_name: dict[tuple[int, int], str] = {}
    call_site: dict[int, str | None] = {}
    sql_call: dict[str, str] = {}
    intervals: dict[str, list[tuple[float, float]]] = {}
    pending_broadcast = 0

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _plan_metric_types(e["sparkPlanInfo"], metric_types)
                if ev.endswith("SQLExecutionStart"):
                    # first JVM frame, e.g. "DataFrameWriter.parquet(...)"
                    frame = (e.get("details") or "").split("\n", 1)[0].split("(", 1)[0]
                    sql_call[str(e["executionId"])] = ".".join(frame.split(".")[-2:])
            elif ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                # PySpark's call site of the action, e.g. "collect at
                # bank.py:710"; writes carry none and their stages are named
                # after a pool thread, so they fall back to the SQL call
                site = props.get("callSite.short") or sql_call.get(props.get("spark.sql.execution.id"))
                for sid in e.get("Stage IDs", ()):
                    call_site.setdefault(sid, site)
                r = rows.get(group)
                if r is not None:
                    r["broadcast_bytes"] += pending_broadcast
                pending_broadcast = 0
            elif ev == "SparkListenerBlockUpdated":
                info = e["Block Updated Info"]
                if info["Block ID"].startswith("broadcast_") and "_piece" in info["Block ID"]:
                    pending_broadcast += info["Memory Size"] + info["Disk Size"]
            elif ev == "SparkListenerStageSubmitted":
                si = e["Stage Info"]
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                stage_group[(si["Stage ID"], si["Stage Attempt ID"])] = group
                stage_name[(si["Stage ID"], si["Stage Attempt ID"])] = (
                    call_site.get(si["Stage ID"]) or si["Stage Name"]
                )
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                group = stage_group.get((si["Stage ID"], si["Stage Attempt ID"]))
                r = rows.get(group)
                if r is None or "Submission Time" not in si:
                    continue
                intervals.setdefault(group, []).append(
                    (si["Submission Time"] / 1e3, si.get("Completion Time", si["Submission Time"]) / 1e3)
                )
                _stage_row(r, stage_name[(si["Stage ID"], si["Stage Attempt ID"])])["stages"] += 1
            elif ev == "SparkListenerTaskEnd":
                key = (e["Stage ID"], e["Stage Attempt ID"])
                group = stage_group.get(key)
                r = rows.get(group)
                tm = e.get("Task Metrics")
                if r is None or not tm:
                    continue
                sr, sw = tm["Shuffle Read Metrics"], tm["Shuffle Write Metrics"]
                r["tasks"] += 1
                r["task_s"] += tm["Executor Run Time"] / 1e3
                r["task_cpu_s"] += tm["Executor CPU Time"] / 1e9
                r["gc_s"] += tm["JVM GC Time"] / 1e3
                r["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                r["shuffle_fetch_wait_s"] += sr["Fetch Wait Time"] / 1e3
                r["shuffle_write_bytes"] += sw["Shuffle Bytes Written"]
                init = 0.0
                for acc in e["Task Info"].get("Accumulables", ()):
                    col = _PY_METRICS.get(acc.get("Name"))
                    if col is None or acc.get("Update") is None:
                        continue
                    value = float(acc["Update"])
                    if col.endswith("_s"):
                        value = _to_seconds(value, metric_types.get(acc["ID"]))
                    if col == "python_init_s":
                        init += value
                    r[col] += value
                st = _stage_row(r, stage_name[key])
                st["tasks"] += 1
                st["task_s"] += tm["Executor Run Time"] / 1e3
                st["python_init_s"] += init
    # spans end (and are recorded) before their parents, so one pass rolls
    # each child's Spark work and stage intervals up into its parent
    for s in spans:
        r = rows[s["id"]]
        r["wall_s"] = s["wall_s"]
        r["proc_cpu_s"] = s.get("proc_cpu_s", 0.0)
        mine = intervals.get(s["id"], [])
        covered = _union_length(
            [(max(lo, s["start"]), min(hi, s["end"])) for lo, hi in mine
             if hi > s["start"] and lo < s["end"]]
        )
        r["driver_s"] = max(0.0, s["wall_s"] - covered)
        parent = rows.get(s["parent"])
        if parent is not None:
            intervals.setdefault(s["parent"], []).extend(mine)
            for col in SPARK_COLUMNS:
                parent[col] += r[col]
            for name, st in r["stages"].items():
                pst = _stage_row(parent, name)
                for k, v in st.items():
                    pst[k] += v
    return rows


def _stage_row(row: dict, name: str) -> dict:
    return row["stages"].setdefault(
        name, {"stages": 0, "tasks": 0, "task_s": 0.0, "python_init_s": 0.0}
    )
