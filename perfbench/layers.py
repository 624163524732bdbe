"""Measurement helpers: spans, process-tree CPU and memory from /proc,
and the fold of Spark's event log into per-operation layer counters.

Nothing here is imported by the package; the harness records spans around
the calls it makes into the package's public functions and reads the
engine's own records (event log, /proc, pg_stat views) from outside.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

_TICK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------- spans ----


@dataclass
class Span:
    name: str
    start: float  # epoch seconds (same clock as Spark's event timestamps)
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  Disabled, it keeps nothing: a span then
    costs two clock reads, so untraced runs can share the code path."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(name, 0.0, parent=self._stack[-1] if self._stack else None, run_id=self.run_id)
        if self.enabled:
            self._stack.append(len(self.spans))
            self.spans.append(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            if self.enabled:
                self._stack.pop()

    def to_json(self) -> list[dict]:
        return [
            {"id": i, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "run_id": s.run_id, **s.attrs}
            for i, s in enumerate(self.spans)
        ]


# -------------------------------------------------------------- /proc ----


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    # rest[0] is stat field 3 (state): rest[1] = ppid, rest[11:15] = utime,
    # stime, cutime, cstime (fields 14-17)
    cpu = sum(int(rest[i]) for i in (11, 12, 13, 14)) / _TICK
    return int(rest[1]), comm, cpu


def host_cpu() -> list[float]:
    """Cumulative host-wide CPU seconds from /proc/stat's first line: user,
    nice, system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(v) / _TICK for v in f.readline().split()[1:9]]


def cpu_probe_s() -> float:
    """Seconds for a fixed single-threaded pure-Python loop (best of three):
    a gauge of how fast the host runs this process's code right now, which
    CPU steal alone does not show (a contended core also runs slower)."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i % 7
        best = min(best, time.perf_counter() - t0)
    return best


def host_delta(before: list[float], after: list[float], own_cpu_s: float) -> dict[str, float]:
    """Host CPU between two ``host_cpu`` readings, with the run's own CPU
    over the same interval split out of the busy time."""
    user, nice, system, idle, iowait, irq, softirq, steal = (b - a for a, b in zip(before, after))
    busy = user + nice + system + irq + softirq
    return {
        "busy_s": round(busy, 2),
        "own_cpu_s": round(own_cpu_s, 2),
        "others_busy_s": round(busy - own_cpu_s, 2),
        "idle_s": round(idle, 2),
        "iowait_s": round(iowait, 2),
        "steal_s": round(steal, 2),
    }


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


class ProcTree:
    """The processes a run owns: this process and its descendants (JVM,
    Python workers, psql clients) plus the Postgres server tree, whose
    postmaster daemonizes out of our tree and is therefore added by pid."""

    def __init__(self) -> None:
        self.roots = {os.getpid()}

    def add_root(self, pid: int) -> None:
        self.roots.add(pid)

    def members(self) -> dict[int, tuple[str, float]]:
        """pid -> (kind, cpu seconds) for every live member."""
        stats = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _stat(int(d))
                if st is not None:
                    stats[int(d)] = st
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in stats.items():
            kids.setdefault(ppid, []).append(pid)
        out, todo = {}, [r for r in self.roots if r in stats]
        while todo:
            pid = todo.pop()
            if pid in out:
                continue
            _, comm, cpu = stats[pid]
            out[pid] = (_kind(pid, comm), cpu)
            todo.extend(kids.get(pid, ()))
        return out

    def cpu_seconds(self) -> float:
        return sum(cpu for _, cpu in self.members().values())


def _kind(pid: int, comm: str) -> str:
    if comm == "java":
        return "jvm"
    if comm.startswith("postgres") or comm == "postmaster":
        return "postgres"
    if pid == os.getpid():
        return "driver"
    if comm.startswith("python") or "pyspark" in _cmdline(pid):
        return "py_worker"
    return "other"


def _pss_mb(pid: int) -> float:
    """Proportional set size: shared pages (forked Python workers, the
    Postgres buffer pool) are split between their sharers, so the sum over
    processes does not double count them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class MemSampler:
    """Background sampler of the run's memory, by process kind; keeps the
    peak of the total and of each kind while running."""

    def __init__(self, tree: ProcTree, interval: float = 1.0):
        self.tree, self.interval = tree, interval
        self.peak_total = 0.0
        self.peak_kind: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        by_kind: dict[str, float] = {}
        for pid, (kind, _) in self.tree.members().items():
            by_kind[kind] = by_kind.get(kind, 0.0) + _pss_mb(pid)
        self.peak_total = max(self.peak_total, sum(by_kind.values()))
        for k, v in by_kind.items():
            self.peak_kind[k] = max(self.peak_kind.get(k, 0.0), v)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


# --------------------------------------------------------- event log ----

# Spark 4.1 PythonSQLMetrics names -> layer metric (values are ns timings
# or byte sizes, as the SQL metric type says).
_PY_ACCUMS = {
    "data sent to Python workers": "py.data_sent_bytes",
    "data returned from Python workers": "py.data_received_bytes",
    "time to start Python workers": "py.boot_s",
    "time to initialize Python workers": "py.init_s",
    "time to run Python workers": "py.run_s",
}
_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


def _walk_plan(node: dict, ids: dict[str, set[int]], metric_kind: dict[int, str]) -> None:
    names = {m["name"] for m in node.get("metrics", [])}
    for m in node.get("metrics", []):
        metric_kind[m["accumulatorId"]] = m.get("metricType", "sum")
        if m["name"] == "number of output rows" and "data sent to Python workers" in names:
            ids["py_rows"].add(m["accumulatorId"])
        elif m["name"] == "size of files read":
            ids["files_read"].add(m["accumulatorId"])
    for child in node.get("children", []):
        _walk_plan(child, ids, metric_kind)


def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


@dataclass
class EventLog:
    """The parts of one application's event log the fold needs."""

    jobs: list[dict]  # {"submit", "end", "stages": [ids]}
    stages: dict[int, dict]  # id -> {"submit", "tasks": [task dicts]}
    progress: list[dict]  # streaming QueryProgress payloads + "epoch"
    files_read: list[tuple[float, int]]  # (SQL execution start, scan bytes)

    @classmethod
    def read(cls, path: str) -> "EventLog":
        jobs, stages, progress, files_read = [], {}, [], []
        ids: dict[str, set[int]] = {"py_rows": set(), "files_read": set()}
        metric_kind: dict[int, str] = {}
        exec_start: dict[int, float] = {}
        tasks: list[tuple[int, dict]] = []
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jobs.append({"id": e["Job ID"], "submit": e["Submission Time"] / 1e3,
                                 "stages": e["Stage IDs"], "end": None})
                elif kind == "SparkListenerJobEnd":
                    for j in jobs:
                        if j["id"] == e["Job ID"]:
                            j["end"] = e["Completion Time"] / 1e3
                elif kind == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    stages.setdefault(info["Stage ID"], {"tasks": []})["submit"] = (
                        info.get("Submission Time", 0) / 1e3
                    )
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((e["Stage ID"], e))
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    if "time" in e:
                        exec_start[e["executionId"]] = e["time"] / 1e3
                    _walk_plan(e["sparkPlanInfo"], ids, metric_kind)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    # scan sizes are driver-side metrics, posted per SQL
                    # execution (task input metrics under-count parquet)
                    t0 = exec_start.get(e["executionId"])
                    for acc_id, value in e["accumUpdates"]:
                        if acc_id in ids["files_read"] and t0 is not None:
                            files_read.append((t0, value))
                elif kind == _PROGRESS:
                    p = e["progress"]
                    p["epoch"] = _iso_epoch(p["timestamp"])
                    progress.append(p)
        for sid, e in tasks:
            stages.setdefault(sid, {"tasks": [], "submit": None})["tasks"].append(
                _task(e, ids["py_rows"], metric_kind)
            )
        return cls(jobs, stages, progress, files_read)


def _task(e: dict, py_rows: set[int], metric_kind: dict[int, str]) -> dict:
    info, m = e["Task Info"], e.get("Task Metrics") or {}
    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
    inp = m.get("Input Metrics", {})
    t = {
        "launch": info["Launch Time"] / 1e3,
        "finish": info["Finish Time"] / 1e3,
        "run_s": m.get("Executor Run Time", 0) / 1e3,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "input_rows": inp.get("Records Read", 0),
        "py_rows": 0,
    }
    for a in info.get("Accumulables", []):
        name, upd = a.get("Name"), a.get("Update")
        if not isinstance(upd, (int, float)) and not (isinstance(upd, str) and upd.lstrip("-").isdigit()):
            continue
        upd = int(upd)
        key = _PY_ACCUMS.get(name)
        if key:
            scale = 1e-9 if metric_kind.get(a["ID"]) == "nsTiming" else (
                1e-3 if metric_kind.get(a["ID"]) == "timing" else 1
            )
            t[key] = t.get(key, 0) + upd * scale
        elif a["ID"] in py_rows:
            t["py_rows"] += upd
    return t


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


def fold_interval(log: EventLog, start: float, end: float, slots: int) -> dict[str, float]:
    """Layer counters for the jobs submitted and the streaming batches
    reported inside [start, end] — one timed operation of a closed-loop
    client, so nothing else submits jobs in that window."""
    jobs = [j for j in log.jobs if start <= j["submit"] <= end]
    out = {k: 0.0 for k in (
        "spark.jobs", "spark.stages", "spark.tasks", "spark.task_wait_s", "spark.task_run_s",
        "spark.task_cpu_s", "spark.gc_s", "spark.critical_path_s", "spark.shuffle_write_bytes",
        "spark.shuffle_read_bytes", "spark.spill_bytes", "tables.input_bytes", "tables.input_rows",
        "tables.scan_tasks", "py.data_sent_bytes", "py.data_received_bytes", "py.rows_received",
        "py.boot_s", "py.init_s", "py.run_s", "streaming.batches", "streaming.add_batch_s",
        "streaming.wal_commit_s", "streaming.query_planning_s", "streaming.latest_offset_s",
        "streaming.state_rows", "streaming.state_mem_bytes", "streaming.rows_dropped_by_watermark",
    )}
    busy = 0.0
    out["spark.jobs"] = len(jobs)
    for j in jobs:
        for sid in j["stages"]:
            st = log.stages.get(sid)
            if not st or not st["tasks"]:
                continue  # skipped stage (shuffle reuse) or never run
            out["spark.stages"] += 1
            out["spark.tasks"] += len(st["tasks"])
            out["spark.critical_path_s"] += max(t["finish"] - t["launch"] for t in st["tasks"])
            for t in st["tasks"]:
                busy += t["finish"] - t["launch"]
                if st.get("submit"):
                    out["spark.task_wait_s"] += max(0.0, t["launch"] - st["submit"])
                out["spark.task_run_s"] += t["run_s"]
                out["spark.task_cpu_s"] += t["cpu_s"]
                out["spark.gc_s"] += t["gc_s"]
                out["spark.shuffle_write_bytes"] += t["shuffle_write"]
                out["spark.shuffle_read_bytes"] += t["shuffle_read"]
                out["spark.spill_bytes"] += t["spill"]
                out["tables.input_rows"] += t["input_rows"]
                out["tables.scan_tasks"] += 1 if t["input_rows"] else 0
                out["py.rows_received"] += t["py_rows"]
                for k in _PY_ACCUMS.values():
                    out[k] += t.get(k, 0)
    out["tables.input_bytes"] = float(sum(b for t0, b in log.files_read if start <= t0 <= end))
    wall = max(end - start, 1e-9)
    out["spark.slot_busy_frac"] = busy / (slots * wall)
    ivals = [(j["submit"], j["end"] or end) for j in jobs]
    out["queries.driver_gap_s"] = wall - _union_seconds(ivals)
    for p in log.progress:
        if not start <= p["epoch"] <= end:
            continue
        d = p.get("durationMs", {})
        out["streaming.batches"] += 1
        out["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
        out["streaming.wal_commit_s"] += d.get("walCommit", 0) / 1e3
        out["streaming.query_planning_s"] += d.get("queryPlanning", 0) / 1e3
        out["streaming.latest_offset_s"] += d.get("latestOffset", 0) / 1e3
        ops = p.get("stateOperators", [])
        out["streaming.state_rows"] = max(out["streaming.state_rows"], sum(o.get("numRowsTotal", 0) for o in ops))
        out["streaming.state_mem_bytes"] = max(
            out["streaming.state_mem_bytes"], sum(o.get("memoryUsedBytes", 0) for o in ops)
        )
        out["streaming.rows_dropped_by_watermark"] += sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
    return out
