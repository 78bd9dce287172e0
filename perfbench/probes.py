"""Measurement probes that live outside the program.

- ``PyWorkers``: CPU seconds and peak RSS of the Spark Python worker
  processes, read from ``/proc`` (works with tracing off).
- ``job_spans``: each job's group, submission and completion time.
- ``fold_event_log``: folds Spark's uncompressed event log into
  per-window totals (jobs, stages, tasks, task CPU/run/GC time, shuffle,
  spill, peak execution memory, input bytes and the Arrow-boundary SQL
  metrics of Python plan nodes).
- ``StreamProbe``: a ``StreamingQueryListener`` that records every
  micro-batch's trigger and addBatch durations and each drain's span.
- ``fingerprint``: host facts printed with every result. They flag a
  different host; no metric is divided by them.
"""

from __future__ import annotations

import glob
import json
import os
import platform
import statistics
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PY_NODES = (
    "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas", "ArrowEvalPython", "BatchEvalPython",
    "AggregateInPandas", "WindowInPandas",
)


# ----------------------------------------------------------- /proc

def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:  # the process exited between listing and reading
        return None


def _stat(pid: int) -> tuple[int, list[str]] | None:
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    # comm may contain spaces: the fields after it follow the last ')'
    rest = raw[raw.rindex(")") + 2:].split()
    return int(rest[1]), rest


def _is_worker(pid: int) -> bool:
    cmd = _read(f"/proc/{pid}/cmdline") or ""
    return "pyspark.daemon" in cmd or "pyspark.worker" in cmd


class PyWorkers:
    """Spark's Python daemon and worker processes below this process.

    CPU time counts live processes plus what the daemons have reaped
    (``cutime``/``cstime``), so a worker that exits between two reads
    is still counted once."""

    def __init__(self) -> None:
        self.root = os.getpid()

    def _below(self, stats: dict | None = None) -> set[int]:
        """Pids of every process below this one."""
        if stats is None:
            stats = self._stats()
        below: set[int] = {self.root}
        grew = True
        while grew:
            grew = False
            for pid, (ppid, _) in stats.items():
                if ppid in below and pid not in below:
                    below.add(pid)
                    grew = True
        return below - {self.root}

    @staticmethod
    def _stats() -> dict[int, tuple[int, list[str]]]:
        stats = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _stat(int(d))
                if st is not None:
                    stats[int(d)] = st
        return stats

    def _pyspark_pids(self) -> list[tuple[int, list[str], bool]]:
        stats = self._stats()
        out = []
        for pid in self._below(stats):
            if _is_worker(pid):
                out.append((pid, stats[pid][1],
                            not _is_worker(stats[pid][0])))
        return out

    def engine_cpu_s(self) -> float:
        """CPU seconds of this process and of every process below it
        (the JVM and the Python workers), counting what each reaped."""
        ticks = 0
        for pid in self._below():
            st = _stat(pid)
            if st is not None:
                f = st[1]
                ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        return ticks / CLK_TCK + time.process_time()

    def cpu_s(self) -> float:
        ticks = 0
        for _pid, f, is_daemon in self._pyspark_pids():
            # fields after ')': utime=11 stime=12 cutime=13 cstime=14
            ticks += int(f[11]) + int(f[12])
            if is_daemon:
                ticks += int(f[13]) + int(f[14])
        return ticks / CLK_TCK

    def peak_rss_mb(self) -> float:
        peak = 0
        for pid, _f, _d in self._pyspark_pids():
            for line in (_read(f"/proc/{pid}/status") or "").splitlines():
                if line.startswith("VmHWM:"):
                    peak = max(peak, int(line.split()[1]))
        return peak / 1024.0


# ------------------------------------------------------- event log

def event_log_files(log_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))
                  + glob.glob(os.path.join(log_dir, "local-*")))


def job_spans(paths: list[str]) -> list[dict]:
    """Every job in the event log: its job group (the benchmark tags
    each item's jobs with one), submission and completion times in
    wall-clock seconds."""
    jobs: dict[int, dict] = {}
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJob' not in line:
                    continue
                ev = json.loads(line)
                if ev["Event"] == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                    }
                elif ev["Event"] == "SparkListenerJobEnd" and \
                        ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
    return [j for j in jobs.values() if j["end"] is not None]


def _plan_python_accums(info: dict, acc: set[int]) -> None:
    if any(n in info.get("nodeName", "") for n in PY_NODES):
        for m in info.get("metrics", []):
            if m.get("name") == "number of output rows":
                acc.add(int(m["accumulatorId"]))
    for child in info.get("children", []):
        _plan_python_accums(child, acc)


def fold_event_log(paths: list[str],
                   windows: list[tuple[str, float, float]]) -> dict:
    """Fold events into totals per window ``(key, start_s, end_s)``
    (wall-clock seconds). A job belongs to the window its submission
    time falls in; its stages and tasks follow the job."""
    py_row_accums: set[int] = set()
    stage_window: dict[int, str] = {}
    tot: dict[str, dict] = {}

    def bucket(key: str) -> dict:
        return tot.setdefault(key, {
            "jobs": 0, "stages": 0, "tasks": 0, "task_cpu_s": 0.0,
            "task_run_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "spill_bytes": 0,
            "peak_exec_mem_bytes": 0, "input_bytes": 0,
            "py_tasks": 0, "py_time_s": 0.0, "py_start_s": 0.0,
            "bytes_to_py": 0, "bytes_from_py": 0, "py_rows": 0,
        })

    def window_of(t_ms: float) -> str | None:
        t = t_ms / 1000.0
        for key, a, b in windows:
            if a <= t <= b:
                return key
        return None

    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind.endswith("SparkListenerSQLExecutionStart") or \
                        kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_python_accums(ev.get("sparkPlanInfo", {}),
                                        py_row_accums)
                elif kind == "SparkListenerJobStart":
                    key = window_of(ev["Submission Time"])
                    if key is None:
                        continue
                    bucket(key)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_window[sid] = key
                elif kind == "SparkListenerStageCompleted":
                    key = stage_window.get(ev["Stage Info"]["Stage ID"])
                    if key is not None:
                        bucket(key)["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    key = stage_window.get(ev["Stage ID"])
                    if key is None:
                        continue
                    b = bucket(key)
                    m = ev.get("Task Metrics") or {}
                    b["tasks"] += 1
                    b["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    b["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    b["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics", {})
                    sr = m.get("Shuffle Read Metrics", {})
                    b["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    b["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0))
                    b["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    b["peak_exec_mem_bytes"] = max(
                        b["peak_exec_mem_bytes"],
                        m.get("Peak Execution Memory", 0))
                    b["input_bytes"] += m.get("Input Metrics", {}).get(
                        "Bytes Read", 0)
                    is_py = False
                    for a in ev["Task Info"].get("Accumulables", []):
                        name, upd = a.get("Name", ""), a.get("Update")
                        if not isinstance(upd, (int, float)):
                            try:
                                upd = int(upd)
                            except (TypeError, ValueError):
                                continue
                        if name == "data sent to Python workers":
                            b["bytes_to_py"] += upd
                            is_py = True
                        elif name == "data returned from Python workers":
                            b["bytes_from_py"] += upd
                        elif name == "time to run Python workers":
                            b["py_time_s"] += upd / 1e3
                        elif name == "time to start Python workers":
                            b["py_start_s"] += upd / 1e3
                        elif a.get("ID") in py_row_accums:
                            b["py_rows"] += upd
                    b["py_tasks"] += is_py
    return tot


# -------------------------------------------------------- streaming

def make_stream_probe():
    """A fresh ``StreamingQueryListener`` recording each micro-batch
    (trigger ms, addBatch ms, input rows) and each drain's span."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProbe(StreamingQueryListener):
        def __init__(self) -> None:
            super().__init__()
            self.lock = threading.Lock()
            self.batches: list[tuple[float, float, float, int]] = []
            self.started: dict[str, float] = {}
            self.drains: list[tuple[float, float]] = []

        def onQueryStarted(self, event) -> None:
            with self.lock:
                self.started[str(event.id)] = time.time()

        def onQueryProgress(self, event) -> None:
            p = event.progress
            d = p.durationMs or {}
            with self.lock:
                self.batches.append((time.time(),
                                     d.get("triggerExecution", 0) / 1e3,
                                     d.get("addBatch", 0) / 1e3,
                                     int(p.numInputRows or 0)))

        def onQueryIdle(self, event) -> None:  # abstract in pyspark
            pass

        def onQueryTerminated(self, event) -> None:
            with self.lock:
                t0 = self.started.pop(str(event.id), None)
                if t0 is not None:
                    self.drains.append((t0, time.time()))

        def settle(self, timeout_s: float = 5.0) -> None:
            """Wait until every started drain has reported its end
            (listener events arrive asynchronously)."""
            end = time.time() + timeout_s
            while self.started and time.time() < end:
                time.sleep(0.05)

    return StreamProbe()


def stream_totals(probe, windows: list[tuple[str, float, float]]) -> dict:
    """Per-window micro-batch totals from a settled ``StreamProbe``."""
    def inside(t):  # listener events land up to ~1 s after the item
        return any(a <= t <= b + 1.0 for _k, a, b in windows)

    batches = [b for b in probe.batches if inside(b[0])]
    drains = [d for d in probe.drains if inside(d[1])]
    trig = [b[1] for b in batches]
    add = sum(b[2] for b in batches)
    drain_s = sum(b - a for a, b in drains)
    q = statistics.quantiles(trig, n=4) if len(trig) >= 2 else trig * 3
    return {
        "batches": len(batches),
        "input_rows": sum(b[3] for b in batches),
        "batch_p50_s": statistics.median(trig) if trig else 0.0,
        "batch_p75_s": q[2] if q else 0.0,
        "add_batch_s": add,
        # trigger time outside addBatch, plus drain time outside triggers
        "overhead_s": (sum(trig) - add) + max(0.0, drain_s - sum(trig)),
    }


# ------------------------------------------------------ fingerprint

def fingerprint() -> dict:
    cpu = "unknown"
    for line in (_read("/proc/cpuinfo") or "").splitlines():
        if line.startswith("model name"):
            cpu = line.split(":", 1)[1].strip()
            break
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):  # fixed calibration loop
        acc = (acc + i * i) % 1_000_003
    return {
        "nproc": os.cpu_count(),
        "cpu_model": cpu,
        "python": platform.python_version(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        "calibration_s": round(time.perf_counter() - t0, 4),
    }
