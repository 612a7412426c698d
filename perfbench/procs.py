"""Process-side measurements read from ``/proc`` and the Spark event log.

Memory is read only as the kernel reports it: the ``VmHWM`` high-water
mark in ``/proc/<pid>/status``, per process. ``tracemalloc`` is never
used: it hooks every allocation and slows NumPy-heavy code by an order of
magnitude, which is what inflated earlier long-turn timings.
"""

from __future__ import annotations

import json
import os
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children_map()
    out: list[int] = []
    todo = [pid or os.getpid()]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return b"pyspark" in cmd and b"java" not in cmd.split(b"\0")[0]


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class WorkerPeakRss:
    """Polls the VmHWM of every PySpark Python worker below this process
    and keeps the highest value seen."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        for pid in descendants():
            if _is_python_worker(pid):
                self.peak_mb = max(self.peak_mb, vm_hwm_mb(pid))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "WorkerPeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def steal_seconds(cpus: set[int], stat: str = "/proc/stat") -> float:
    """Time the hypervisor gave to other guests while ``cpus`` had work to
    run (their ``steal`` column in ``/proc/stat``), summed over the CPUs,
    in seconds; 0 where the kernel does not report it."""
    ticks = 0
    try:
        with open(stat, encoding="ascii") as f:
            for line in f:
                name, *vals = line.split()
                if (name.startswith("cpu") and name[3:].isdigit()
                        and int(name[3:]) in cpus and len(vals) > 7):
                    ticks += int(vals[7])
    except OSError:
        return 0.0
    return ticks / os.sysconf("SC_CLK_TCK")


def wait_for_descendants(timeout_s: float = 30.0) -> None:
    """Wait until every process started below this one has ended; kill
    what is left after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if not descendants():
            return
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"


def _app_logs(log_dir: str) -> list[list[str]]:
    """The event files below ``log_dir``, one list per application: a plain
    log is one file in ``log_dir``, a rolling log a directory of
    ``events_*`` files beside an ``appstatus_*`` marker."""
    apps = []
    for d, _dirs, files in os.walk(log_dir):
        paths = sorted(os.path.join(d, f) for f in files
                       if not f.startswith("appstatus"))
        if d == log_dir:
            apps += [[p] for p in paths]
        elif paths:
            apps.append(paths)
    return apps


def event_log_metrics(log_dir: str, job_group: str) -> dict[str, float]:
    """Task-level totals over the jobs of ``job_group`` in the uncompressed
    JSON event logs in ``log_dir``: task count, shuffle bytes written,
    spill, GC and executor run time, plus the MapInArrow SQL metrics for
    the Python workers. Stage IDs restart at 0 in every application, so
    each application's tasks are matched against its own jobs only."""
    tasks = 0
    shuffle_write = spill = 0
    gc_ms = run_ms = py_run_ms = py_sent = 0
    for files in _app_logs(log_dir):
        stage_in_group: set[int] = set()
        ends = []
        for path in files:
            with open(path, encoding="utf-8") as f:
                for line in f:
                    head = line[:64]
                    if '"SparkListenerJobStart"' in head:
                        ev = json.loads(line)
                        props = ev.get("Properties") or {}
                        if props.get("spark.jobGroup.id") == job_group:
                            stage_in_group.update(ev.get("Stage IDs", []))
                    elif '"SparkListenerTaskEnd"' in head:
                        ends.append(json.loads(line))
        for ev in ends:
            if ev.get("Stage ID") not in stage_in_group:
                continue
            tasks += 1
            tm = ev.get("Task Metrics") or {}
            shuffle_write += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            spill += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0)
            gc_ms += tm.get("JVM GC Time", 0)
            run_ms += tm.get("Executor Run Time", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                n = acc.get("Name")
                if n == _PY_RUN:
                    py_run_ms += int(acc.get("Update", 0))
                elif n == _PY_SENT:
                    py_sent += int(acc.get("Update", 0))
    mb = 1024.0 * 1024.0
    return {
        "spark.tasks": tasks,
        "spark.shuffle_write_mb": shuffle_write / mb,
        "spark.spill_mb": spill / mb,
        "spark.gc_s": gc_ms / 1000.0,
        "spark.executor_run_s": run_ms / 1000.0,
        "spark.python_run_s": py_run_ms / 1000.0,
        "spark.python_bytes_sent_mb": py_sent / mb,
    }
