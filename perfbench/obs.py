"""Measurement plumbing: spans, /proc memory sampling, the Spark event
log and the host-load sentinel.

Everything here observes the engine from outside: spans wrap calls into
its public functions, memory comes from ``/proc``, and stage metrics are
parsed offline from Spark's own event log.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")


# -------------------------------------------------------------------- spans


class Tracer:
    """In-memory spans (name, start, end, parent, op); written at run end.

    A span without an ``op`` inherits its parent's, so every span of one
    op shares that op's id. Disabled tracers record nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op=None):
        if not self.enabled:
            yield
            return
        parent = self.spans[self._stack[-1]] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None or parent is None else parent["op"],
            "start": time.perf_counter() - self._t0,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def write(self, path: str, extra: dict) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(json.dumps({"run": extra}) + "\n")
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def timed(fn, *args, **kwargs):
    """(result, seconds) of one call."""
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


# --------------------------------------------------------------------- /proc


def _proc_table() -> dict:
    """pid → (ppid, comm) for every live process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm sits in parentheses and may itself hold spaces
        lp, rp = stat.index("("), stat.rindex(")")
        table[int(name)] = (int(stat[rp + 2 :].split()[1]), stat[lp + 1 : rp])
    return table


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _descendants(table: dict, root: int) -> list:
    kids: dict = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class ProcSampler:
    """Samples, every ``interval`` s, the RSS of this driver plus its
    Python descendants (the PySpark worker daemon and its workers), and
    the RSS of the Spark JVM. Peaks are kept from :meth:`start` on."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.py_peak = 0
        self.jvm_peak = 0
        self.workers_peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = None

    def sample(self) -> None:
        table = _proc_table()
        me = os.getpid()
        py = _rss(me)
        jvm = workers = 0
        for pid in _descendants(table, me):
            ppid, comm = table[pid]
            if comm.startswith("python"):
                py += _rss(pid)
                # workers are forked by the daemon, itself a child of the JVM
                if table.get(ppid, (0, ""))[1].startswith("python"):
                    workers += 1
            elif comm == "java":
                jvm += _rss(pid)
        self.samples += 1
        self.py_peak = max(self.py_peak, py)
        self.jvm_peak = max(self.jvm_peak, jvm)
        self.workers_peak = max(self.workers_peak, workers)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.sample()


# ----------------------------------------------------------------- event log


def stage_metrics(event_dir: str, app_id: str, groups) -> dict:
    """Per-job-group totals from one application's event log.

    Returns {group: {jobs, stages, tasks, executor_run_s, gc_s,
    shuffle_write_mb, spill_mb}} for every group in ``groups``."""
    paths = []
    for entry in os.listdir(event_dir):
        if app_id in entry:
            full = os.path.join(event_dir, entry)
            if os.path.isdir(full):
                paths += sorted(os.path.join(full, f) for f in os.listdir(full) if f.startswith("events"))
            else:
                paths.append(full)
    job_group, stage_job = {}, {}
    done_stages = set()
    tasks: dict = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job_group[ev["Job ID"]] = g
                    for s in ev.get("Stage IDs", []):
                        stage_job.setdefault(s, ev["Job ID"])
                elif kind == "SparkListenerStageCompleted":
                    done_stages.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    t = tasks.setdefault(ev["Stage ID"], [0, 0, 0, 0, 0])
                    t[0] += 1
                    t[1] += m.get("Executor Run Time", 0)
                    t[2] += m.get("JVM GC Time", 0)
                    t[3] += sw.get("Shuffle Bytes Written", 0)
                    t[4] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    out = {g: {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0, "gc_s": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0} for g in groups}
    for g in job_group.values():
        if g in out:
            out[g]["jobs"] += 1
    for stage in done_stages:
        g = job_group.get(stage_job.get(stage))
        if g not in out:
            continue
        n, run_ms, gc_ms, shuffle_b, spill_b = tasks.get(stage, [0, 0, 0, 0, 0])
        o = out[g]
        o["stages"] += 1
        o["tasks"] += n
        o["executor_run_s"] += run_ms / 1e3
        o["gc_s"] += gc_ms / 1e3
        o["shuffle_write_mb"] += shuffle_b / 1e6
        o["spill_mb"] += spill_b / 1e6
    return out


def median_of(per_group: dict, key: str) -> float:
    return statistics.median(v[key] for v in per_group.values())


# ------------------------------------------------------------------ sentinel

SENTINEL_JVM_ROWS = 200_000_000
SENTINEL_PY_LOOP = 2_000_000


def sentinel(spark) -> dict:
    """One fixed pure-JVM job and one fixed pure-Python loop (seconds).

    Diagnostics only: recorded before and after the timed phase so a
    disagreement between two sets of runs can be traced to host load."""
    spark.sparkContext.setJobGroup("sentinel", "host-load sentinel")
    _, jvm_s = timed(lambda: spark.range(SENTINEL_JVM_ROWS).selectExpr("sum(id * 2 + 1)").collect())
    _, py_s = timed(lambda: sum(i * i for i in range(SENTINEL_PY_LOOP)))
    return {"jvm_s": round(jvm_s, 4), "py_s": round(py_s, 4)}
