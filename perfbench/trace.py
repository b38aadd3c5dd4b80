"""Traced-run tooling: call wrappers, a /proc sampler and an event-log
parser.

All three record from outside the package. The wrappers time the
public entry points of ``catalog``, ``sources.readers`` and
``sources.writers``; the sampler reads CPU and memory of the Python
driver, the JVM and the Python workers from ``/proc``; the parser reads
Spark's JSON event log after the session stops and attributes every
job, stage and task to the op whose time window holds it. One client
runs the ops in sequence, so a window holds exactly one op's work,
streaming threads and child sessions included.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# --------------------------------------------------------------------------
# call wrappers
# --------------------------------------------------------------------------


class Wrappers:
    """Times and counts calls into the package's public entry points
    while ``active`` is set. Installed by rebinding every module
    attribute that holds the original function, so call sites that
    imported the name directly are covered too."""

    def __init__(self) -> None:
        self.active = False
        self.stats: dict[str, float] = defaultdict(float)
        self._patched: list[tuple[object, str, object]] = []

    def install(self) -> None:
        from data_warehouse_co_healthy_spark import catalog  # noqa: PLC0415
        from data_warehouse_co_healthy_spark.sources import (  # noqa: PLC0415
            readers,
            writers,
        )

        targets = {
            catalog.load_table: self._load_table(catalog),
            catalog.spread: self._spread,
            writers.write_parquet: self._timed("writers.write_s"),
        }
        for name in dir(readers):
            fn = getattr(readers, name)
            if name.startswith("read_") and callable(fn):
                targets[fn] = self._timed("sources.read_s")
        wrapped = {orig: functools.wraps(orig)(make(orig))
                   for orig, make in targets.items()}
        pkg = "data_warehouse_co_healthy_spark"
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(pkg):
                continue
            for attr, val in list(vars(mod).items()):
                try:
                    new = wrapped.get(val)
                except TypeError:  # unhashable module attribute
                    continue
                if new is not None:
                    setattr(mod, attr, new)
                    self._patched.append((mod, attr, val))

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()

    def _timed(self, key: str):
        def make(orig):
            def call(*a, **kw):
                if not self.active:
                    return orig(*a, **kw)
                t0 = time.perf_counter()
                try:
                    return orig(*a, **kw)
                finally:
                    self.stats[key] += time.perf_counter() - t0
            return call
        return make

    def _load_table(self, catalog):
        def make(orig):
            def call(spark, sf_dir, name):
                if not self.active:
                    return orig(spark, sf_dir, name)
                n0 = len(catalog._TABLE_CACHE.get(spark, ()))
                t0 = time.perf_counter()
                try:
                    return orig(spark, sf_dir, name)
                finally:
                    self.stats["catalog.load_table_s"] += (
                        time.perf_counter() - t0)
                    self.stats["catalog.load_table_calls"] += 1
                    if len(catalog._TABLE_CACHE.get(spark, ())) == n0:
                        self.stats["catalog.table_cache_hits"] += 1
            return call
        return make

    def _spread(self, orig):
        def call(df):
            out = orig(df)
            if self.active:
                self.stats["catalog.spread_calls"] += 1
                if out is not df:
                    self.stats["catalog.spread_repartitions"] += 1
            return out
        return call


# --------------------------------------------------------------------------
# /proc sampler
# --------------------------------------------------------------------------


def _stat(pid: int) -> tuple[float, float, int] | None:
    """(own cpu s, reaped-children cpu s, rss bytes) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    own = (int(f[11]) + int(f[12])) / _TICK
    kids = (int(f[13]) + int(f[14])) / _TICK
    return own, kids, int(f[21]) * _PAGE


def _children(pid: int) -> list[int]:
    out: list[int] = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as fh:
                out += [int(x) for x in fh.read().split()]
        except OSError:
            pass
    return out


def python_workers(jvm_pid: int) -> list[int]:
    """Python processes below the JVM (pyspark daemon and workers)."""
    found, todo = [], _children(jvm_pid)
    while todo:
        pid = todo.pop()
        todo += _children(pid)
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().startswith("python"):
                    found.append(pid)
        except OSError:
            pass
    return found


def cpu_snapshot(jvm_pid: int) -> dict[str, float]:
    """CPU seconds so far of the driver, the JVM and the Python
    workers. Workers that exited are counted through their parent's
    reaped-children time."""
    drv = _stat(os.getpid())
    jvm = _stat(jvm_pid)
    workers = [s for s in map(_stat, python_workers(jvm_pid)) if s]
    return {
        "driver": drv[0] if drv else 0.0,
        "jvm": jvm[0] if jvm else 0.0,
        "workers": sum(own + kids for own, kids, _ in workers),
    }


def peak_rss_mb(pid: int) -> float:
    """Peak resident memory (VmHWM) of one process."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Sampler(threading.Thread):
    """Samples the Python workers' total RSS every ``interval`` seconds
    and keeps the peak."""

    def __init__(self, jvm_pid: int, interval: float = 0.25) -> None:
        super().__init__(daemon=True, name="perfbench-sampler")
        self.jvm_pid, self.interval = jvm_pid, interval
        self.worker_peak_rss = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            rss = sum(s[2] for s in map(_stat, python_workers(self.jvm_pid))
                      if s)
            self.worker_peak_rss = max(self.worker_peak_rss, rss)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


@dataclass
class Window:
    """One op's time span in epoch milliseconds; jobs submitted before
    ``build_end`` ran inside the op's builder."""
    op: str
    start: float
    build_end: float
    end: float


@dataclass
class EventTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    empty_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: float = 0.0
    shuffle_write: float = 0.0
    spill: float = 0.0
    py_sent: float = 0.0
    py_recv: float = 0.0
    exec_s: float = 0.0
    gap_s: float = 0.0
    build_jobs: int = 0
    stream_jobs: int = 0
    triggers: set = field(default_factory=set)


def _union_len(spans: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def parse_event_log(log_dir: str, windows: list[Window]) -> dict[str, EventTotals]:
    """Totals per op from the event log(s) in ``log_dir``. A job is
    attributed to the window holding its submission time, and its
    stages and tasks follow the job."""
    events = []
    for base, _, files in os.walk(log_dir):
        for name in sorted(files):
            if not name.startswith("events_"):
                continue
            with open(os.path.join(base, name)) as fh:
                events += [json.loads(line) for line in fh if line.strip()]

    def owner(t: float) -> Window | None:
        for w in windows:
            if w.start <= t <= w.end:
                return w
        return None

    out: dict[str, EventTotals] = defaultdict(EventTotals)
    job_win: dict[int, Window] = {}
    stage_win: dict[int, Window] = {}
    job_span: dict[int, list[float]] = {}
    job_tasks: dict[int, list[tuple[float, float]]] = defaultdict(list)
    stage_job: dict[int, int] = {}
    sql_start: dict[int, float] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            w = owner(ev["Submission Time"])
            if w is None:
                continue
            jid = ev["Job ID"]
            job_win[jid] = w
            job_span[jid] = [ev["Submission Time"], ev["Submission Time"]]
            t = out[w.op]
            t.jobs += 1
            if ev["Submission Time"] <= w.build_end:
                t.build_jobs += 1
            props = ev.get("Properties") or {}
            qid = props.get("sql.streaming.queryId")
            if qid is not None:
                t.stream_jobs += 1
                t.triggers.add((qid, props.get("streaming.sql.batchId")))
            for sid in ev.get("Stage IDs", []):
                stage_win[sid] = w
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
            job_span[ev["Job ID"]][1] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_win:
                out[stage_win[sid].op].stages += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            w = stage_win.get(sid)
            if w is None:
                continue
            t = out[w.op]
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            job_tasks[stage_job[sid]].append(
                (info["Launch Time"], info["Finish Time"]))
            t.tasks += 1
            t.run_s += m.get("Executor Run Time", 0) / 1e3
            t.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            t.gc_s += m.get("JVM GC Time", 0) / 1e3
            t.spill += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics", {})
            sw = m.get("Shuffle Write Metrics", {})
            t.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0)
            t.shuffle_write += sw.get("Shuffle Bytes Written", 0)
            records = (
                m.get("Input Metrics", {}).get("Records Read", 0)
                + sr.get("Total Records Read", 0)
                + m.get("Output Metrics", {}).get("Records Written", 0)
                + sw.get("Shuffle Records Written", 0)
            )
            if records == 0:
                t.empty_tasks += 1
            for acc in info.get("Accumulables", []):
                name = acc.get("Name")
                if name in (PY_SENT, PY_RECV):
                    try:
                        v = float(acc.get("Update", 0))
                    except (TypeError, ValueError):
                        continue
                    if name == PY_SENT:
                        t.py_sent += v
                    else:
                        t.py_recv += v
        elif kind == _SQL + "SparkListenerSQLExecutionStart":
            sql_start[ev["executionId"]] = ev["time"]
        elif kind == _SQL + "SparkListenerSQLExecutionEnd":
            s = sql_start.pop(ev["executionId"], None)
            w = owner(s) if s is not None else None
            if w is not None:
                out[w.op].exec_s += (ev["time"] - s) / 1e3
    for jid, (s, e) in job_span.items():
        busy = _union_len(job_tasks.get(jid, []))
        out[job_win[jid].op].gap_s += max(0.0, (e - s) - busy) / 1e3
    return out
