"""Measurement plumbing for the benchmark, all of it outside the engine.

- :class:`Spans` keeps every span in memory and writes them once, at the
  end of a run.
- :class:`PlanProbe` (traced runs only) is a ``QueryExecutionListener``
  implemented through the py4j callback server. It reads each executed
  query's planning tracker, its exchange count and the SQL metrics of its
  Python (Arrow) operators.
- :class:`StreamProgress` is a ``StreamingQueryListener``. It keeps every
  progress update, unlike ``query.recentProgress``, which holds only the
  last ``spark.sql.streaming.numRecentProgressUpdates`` (100).
- :class:`EventLog` (traced runs only) reads the Spark event log written
  when the run ends and attributes jobs, stages and tasks to time windows.
  The benchmark is a closed loop with one client, so every job submitted
  inside an operation's window belongs to that operation.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


class Spans:
    """Spans are (id, parent, name, start, end, attrs); times are epoch
    seconds so they line up with the JVM's event-log timestamps."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []

    def start(self, name: str, parent: int | None = None, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "parent": parent, "name": name,
                           "start": time.time(), "end": None, "attrs": attrs})
        return len(self.spans) - 1

    def end(self, span: int, **attrs) -> float:
        s = self.spans[span]
        s["end"] = time.time()
        s["attrs"].update(attrs)
        return s["end"] - s["start"]

    def add(self, name: str, parent: int | None, start: float, end: float, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "parent": parent, "name": name,
                           "start": start, "end": end, "attrs": attrs})
        return len(self.spans) - 1

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, **extra, "spans": self.spans}, fh)


def _walk_plan(node, out: list) -> None:
    out.append(node)
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        _walk_plan(node.executedPlan(), out)
    elif cls.endswith("QueryStageExec"):
        _walk_plan(node.plan(), out)
    children = node.children()
    for i in range(children.size()):
        _walk_plan(children.apply(i), out)


_PYTHON_EXEC = re.compile(r"Python|Pandas|InArrow")


class PlanProbe:
    """QueryExecutionListener that records, per successful execution:
    the tracker's phase times, the phase start (for attribution), the
    number of shuffle/broadcast exchanges in the executed plan, and the
    rows/bytes crossing the Arrow boundary."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.records: list[dict] = []
        self.errors = 0
        self._sc = spark.sparkContext
        ensure_callback_server_started(self._sc._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        try:
            self.records.append(self._record(qe))
        except Exception:  # noqa: BLE001 - a listener must never raise into the JVM
            self.errors += 1

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        pass

    def _record(self, qe) -> dict:
        phases, t_ms = {}, None
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().durationMs()
            start = kv._2().startTimeMs()
            t_ms = start if t_ms is None else min(t_ms, start)
        nodes: list = []
        _walk_plan(qe.executedPlan(), nodes)
        rec = {"t_ms": t_ms or time.time() * 1000, "exchanges": 0,
               "arrow_rows": 0, "arrow_bytes": 0, **phases}
        for n in nodes:
            cls = n.getClass().getSimpleName()
            if cls in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
                rec["exchanges"] += 1
            elif _PYTHON_EXEC.search(cls):
                m = n.metrics()
                for key, field in (("pythonNumRowsReceived", "arrow_rows"),
                                   ("pythonDataSent", "arrow_bytes"),
                                   ("pythonDataReceived", "arrow_bytes")):
                    if m.contains(key):
                        rec[field] += m.apply(key).value()
        return rec

    def drain(self) -> None:
        """Block until the listener bus has delivered every event so far."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def between(self, t0: float, t1: float) -> list[dict]:
        return [r for r in self.records if t0 * 1000 <= r["t_ms"] <= t1 * 1000]

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class StreamProgress(StreamingQueryListener):
    """Every micro-batch progress update of every stream, in order."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event):  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event):  # noqa: N802 (Spark API)
        p = event.progress
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        self.progress.append({"query": str(p.id), "batch": p.batchId,
                              "rows": p.numInputRows, "start": start, **p.durationMs})

    def onQueryIdle(self, event):  # noqa: N802 (Spark API)
        pass

    def onQueryTerminated(self, event):  # noqa: N802 (Spark API)
        pass

    def batches(self, query_id: str) -> list[dict]:
        return [p for p in self.progress if p["query"] == query_id and p["rows"] > 0]


class EventLog:
    """Jobs, stages and tasks from a finished Spark event log."""

    def __init__(self, evdir: str) -> None:
        self.jobs: list[float] = []  # submission times, epoch ms
        self.stages: dict[int, dict] = {}  # id -> {"t0","t1","python","tasks":[...]}
        # eventlog_v2 layout: one directory per application, event files
        # named events_<n>_<app id>, plus an appstatus marker.
        for path in sorted(glob.glob(os.path.join(evdir, "**", "events_*"), recursive=True)):
            self._read(path)

    def _read(self, path: str) -> None:
        with open(path, errors="replace") as fh:
            for line in fh:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    self.jobs.append(e["Submission Time"])
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    scopes = " ".join(r.get("Scope", "") for r in info.get("RDD Info", []))
                    st = self.stages.setdefault(info["Stage ID"], {"tasks": []})
                    st.update(t0=info.get("Submission Time", 0),
                              t1=info.get("Completion Time", 0),
                              python=bool(_PYTHON_EXEC.search(scopes)))
                elif kind == "SparkListenerTaskEnd":
                    tm = e.get("Task Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics", {})
                    sw = tm.get("Shuffle Write Metrics", {})
                    inp = tm.get("Input Metrics", {})
                    self.stages.setdefault(e["Stage ID"], {"tasks": []})["tasks"].append({
                        "run_ms": tm.get("Executor Run Time", 0),
                        "cpu_ns": tm.get("Executor CPU Time", 0),
                        "gc_ms": tm.get("JVM GC Time", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                        "scan_rows": inp.get("Records Read", 0),
                        "scan_bytes": inp.get("Bytes Read", 0),
                    })

    def window(self, t0: float, t1: float, cores: int) -> dict:
        """Scheduling and execution metrics for jobs submitted in [t0, t1]
        (epoch seconds)."""
        lo, hi = t0 * 1000, t1 * 1000
        jobs = [t for t in self.jobs if lo <= t <= hi]
        # A shuffle-map stage shared by later jobs keeps its id there as a
        # skipped stage, so stages are attributed by their own submit time.
        ran = [st for st in self.stages.values() if "t0" in st and lo <= st["t0"] <= hi]
        tasks = [t for st in ran for t in st["tasks"]]
        busy = _union_ms([(max(st["t0"], lo), min(st["t1"], hi)) for st in ran])
        wall = max(t1 - t0, 1e-9)
        task_s = sum(t["run_ms"] for t in tasks) / 1000
        skew = 0.0
        if ran:
            longest = max(ran, key=lambda st: st["t1"] - st["t0"])
            runs = [t["run_ms"] for t in longest["tasks"]]
            if runs and statistics.median(runs) > 0:
                skew = max(runs) / statistics.median(runs)
        py = [st for st in ran if st["python"]]
        return {
            "spark.sched.jobs": len(jobs),
            "spark.sched.stages": len(ran),
            "spark.sched.tasks": len(tasks),
            "spark.sched.driver_s": max(0.0, wall - busy / 1000),
            "spark.exec.task_s": task_s,
            "spark.exec.cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "spark.exec.gc_s": sum(t["gc_ms"] for t in tasks) / 1000,
            "spark.exec.slot_util": task_s / (wall * cores),
            "spark.exec.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "spark.exec.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
            "spark.exec.spill_bytes": sum(t["spill"] for t in tasks),
            "spark.exec.scan_rows": sum(t["scan_rows"] for t in tasks),
            "spark.exec.scan_bytes": sum(t["scan_bytes"] for t in tasks),
            "spark.exec.stage_skew": skew,
            "spark.arrow.stage_s": sum(st["t1"] - st["t0"] for st in py) / 1000,
        }


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the JVM's Python workers)."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(stat.split("/")[2]))
    out, frontier = [], [pid]
    while frontier:
        frontier = [c for p in frontier for c in children.get(p, [])]
        out += frontier
    return out


_CLK_TCK = os.sysconf("SC_CLK_TCK")
# The JVM's JIT compiler threads (``/proc`` thread names are cut at 15
# characters). Their CPU is warm-up: it compiles the code rather than runs
# the work, falls to zero in a long-lived session, and comes in bursts
# whose timing varies from process to process.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _ticks(stat_path: str) -> int:
    """utime + stime of one /proc stat file, in clock ticks (0 if gone)."""
    try:
        with open(stat_path) as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return 0
    return int(fields[11]) + int(fields[12])


def engine_cpu_s(jvm_pid: int) -> float:
    """CPU seconds (user + system) used so far by the engine: this Python
    driver process, every thread of the driver JVM except its JIT compiler
    threads, and the JVM's live Python workers. Unlike wall time, it does
    not count the time a vCPU of a shared host is taken away (steal)."""
    ticks = 0
    for task in glob.glob(f"/proc/{jvm_pid}/task/*"):
        try:
            with open(f"{task}/comm") as fh:
                if fh.read().strip() in _JIT_THREADS:
                    continue
        except OSError:
            continue
        ticks += _ticks(f"{task}/stat")
    for pid in descendants(jvm_pid):
        ticks += _ticks(f"/proc/{pid}/stat")
    own = os.times()
    return ticks / _CLK_TCK + own.user + own.system


def peak_rss_mb(jvm_pid: int) -> float:
    """High-water resident memory of the driver JVM plus its live Python
    worker processes (``VmHWM`` from /proc)."""
    kb = 0
    for pid in [jvm_pid] + descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return kb / 1024
