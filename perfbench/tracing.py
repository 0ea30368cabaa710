"""Spans, event-log attribution and streaming progress for the traced run.

Every span is recorded from outside the program, around a call into one of
its public functions. A span sets a Spark job group, so the event log can
attribute jobs, task time, shuffle, spill and peak execution memory to it.
Jobs submitted from threads the program starts itself (a thread pool, a
streaming query's micro-batch thread) carry no group or the stream's own;
they are attributed by submission time instead (the benchmark is a single
client, so spans never overlap).
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import statistics
import threading
import time
from datetime import datetime

MB = 1 << 20
GROUP_PREFIX = "perfbench-"


class Spans:
    """In-memory spans: (name, wall start, wall end, job group)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.items: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        group = f"{GROUP_PREFIX}{len(self.items)}-{name}"
        self.sc.setJobGroup(group, name)
        rec = {"name": name, "group": group, "start": time.time()}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.items.append(rec)


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    every process in this process's session: the Python driver, the JVM it
    launched and the JVM's Python workers, less the JVM's JIT compiler
    threads. Time the host steals from the virtual CPUs is charged to no
    process, so this reading is steady where wall time is not; JIT
    compilation is left out because its amount depends on timing (it is the
    largest source of run-to-run spread in the first passes). Compiler
    threads must not exit (-XX:-UseDynamicNumberOfCompilerThreads), or
    their time would move into the process total."""
    sid = os.getsid(0)
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        fields = proc_stat(pid)
        if fields is None or int(fields[3]) != sid:
            continue
        total += sum(int(x) for x in fields[11:15])
        for task in os.listdir(f"/proc/{pid}/task") if _is_jvm(pid) else ():
            t = proc_stat(f"{pid}/task/{task}", with_name=True)
            if t is not None and t[0].startswith(("C1 CompilerThre", "C2 CompilerThre")):
                total -= int(t[1][11]) + int(t[1][12])
    return total / _TICK


def proc_stat(pid: str, with_name: bool = False):
    """Fields of ``/proc/<pid>/stat`` after the command name (and the name,
    with ``with_name``); None once the process has gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited since listdir
        return None
    head, tail = raw.rsplit(")", 1)
    return (head.split("(", 1)[1], tail.split()) if with_name else tail.split()


def _is_jvm(pid: str) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


class Meter:
    """Wall and CPU seconds of one interval."""

    def __init__(self) -> None:
        self.wall0, self.cpu0 = time.monotonic(), tree_cpu_s()

    def read(self) -> tuple[float, float]:
        return time.monotonic() - self.wall0, tree_cpu_s() - self.cpu0


def read_event_log(log_dir: str) -> dict:
    """Parse the (closed) event log: jobs with their group, interval and
    stages; per-stage task metric sums and task durations."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    # Spark 4 writes rolling logs: eventlog_v2_<app>/events_<n>_<app>
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
                       + glob.glob(os.path.join(log_dir, "local-*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "submit": ev["Submission Time"] / 1000,
                        "end": ev["Submission Time"] / 1000,
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    st = stages.setdefault(ev["Stage ID"], {
                        "task_s": 0.0, "shuffle_b": 0, "spill_b": 0, "peak_b": 0,
                        "durations": [],
                    })
                    st["task_s"] += m.get("Executor Run Time", 0) / 1000
                    st["shuffle_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                    st["peak_b"] = max(st["peak_b"], m.get("Peak Execution Memory", 0))
                    if info.get("Finish Time") and info.get("Launch Time"):
                        st["durations"].append(
                            (info["Finish Time"] - info["Launch Time"]) / 1000)
    return {"jobs": jobs, "stages": stages}


def attribute(spans: list[dict], log: dict) -> dict[str, dict]:
    """Per span: jobs, task/shuffle/spill/peak sums, driver gap (span wall
    not covered by any of its jobs), task durations of its stages."""
    out = {}
    for sp in spans:
        mine = [
            j for j in log["jobs"].values()
            if j["group"] == sp["group"]
            or (not (j["group"] or "").startswith(GROUP_PREFIX)
                and sp["start"] <= j["submit"] <= sp["end"])
        ]
        agg = {"jobs": len(mine), "task_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0,
               "peak_exec_mb": 0.0, "durations": []}
        seen: set[int] = set()
        for j in mine:
            for sid in j["stages"]:
                st = log["stages"].get(sid)
                if st is None or sid in seen:
                    continue
                seen.add(sid)
                agg["task_s"] += st["task_s"]
                agg["shuffle_mb"] += st["shuffle_b"] / MB
                agg["spill_mb"] += st["spill_b"] / MB
                agg["peak_exec_mb"] = max(agg["peak_exec_mb"], st["peak_b"] / MB)
                agg["durations"] += st["durations"]
        covered = _union([(max(j["submit"], sp["start"]), min(j["end"], sp["end"]))
                          for j in mine])
        agg["wall_s"] = sp["end"] - sp["start"]
        agg["driver_gap_s"] = max(0.0, agg["wall_s"] - covered)
        out[sp["group"]] = agg
    return out


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def make_progress_listener(spark):
    """A StreamingQueryListener that keeps every progress event; call
    ``drain()`` before reading (events arrive asynchronously) and
    ``close()`` before ``spark.stop()``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []
            self.lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            rec = {
                "ts": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
                "duration_ms": dict(p.durationMs),
                "rows": p.numInputRows,
                "state_b": sum(op.memoryUsedBytes for op in p.stateOperators),
            }
            with self.lock:
                self.events.append(rec)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def drain(self, quiet_s: float = 0.5, limit_s: float = 10.0) -> list[dict]:
            deadline = time.monotonic() + limit_s
            last = -1
            while time.monotonic() < deadline:
                with self.lock:
                    n = len(self.events)
                if n == last:
                    break
                last = n
                time.sleep(quiet_s)
            with self.lock:
                return list(self.events)

        def close(self) -> None:
            spark.streams.removeListener(self)

    listener = ProgressListener()
    spark.streams.addListener(listener)
    return listener


def batches_in(events: list[dict], start: float, end: float) -> list[dict]:
    """Progress events whose batch started inside [start, end] and that
    processed a batch (a trigger with no batch reports no addBatch)."""
    return [e for e in events
            if start <= e["ts"] <= end and "addBatch" in e["duration_ms"]]


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def quantile(xs: list[float], q: float) -> float:
    """Nearest-rank quantile (0 < q <= 1)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]
