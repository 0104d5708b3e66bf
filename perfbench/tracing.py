"""Run bookkeeping for the benchmark: layer spans, Spark event-log
counters, process-tree memory and the machine context of a record.

Spans are recorded by the benchmark's own code around each call into an
engine layer; they stay in memory and are written out once, at the end
of the run.
"""
from __future__ import annotations

import glob
import json
import os
import platform
import subprocess
import sys
import threading
import time
import uuid
from contextlib import contextmanager


class Tracer:
    """Nested spans (name, start, end, parent) sharing one run id. A
    disabled tracer still times the spans the caller reads back, but
    keeps no record of them."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list = []
        self.phase = None         # "setup" | "cold" | "warm", set by the runner
        self._stack: list = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans) if self.enabled else -1, "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "phase": self.phase, "start": time.perf_counter(), "end": None,
               **attrs}
        if self.enabled:
            self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str, **match) -> list:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None
                and all(s.get(k) == v for k, v in match.items())]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(dict(s, run_id=self.run_id)) + "\n")


# ------------------------------------------------------------ event log

# stage accumulables summed into the spark.* counters: name -> (metric
# suffix, scale to the reported unit)
STAGE_COUNTERS = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "time to initialize Python workers": ("python_init_s", 1e-3),
    "time to start Python workers": ("python_init_s", 1e-3),
    "time to run Python workers": ("python_run_s", 1e-3),
    "data sent to Python workers": ("bytes_to_python", 1),
    "data returned from Python workers": ("bytes_from_python", 1),
}
SPARK_COUNTERS = ("executor_run_s", "executor_cpu_s", "gc_s",
                  "shuffle_write_bytes", "spill_bytes", "python_init_s",
                  "python_run_s", "bytes_to_python", "bytes_from_python",
                  "tasks")
JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin")


def _plan_join_accs(plan: dict, out: set) -> None:
    if any(plan.get("nodeName", "").startswith(j) for j in JOIN_NODES):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _plan_join_accs(child, out)


def parse_event_logs(log_dir: str) -> dict:
    """Group each completed stage's accumulables by the job group of the
    job that ran it. Returns {group: {"counters": {...}, "join_rows": n}}.

    SQL metrics are global per plan node, so each accumulator's value is
    its largest over the stages that report it; task metrics are per
    stage and sum over the group's stages."""
    stage_group: dict = {}
    exec_group: dict = {}
    exec_join_accs: dict = {}
    acc_value: dict = {}       # (group, acc id) -> (name, value)
    tasks: dict = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group is None:
                        continue
                    for sid in ev.get("Stage IDs", []):
                        stage_group[(path, sid)] = group
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_group[(path, int(eid))] = group
                elif kind.endswith("SparkListenerSQLExecutionStart") or \
                        kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    accs = exec_join_accs.setdefault((path, ev["executionId"]), set())
                    _plan_join_accs(ev.get("sparkPlanInfo", {}), accs)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get((path, info["Stage ID"]))
                    if group is None:
                        continue
                    tasks[group] = tasks.get(group, 0) + info.get("Number of Tasks", 0)
                    for acc in info.get("Accumulables", []):
                        try:
                            val = float(acc.get("Value"))
                        except (TypeError, ValueError):
                            continue
                        key = (group, path, acc["ID"])
                        old = acc_value.get(key, (None, 0.0))[1]
                        acc_value[key] = (acc.get("Name"), max(old, val))
    out: dict = {}
    join_accs_by_group: dict = {}
    for key, accs in exec_join_accs.items():
        group = exec_group.get(key)
        if group is not None:
            join_accs_by_group.setdefault(group, set()).update(
                (key[0], a) for a in accs)
    for (group, path, acc_id), (name, val) in acc_value.items():
        rec = out.setdefault(group, {"counters": dict.fromkeys(SPARK_COUNTERS, 0.0),
                                     "join_rows": 0})
        if name in STAGE_COUNTERS:
            metric, scale = STAGE_COUNTERS[name]
            rec["counters"][metric] += val * scale
        if (path, acc_id) in join_accs_by_group.get(group, ()):
            rec["join_rows"] += int(val)
    for group, n in tasks.items():
        out.setdefault(group, {"counters": dict.fromkeys(SPARK_COUNTERS, 0.0),
                               "join_rows": 0})["counters"]["tasks"] = float(n)
    return out


# ---------------------------------------------------------------- memory

def _children(pid: int) -> list:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(c) for c in fh.read().split()]
    except OSError:
        return []


def tree_pids(root: int) -> list:
    pids, todo = [], [root]
    while todo:
        p = todo.pop()
        pids.append(p)
        todo.extend(_children(p))
    return pids


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _proc_name(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


class RssSampler:
    """Samples the summed RSS of this process and its descendants (the
    driver JVM, the Python daemon and its workers) every ``interval``
    seconds, keeping the peak."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self.peak_parts: dict = {}    # MB by process name at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> float:
        parts: dict = {}
        for p in tree_pids(os.getpid()):
            name = _proc_name(p)
            parts[name] = parts.get(name, 0.0) + rss_mb(p)
            parts[f"n_{name}"] = parts.get(f"n_{name}", 0) + 1
        total = sum(v for k, v in parts.items() if not k.startswith("n_"))
        if total > self.peak_mb:
            self.peak_mb, self.peak_parts = total, parts
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


# --------------------------------------------------------------- machine

def machine_context(root: str) -> dict:
    """nproc, load average, JDK and PySpark versions, and one reading of
    the repository's machine-control script taken in this run's window."""
    import pyspark

    nproc = len(os.sched_getaffinity(0))
    ctx = {"nproc": nproc, "loadavg": list(os.getloadavg()),
           "python": platform.python_version(), "pyspark": pyspark.__version__}
    try:
        jv = subprocess.run(["java", "-version"], capture_output=True,
                            text=True, timeout=30)
        ctx["jdk"] = next(line for line in (jv.stderr + jv.stdout).splitlines()
                          if " version " in line)
    except (OSError, subprocess.TimeoutExpired, StopIteration) as e:
        ctx["jdk"] = f"unavailable: {e}"
    script = os.path.join(root, "scripts", "machine_control.py")
    try:
        mc = subprocess.run([sys.executable, script, f"1,{nproc}"],
                            capture_output=True, text=True, timeout=60)
        ctx["machine_control"] = json.loads(mc.stdout.strip().splitlines()[-1])
    except (OSError, subprocess.TimeoutExpired, ValueError, IndexError) as e:
        ctx["machine_control"] = f"unavailable: {e}"
    return ctx
