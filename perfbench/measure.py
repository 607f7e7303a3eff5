"""Measurement helpers shared by every workload.

Everything here observes the program from outside: spans the benchmark
records around its own calls into the engine, Spark's event log, streaming
progress reports, and ``/proc``. Nothing here changes what the engine runs.
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import os
import statistics
import time
import uuid


# --------------------------------------------------------------------- spans
class Tracer:
    """In-memory spans: name, start, end, parent and a trace id shared by
    every span of one run. Disabled tracers record nothing and cost one
    attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "trace_id": self.trace_id,
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""

        @functools.wraps(fn)
        def inner(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return inner

    def durations(self, name: str) -> list[float]:
        """Seconds of every closed span called ``name``, skipping spans
        nested inside another of the same name, so recursive calls are not
        counted twice."""
        by_id = {s["id"]: s for s in self.spans}
        out = []
        for s in self.spans:
            if s["name"] != name or s["end"] is None:
                continue
            p = s["parent"]
            while p is not None and by_id[p]["name"] != name:
                p = by_id[p]["parent"]
            if p is None:
                out.append(s["end"] - s["start"])
        return out

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def intervals(self, name: str) -> list[tuple[float, float]]:
        return [(s["start"], s["end"]) for s in self.spans if s["name"] == name and s["end"]]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def patch_attr(patches: list, obj, attr: str, wrapper) -> None:
    """Replace ``obj.attr`` by ``wrapper(old)``, remembering how to undo it."""
    old = getattr(obj, attr)
    patches.append((obj, attr, old))
    setattr(obj, attr, wrapper(old))


def undo_patches(patches: list) -> None:
    while patches:
        obj, attr, old = patches.pop()
        setattr(obj, attr, old)


# ------------------------------------------------------------ interval union
def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
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


def uncovered(window: tuple[float, float], intervals) -> float:
    """Length of ``window`` that none of ``intervals`` covers."""
    lo, hi = window
    clipped = [(max(lo, s), min(hi, e)) for s, e in intervals if e > lo and s < hi]
    return (hi - lo) - union_length(clipped)


# ------------------------------------------------------------------ stats
def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]); 0.0 for no values."""
    vals = sorted(values)
    if not vals:
        return 0.0
    k = max(0, min(len(vals) - 1, math.ceil(q / 100.0 * len(vals)) - 1))
    return float(vals[k])


def median(values) -> float:
    vals = list(values)
    return float(statistics.median(vals)) if vals else 0.0


# ------------------------------------------------------------------- /proc
def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant, from /proc/<pid>/stat."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


# Threads of the JVM's JIT compiler (their names as /proc shows them, cut
# to 15 characters). The JVM runs with a fixed set of them
# (-XX:-UseDynamicNumberOfCompilerThreads), so their CPU can be taken out
# of a process's total exactly.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _cpu_s(stat_path: str) -> tuple[str, float]:
    """Name and user plus system CPU seconds from a /proc stat file."""
    with open(stat_path) as f:
        text = f.read()
    name = text[text.index("(") + 1 : text.rindex(")")]
    fields = text.rsplit(")", 1)[1].split()
    return name, (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int, skip=()) -> float:
    """User plus system CPU seconds used so far by ``root``'s live process
    tree, leaving out the processes in ``skip`` and their children, and the
    JIT compiler threads: in a run of tens of seconds their work is mostly
    the JVM's warm-up, which a long-running pipeline pays once, and how
    much of it falls into a measured interval varies from run to run."""
    total = 0.0
    skipped = {p for s in skip for p in process_tree(s)}
    for p in process_tree(root):
        if p in skipped:
            continue
        try:
            total += _cpu_s(f"/proc/{p}/stat")[1]
            for t in os.listdir(f"/proc/{p}/task"):
                name, cpu = _cpu_s(f"/proc/{p}/task/{t}/stat")
                if name.startswith(JIT_THREADS):
                    total -= cpu
        except (OSError, IndexError, ValueError):
            pass
    return total


def thread_cpu_s(root: int, skip=()) -> dict[str, float]:
    """CPU seconds so far of the live threads of ``root``'s process tree,
    summed by thread name with digits dropped (``Executor task launch
    worker`` and so on): where a run's CPU went, for its record."""
    out: dict[str, float] = {}
    skipped = {p for s in skip for p in process_tree(s)}
    for p in process_tree(root):
        if p in skipped:
            continue
        try:
            for t in os.listdir(f"/proc/{p}/task"):
                name, cpu = _cpu_s(f"/proc/{p}/task/{t}/stat")
                key = "".join(c for c in name if not c.isdigit()).strip("#-_ ")
                out[key] = out.get(key, 0.0) + cpu
        except (OSError, IndexError, ValueError):
            pass
    return out


def cpu_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    """Per-thread-name CPU seconds between two ``thread_cpu_s`` readings."""
    return {k: round(v - before.get(k, 0.0), 2) for k, v in after.items() if v > before.get(k, 0.0)}


def peak_rss_bytes(root: int) -> int:
    """Sum of the kernel's peak-RSS marks (VmHWM) over ``root``'s live
    process tree: the JVM, the Python driver and any Python workers."""
    total = 0
    for p in process_tree(root):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_noise(before: list[int], after: list[int]) -> dict:
    """CPU steal share over the run and the load averages at its end."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta) or 1
    steal = delta[7] if len(delta) > 7 else 0
    with open("/proc/loadavg") as f:
        la = f.read().split()[:3]
    return {
        "steal_pct": round(100.0 * steal / total, 3),
        "busy_pct": round(100.0 * (total - delta[3] - delta[4]) / total, 3),
        "loadavg_1m": float(la[0]),
        "loadavg_5m": float(la[1]),
        "loadavg_15m": float(la[2]),
    }


# -------------------------------------------------------------- event log
_PYTHON_NODES = ("Python", "Pandas", "Arrow")

# Spark SQL metric name -> (layer metric, node-name filter or None)
_SQL_METRICS = {
    "scan time": "io.scan_ms",
    "time in aggregation build": "session.agg_build_ms",
    "sort time": "session.sort_ms",
    "time to run Python workers": "functions.python_run_ms",
    "number of written files": "sinks.files_written",
    "written output": "sinks.bytes_written",
}


def _metric_value(kind: str, value) -> float:
    v = float(value)
    return v / 1e6 if kind == "nsTiming" else v  # nsTiming -> ms


class EventLog:
    """Spark event-log reader: per-job tasks and SQL metrics, keyed by the
    job description the benchmark set before the call that caused the job."""

    def __init__(self, lines):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.accum_meta: dict[int, tuple[str, str, str]] = {}  # id -> (name, kind, node)
        self.accum_sum: dict[int, float] = {}
        for line in lines:
            if line.strip():
                self._event(json.loads(line))

    @classmethod
    def from_dir(cls, path: str) -> "EventLog":
        lines = []
        for name in sorted(os.listdir(path)):
            full = os.path.join(path, name)
            if os.path.isfile(full) and not name.endswith(".inprogress"):
                with open(full) as f:
                    lines.extend(f.readlines())
        return cls(lines)

    def _plan(self, node):
        for m in node.get("metrics", []):
            self.accum_meta[m["accumulatorId"]] = (
                m["name"],
                m["metricType"],
                node.get("nodeName", ""),
            )
        for c in node.get("children", []):
            self._plan(c)

    def _event(self, e: dict):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description") or ""
            self.jobs[e["Job ID"]] = {"desc": desc}
            for sid in e.get("Stage IDs", []):
                self.stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerTaskEnd":
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            im = tm.get("Input Metrics") or {}
            job = self.stage_job.get(e["Stage ID"])
            self.tasks.append(
                {
                    "job": job,
                    "desc": self.jobs.get(job, {}).get("desc", ""),
                    "launch": info["Launch Time"] / 1000.0,
                    "finish": info["Finish Time"] / 1000.0,
                    "run_ms": tm.get("Executor Run Time", 0),
                    "cpu_ns": tm.get("Executor CPU Time", 0),
                    "gc_ms": tm.get("JVM GC Time", 0),
                    "peak_mem": tm.get("Peak Execution Memory", 0),
                    "spill": tm.get("Disk Bytes Spilled", 0),
                    "sw_bytes": sw.get("Shuffle Bytes Written", 0),
                    "sw_ns": sw.get("Shuffle Write Time", 0),
                    "sr_bytes": sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0),
                    "fetch_ms": sr.get("Fetch Wait Time", 0),
                    "in_bytes": im.get("Bytes Read", 0),
                    "in_rows": im.get("Records Read", 0),
                }
            )
            for acc in info.get("Accumulables", []):
                if acc["ID"] in self.accum_meta and "Update" in acc:
                    self._add(acc["ID"], acc["Update"])
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            self._plan(e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e.get("accumUpdates", []):
                self._add(acc_id, value)

    def _add(self, acc_id: int, value):
        try:
            v = float(value)
        except (TypeError, ValueError):
            return
        self.accum_sum[acc_id] = self.accum_sum.get(acc_id, 0.0) + v

    def layer_metrics(self) -> dict[str, float]:
        """Task-summed and SQL-metric layer figures over the whole log."""
        t = self.tasks
        out = {
            "session.jobs": float(len(self.jobs)),
            "session.stages": float(len(self.stage_job)),
            "session.tasks": float(len(t)),
            "session.task_launch_ms": float(
                sum(max(0.0, (x["finish"] - x["launch"]) * 1000 - x["run_ms"]) for x in t)
            ),
            "session.task_run_s": sum(x["run_ms"] for x in t) / 1000.0,
            "session.task_cpu_s": sum(x["cpu_ns"] for x in t) / 1e9,
            "session.gc_s": sum(x["gc_ms"] for x in t) / 1000.0,
            "session.shuffle_write_bytes": float(sum(x["sw_bytes"] for x in t)),
            "session.shuffle_read_bytes": float(sum(x["sr_bytes"] for x in t)),
            "session.shuffle_write_ms": sum(x["sw_ns"] for x in t) / 1e6,
            "session.fetch_wait_ms": float(sum(x["fetch_ms"] for x in t)),
            "session.spill_bytes": float(sum(x["spill"] for x in t)),
            "session.peak_exec_mem_bytes": float(max([x["peak_mem"] for x in t] or [0])),
            "io.bytes_read": float(sum(x["in_bytes"] for x in t)),
            "io.rows_read": float(sum(x["in_rows"] for x in t)),
            "session.broadcast_bytes": 0.0,
            "io.scans": 0.0,
            "io.files_read": 0.0,
            "functions.python_rows": 0.0,
            "sinks.rows_written": 0.0,
        }
        for name in _SQL_METRICS.values():
            out.setdefault(name, 0.0)
        for acc_id, total in self.accum_sum.items():
            name, kind, node = self.accum_meta[acc_id]
            v = _metric_value(kind, total)
            if name in _SQL_METRICS:
                out[_SQL_METRICS[name]] += v
            elif name == "data size" and node.startswith("BroadcastExchange"):
                out["session.broadcast_bytes"] += v
            elif name == "number of files read":
                out["io.scans"] += 1
                out["io.files_read"] += v
            elif name == "number of output rows" and any(k in node for k in _PYTHON_NODES):
                out["functions.python_rows"] += v
            elif name == "number of output rows" and "InsertInto" in node:
                out["sinks.rows_written"] += v
        return out

    def task_intervals(self) -> list[tuple[float, float]]:
        return [(x["launch"], x["finish"]) for x in self.tasks]


# --------------------------------------------------------- streaming progress
def progress_metrics(progress: list[dict]) -> dict[str, float]:
    """Layer figures from ``StreamingQuery.recentProgress`` (as dicts)."""

    def dur(p, *keys):
        d = p.get("durationMs") or {}
        return float(sum(d.get(k, 0) for k in keys))

    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    states = [s for p in progress for s in p.get("stateOperators") or []]
    last_states = (progress[-1].get("stateOperators") or []) if progress else []
    return {
        "streaming.batches": float(len(data)),
        "streaming.trigger_ms_p50": median(dur(p, "triggerExecution") for p in data),
        "streaming.trigger_ms_p99": pct([dur(p, "triggerExecution") for p in data], 99),
        "streaming.add_batch_ms_p50": median(dur(p, "addBatch") for p in data),
        "streaming.planning_ms_p50": median(dur(p, "queryPlanning") for p in data),
        "streaming.commit_ms_p50": median(dur(p, "walCommit", "commitOffsets") for p in data),
        "streaming.state_rows": float(sum(s.get("numRowsTotal", 0) for s in last_states)),
        "streaming.state_bytes": float(sum(s.get("memoryUsedBytes", 0) for s in last_states)),
        "streaming.state_update_ms": float(sum(s.get("allUpdatesTimeMs", 0) for s in states)),
        "streaming.state_commit_ms": float(sum(s.get("commitTimeMs", 0) for s in states)),
        "streaming.rows_dropped_late": float(
            sum(s.get("numRowsDroppedByWatermark", 0) for s in states)
        ),
        "sources.latest_offset_ms_p50": median(dur(p, "latestOffset") for p in data),
        "sources.get_batch_ms_p50": median(dur(p, "getBatch") for p in data),
        "sources.rows_per_batch_p50": median(float(p["numInputRows"]) for p in data),
    }


def codegen_ms(spark) -> float:
    """Total whole-stage codegen compile time so far (Janino), from the
    driver's CodegenMetrics histogram: count x mean."""
    h = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return float(h.getCount()) * float(h.getSnapshot().getMean())
