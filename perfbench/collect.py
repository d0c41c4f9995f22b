"""Outside-in collectors: the /proc process tree, Spark's event log, the perf
UDF profiler, and the benchmark's own spans.

Each collector raises when a field it reads is missing, so a Spark or kernel
that stops reporting a number fails the run instead of reporting 0.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict

CLK_TCK = os.sysconf("SC_CLK_TCK")
WORKER_MARK = b"pyspark.daemon"


class Missing(RuntimeError):
    """A field a collector needs is absent on this Spark or kernel."""


def need(d: dict, key: str, where: str):
    if key not in d:
        raise Missing(f"{where}: field {key!r} missing")
    return d[key]


# ---------------------------------------------------------------- /proc


class ProcTree:
    """Samples CPU time and Python-worker peak RSS of the process tree rooted
    at this process (driver, JVM, Python daemon and workers).

    CPU of the tree is the sum over live members of utime+stime plus the
    cutime+cstime of children they have reaped, so a worker that exits
    between two samples stays counted through its parent."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self.worker_hwm_kb = 0

    @staticmethod
    def _stat(pid: str):
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
        fields = raw[raw.rindex(b")") + 2:].split()
        ppid = int(fields[1])
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        return ppid, ticks

    def members(self) -> dict:
        """pid → ticks for every process of the tree."""
        parent, ticks = {}, {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                parent[pid], ticks[pid] = self._stat(pid)
            except (FileNotFoundError, ProcessLookupError):
                continue  # exited while listing
        children = defaultdict(list)
        for pid, pp in parent.items():
            children[str(pp)].append(pid)
        root = str(self.root)
        if root not in ticks:
            raise Missing(f"/proc/{root}/stat unreadable")
        tree, todo = {}, [root]
        while todo:
            pid = todo.pop()
            tree[pid] = ticks[pid]
            todo.extend(children.get(pid, ()))
        return tree

    def sample(self) -> float:
        """CPU seconds of the tree so far; also folds in worker peak RSS."""
        tree = self.members()
        for pid in tree:
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    if WORKER_MARK not in f.read():
                        continue
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            self.worker_hwm_kb = max(self.worker_hwm_kb, int(line.split()[1]))
                            break
                    else:
                        raise Missing(f"/proc/{pid}/status: VmHWM")
            except (FileNotFoundError, ProcessLookupError):
                continue
        return sum(tree.values()) / CLK_TCK

    def worker_rss_mb(self) -> float:
        if not self.worker_hwm_kb:
            raise Missing("no pyspark worker process seen in the process tree")
        return self.worker_hwm_kb / 1024.0


# ---------------------------------------------------------------- spans


class Tracer:
    """Spans recorded around each rung and each in-driver call: name, start,
    end, parent and run id, kept in memory and written out at the end."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[int] = []

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                self.idx = len(tracer.spans)
                tracer.spans.append({
                    "name": name, "start": time.perf_counter(), "end": None,
                    "parent": tracer._open[-1] if tracer._open else None,
                    "run": tracer.run_id,
                })
                tracer._open.append(self.idx)
                return self

            def __exit__(self, *exc):
                tracer.spans[self.idx]["end"] = time.perf_counter()
                tracer._open.pop()
                return False

        return _Span()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict:
        """name → summed self time: duration minus the part of it that the
        span's children cover."""
        covered = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += (s["end"] - s["start"]) - covered[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_s": self.self_times()}, f)


# ---------------------------------------------------------------- event log


PY_NODES = ("MapInPandas", "ArrowEvalPython")
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
ROWS = "number of output rows"


class EventLog:
    """Per-job-group task metrics from an uncompressed, non-rolling Spark
    event log (the file is complete once the SparkContext has stopped)."""

    def __init__(self, path: str):
        self.job_group: dict[int, str] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: dict[int, list] = defaultdict(list)
        self.py_row_ids: set[int] = set()
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))
        if not self.tasks:
            raise Missing(f"{path}: no SparkListenerTaskEnd events")

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            job = need(e, "Job ID", kind)
            props = e.get("Properties") or {}
            self.job_group[job] = props.get("spark.jobGroup.id")
            for sid in need(e, "Stage IDs", kind):
                self.stage_job[sid] = job
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            self._plan(need(e, "sparkPlanInfo", kind))
        elif kind == "SparkListenerTaskEnd":
            self.tasks[need(e, "Stage ID", kind)].append(self._task(e))

    @staticmethod
    def _task(e: dict) -> dict:
        info = need(e, "Task Info", "TaskEnd")
        task = {
            "ms": need(info, "Finish Time", "Task Info") - need(info, "Launch Time", "Task Info"),
            "failed": bool(need(info, "Failed", "Task Info")),
            "acc": {a["ID"]: (a.get("Name"), int(a.get("Update") or 0))
                    for a in info.get("Accumulables", []) if a.get("Metadata") == "sql"},
            "cpu_ns": 0, "gc_ms": 0, "shuffle_write": 0, "bytes_read": 0, "bytes_written": 0,
        }
        m = e.get("Task Metrics")
        if m is None:
            if task["failed"]:  # a failed task may carry no metrics
                return task
            raise Missing("TaskEnd: 'Task Metrics' missing on a finished task")
        where = "TaskEnd.Task Metrics"
        task.update({
            "cpu_ns": need(m, "Executor CPU Time", where),
            "gc_ms": need(m, "JVM GC Time", where),
            "shuffle_write": need(need(m, "Shuffle Write Metrics", where),
                                  "Shuffle Bytes Written", where),
            "bytes_read": need(need(m, "Input Metrics", where), "Bytes Read", where),
            "bytes_written": need(need(m, "Output Metrics", where), "Bytes Written", where),
        })
        return task

    def _plan(self, p: dict) -> None:
        if p["nodeName"] in PY_NODES:
            for metric in p.get("metrics", []):
                if metric["name"] == ROWS:
                    self.py_row_ids.add(metric["accumulatorId"])
        for child in p.get("children", []):
            self._plan(child)

    def stages(self, group: str) -> list[int]:
        sids = [s for s, j in self.stage_job.items() if self.job_group.get(j) == group]
        if not sids:
            raise Missing(f"event log: no stages for job group {group!r}")
        return sorted(sids)

    def group(self, group: str) -> dict:
        """Totals over every task of a job group, plus the skew of the stage
        that ran the Python UDF (max over median task time)."""
        tot = defaultdict(float)
        py_stage_ms = []
        for sid in self.stages(group):
            tasks = self.tasks.get(sid, [])
            py = False
            for t in tasks:
                for key in ("cpu_ns", "gc_ms", "shuffle_write", "bytes_read",
                            "bytes_written"):
                    tot[key] += t[key]
                tot["failed"] += t["failed"]
                tot["tasks"] += 1
                for aid, (name, upd) in t["acc"].items():
                    if name == PY_SENT:
                        tot["py_sent"] += upd
                        py = True
                    elif name == PY_RECV:
                        tot["py_recv"] += upd
                    elif name == ROWS and aid in self.py_row_ids:
                        tot["py_rows"] += upd
            if py and len(tasks) > len(py_stage_ms):
                py_stage_ms = [t["ms"] for t in tasks]
        if tot["tasks"] == 0:
            raise Missing(f"event log: no tasks for job group {group!r}")
        tot["py_skew"] = (
            max(py_stage_ms) / max(statistics.median(py_stage_ms), 1)
            if py_stage_ms else 0.0
        )
        return dict(tot)


def find_event_log(directory: str) -> str:
    files = [f for f in os.listdir(directory) if not f.startswith(".")]
    if len(files) != 1 or os.path.isdir(os.path.join(directory, files[0])):
        raise Missing(f"{directory}: expected one plain event log file, found {files}")
    return os.path.join(directory, files[0])


# ---------------------------------------------------------------- profiler

FUZI_MODULES = frozenset(
    "codec css dom extract fastextract htmlparser query udfs xmlparser xpath".split()
)


def profile_stats(spark) -> list:
    """pstats.Stats of every UDF the perf profiler saw in this session."""
    collector = getattr(spark, "_profiler_collector", None)
    if collector is None:
        raise Missing("SparkSession has no profiler collector")
    results = collector._perf_profile_results
    if not results:
        raise Missing("perf UDF profiler returned no results")
    return list(results.values())


def by_module(stats_list) -> dict:
    """fuzi_spark module → {"self_s": summed tottime of its Python functions
    (the C builtins they call are not included), "calls": {function: ncalls}}."""
    out: dict = defaultdict(lambda: {"self_s": 0.0, "calls": defaultdict(int)})
    for st in stats_list:
        for (filename, _line, func), (_cc, nc, tt, _ct, _callers) in st.stats.items():
            # the worker strips directories from the profile's file names
            parent, base = os.path.split(filename)
            if parent and os.path.basename(parent) != "fuzi_spark":
                continue
            if base[:-3] not in FUZI_MODULES:
                continue
            mod = base[:-3]
            out[mod]["self_s"] += tt
            out[mod]["calls"][func] += nc
    return out
