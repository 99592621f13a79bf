"""Measurements taken from outside the package.

- ``ProcTree``: CPU seconds and resident memory of the benchmark's
  process tree (driver Python, the JVM, and the JVM's Python workers),
  read from ``/proc``.
- ``SparkRest``: per-op job, stage and SQL-node metrics from Spark's
  monitoring REST API at ``sc.uiWebUrl``, attributed by job group.
- ``StreamListener``: a ``StreamingQueryListener`` that keeps every
  query's progress events and signals its termination.
- ``Tracer``: in-memory spans (name, layer, start, end, parent) with
  per-layer self time.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.request

from pyspark.sql.streaming import StreamingQueryListener

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # fields after the parenthesized command name (which may hold spaces)
    return raw[raw.rindex(")") + 2 :].split()


def process_start_epoch() -> float:
    """Wall-clock time at which this process was started."""
    start_ticks = int(_stat(os.getpid())[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / CLK_TCK


class ProcTree:
    """The driver process and the JVM it launched, with descendants.

    CPU of a process counts its own time plus that of its reaped
    children, so every CPU second of the tree is counted once whether a
    Python worker is still alive or has exited.
    """

    def __init__(self, jvm_pid: int | None = None):
        self.driver = os.getpid()
        self.jvm = jvm_pid
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    kids.setdefault(int(st[1]), []).append(int(name))
        return kids

    def _descendants(self, root: int, kids: dict[int, list[int]]) -> list[int]:
        out, todo = [], [root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(kids.get(pid, []))
        return out

    def cpu(self) -> dict[str, float]:
        """CPU seconds so far: ``driver`` (this Python process alone),
        ``jvm`` (the JVM process alone) and ``workers`` (the JVM's
        descendants, i.e. Python workers)."""
        def own(pid, with_children):
            st = _stat(pid)
            if st is None:
                return 0.0
            ticks = int(st[11]) + int(st[12])
            if with_children:
                ticks += int(st[13]) + int(st[14])
            return ticks / CLK_TCK

        out = {"driver": own(self.driver, False), "jvm": 0.0, "workers": 0.0}
        if self.jvm is not None:
            kids = self._children()
            out["jvm"] = own(self.jvm, False)
            st = _stat(self.jvm)
            if st is not None:  # reaped workers land in the JVM's child time
                out["workers"] = (int(st[13]) + int(st[14])) / CLK_TCK
            for pid in self._descendants(self.jvm, kids)[1:]:
                out["workers"] += own(pid, True)
        return out

    def rss(self) -> int:
        kids = self._children()
        total = 0
        for pid in self._descendants(self.driver, kids):
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * PAGE
            except OSError:
                pass
        return total

    def _sample(self, period: float) -> None:
        while not self._stop.wait(period):
            self.peak_rss = max(self.peak_rss, self.rss())

    def start_sampling(self, period: float = 0.2) -> None:
        self.peak_rss = max(self.peak_rss, self.rss())
        self._thread = threading.Thread(target=self._sample, args=(period,), daemon=True)
        self._thread.start()

    def stop_sampling(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak_rss = max(self.peak_rss, self.rss())


_NUM = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")
_SCALE = {
    "": 1, "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1, "m": 60, "h": 3600,
}


def metric_value(text: str) -> float:
    """Total of a SQL-node metric as the UI prints it, in bytes, seconds
    or a count: ``"12.5 MiB"``, ``"1,234"``, or a multi-line
    ``"total (min, med, max ...)\\n3.1 s (...)"`` whose first figure is
    the total."""
    lines = text.strip().splitlines()
    body = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    m = _NUM.search(body)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE.get(m.group(2), 1)


class SparkRest:
    """Spark's monitoring REST API for the running application."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.seen_jobs: set[int] = set()
        self.seen_sql: set[int] = set()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as resp:
            return json.load(resp)

    def collect(self, groups: set[str]) -> dict[str, float]:
        """Metrics of every job not read before whose job group is in
        ``groups``, with their stages and SQL executions."""
        jobs = [
            j for j in self._get("/jobs")
            if j.get("jobGroup") in groups and j["jobId"] not in self.seen_jobs
        ]
        job_ids = {j["jobId"] for j in jobs}
        self.seen_jobs |= job_ids
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        out = dict.fromkeys(SPARK_KEYS + ARROW_KEYS, 0.0)
        out["spark.jobs"] = len(jobs)
        out["spark.failed_jobs"] = sum(j["status"] == "FAILED" for j in jobs)
        if stage_ids:
            for st in self._get("/stages"):
                if st["stageId"] not in stage_ids or st["status"] == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                out["spark.failed_tasks"] += st["numFailedTasks"]
                out["spark.shuffle_write_bytes"] += st["shuffleWriteBytes"]
                out["spark.shuffle_read_bytes"] += st["shuffleReadBytes"]
                out["spark.spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                out["spark.executor_run_s"] += st["executorRunTime"] / 1e3
                out["spark.executor_cpu_s"] += st["executorCpuTime"] / 1e9
                out["spark.gc_s"] += st["jvmGcTime"] / 1e3
                out["spark.input_bytes"] += st["inputBytes"]
                out["spark.output_bytes"] += st["outputBytes"]
        if job_ids:
            for ex in self._get("/sql?details=true&planDescription=false&offset=0&length=100000"):
                ids = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", [])) | set(
                    ex.get("runningJobIds", [])
                )
                if not ids & job_ids or ex["id"] in self.seen_sql:
                    continue
                self.seen_sql.add(ex["id"])
                self._sql_nodes(ex.get("nodes", []), out)
        return out

    @staticmethod
    def _sql_nodes(nodes, out) -> None:
        for node in nodes:
            name = node.get("nodeName", "")
            metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
            if name in ("Exchange", "BroadcastExchange"):
                out["spark.exchanges"] += 1
            if name.startswith("Scan"):
                out["spark.scan_files"] += metric_value(metrics.get("number of files read", "0"))
            if PYTHON_NODE.search(name):
                out["arrow.python_nodes"] += 1
                for key, names in PYTHON_METRICS.items():
                    out[key] += sum(metric_value(metrics[m]) for m in names if m in metrics)


SPARK_KEYS = [
    "spark.jobs", "spark.failed_jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.exchanges", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.spill_bytes", "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.input_bytes", "spark.output_bytes", "spark.scan_files",
]
PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")
# per-layer key -> SQL metrics of Python nodes summed into it
PYTHON_METRICS = {
    "arrow.bytes_to_python": ["data sent to Python workers"],
    "arrow.bytes_from_python": ["data returned from Python workers"],
    "arrow.rows_from_python": ["number of output rows"],
    "arrow.python_run_s": ["time to run Python workers"],
    "arrow.python_start_s": ["time to start Python workers", "time to initialize Python workers"],
}
ARROW_KEYS = ["arrow.python_nodes", *PYTHON_METRICS]


class StreamListener(StreamingQueryListener):
    """Keeps every streaming query's progress and signals termination.

    Micro-batch jobs run under job group = the query's runId, and
    progress events arrive after ``awaitTermination`` returns, so an op
    waits on ``wait_terminated`` for the queries it started before its
    metrics are read.
    """

    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer
        self.lock = threading.Lock()
        self.queries: dict[str, dict] = {}  # runId -> record

    def onQueryStarted(self, event):
        with self.lock:
            self.queries[str(event.runId)] = {
                "name": event.name,
                "started": time.time(),
                "parent": self.tracer.current(),
                "progress": [],
                "done": threading.Event(),
            }

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self.lock:
            rec = self.queries.get(p["runId"])
            if rec is not None:
                rec["progress"].append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            rec = self.queries.get(str(event.runId))
        if rec is not None:
            rec["ended"] = time.time()
            rec["exception"] = event.exception
            rec["done"].set()

    def started_since(self, t0: float) -> list[str]:
        with self.lock:
            return [rid for rid, r in self.queries.items() if r["started"] >= t0]

    def wait_terminated(self, run_ids: list[str], timeout: float = 60.0) -> list[str]:
        """Run ids whose terminated event did not arrive in time."""
        late = []
        for rid in run_ids:
            if not self.queries[rid]["done"].wait(timeout):
                late.append(rid)
        return late


class Tracer:
    """Spans kept in memory; ``spans`` is written out when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    def current(self) -> int | None:
        with self._lock:
            return self._stack[-1] if self._stack else None

    def add(self, name: str, layer: str, start: float, end: float, parent: int | None) -> int:
        with self._lock:
            self.spans.append(
                {"id": len(self.spans), "name": name, "layer": layer,
                 "start": start, "end": end, "parent": parent}
            )
            return len(self.spans) - 1

    def open(self, name: str, layer: str) -> int:
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            self.spans.append(
                {"id": len(self.spans), "name": name, "layer": layer,
                 "start": time.time(), "end": None, "parent": parent}
            )
            sid = len(self.spans) - 1
            self._stack.append(sid)
            return sid

    def close(self, sid: int) -> None:
        with self._lock:
            self.spans[sid]["end"] = time.time()
            if sid in self._stack:
                self._stack.remove(sid)

    def self_time(self) -> dict[str, float]:
        """Seconds per layer not covered by that span's children."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                p = self.spans[s["parent"]]
                if p["end"] is None:
                    continue
                overlap = min(s["end"], p["end"]) - max(s["start"], p["start"])
                child_time[p["id"]] = child_time.get(p["id"], 0.0) + max(0.0, overlap)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is not None:
                own = s["end"] - s["start"] - child_time.get(s["id"], 0.0)
                out[s["layer"]] = out.get(s["layer"], 0.0) + max(0.0, own)
        return out
