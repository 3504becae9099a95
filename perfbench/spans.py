"""Spans around the calls into each layer, and per-layer counts read back
from the Spark event log of the traced session.

A span records (name, start, end, parent) in memory.  While a span is open,
the Spark jobs it starts carry the job group ``<name>|build`` until
:meth:`Span.built` is called (the layer's public function returned: any job
so far ran eagerly while the query was built) and ``<name>|run`` after it
(the action that materializes the layer's output).  After the session stops,
:func:`read_event_log` attributes every task to its job group, so each
layer's counts are measured where its work ran.
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0

# The common per-layer set, in the order it is reported.
COMMON = (
    "busy_s",
    "build_s",
    "jobs",
    "tasks",
    "task_s",
    "cpu_s",
    "python_s",
    "shuffle_write_mb",
    "spill_mb",
    "max_task_s",
    "single_task_stages",
)


def session_conf(work: str, event_log_dir: str | None = None) -> dict[str, str]:
    """Spark settings the benchmark adds to ``get_spark``'s own: every
    scratch file stays under ``work``, and the traced session writes an
    uncompressed, unrolled event log."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # no /tmp/hsperfdata_<user>: the JVM writes it outside java.io.tmpdir
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'jvm-tmp')} -XX:-UsePerfData"
        ),
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    build_end: float | None = None
    counts: dict[str, float] = field(default_factory=dict)
    _tracer: "Tracer | None" = None

    def built(self) -> None:
        """Mark the end of the build phase: later jobs are the layer's run."""
        self.build_end = time.time()
        self._tracer.set_group(f"{self.name}|run")

    def count(self, key: str, value: float) -> None:
        self.counts[key] = value

    @property
    def build_s(self) -> float:
        return (self.build_end or self.end) - self.start


class Tracer:
    """Keeps spans in memory; :meth:`record` returns them for writing."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        full = f"{parent.name}/{name}" if parent else name
        s = Span(full, parent.name if parent else None, time.time(), _tracer=self)
        self.spans.append(s)
        self._stack.append(s)
        self.set_group(f"{full}|build")
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.set_group(f"{parent.name}|run" if parent else "aux")

    def get(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name)

    def record(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "build_end": s.build_end,
                "counts": s.counts,
            }
            for s in self.spans
        ]


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    max_task_s: float = 0.0
    single_task_stages: int = 0
    # task time of the single-task stages
    single_task_s: float = 0.0
    last_job_end: float = 0.0
    # rows returned per Arrow Python UDF (by UDF name)
    udf_rows: dict[str, int] = field(default_factory=dict)


@dataclass
class EventLog:
    groups: dict[str, GroupStats]

    def layer(self, name: str, build_only: bool = False) -> GroupStats:
        """Sum over every job group of span ``name`` and its children."""
        out = GroupStats()
        for g, st in self.groups.items():
            span, _, phase = g.rpartition("|")
            if not (span == name or span.startswith(name + "/")):
                continue
            if build_only and (phase != "build" or span != name):
                continue
            out.jobs += st.jobs
            out.tasks += st.tasks
            out.task_s += st.task_s
            out.cpu_s += st.cpu_s
            out.gc_s += st.gc_s
            out.shuffle_write_mb += st.shuffle_write_mb
            out.spill_mb += st.spill_mb
            out.max_task_s = max(out.max_task_s, st.max_task_s)
            out.single_task_stages += st.single_task_stages
            out.single_task_s += st.single_task_s
            out.last_job_end = max(out.last_job_end, st.last_job_end)
            for udf, n in st.udf_rows.items():
                out.udf_rows[udf] = out.udf_rows.get(udf, 0) + n
        return out


def _udf_row_metrics(info: dict, out: dict[int, str]) -> None:
    """Map the output-row accumulator of every ArrowEvalPython node in a
    plan tree to the name of the UDF it evaluates."""
    if info["nodeName"] == "ArrowEvalPython":
        m = re.match(r"ArrowEvalPython \[(\w+)\(", info.get("simpleString", ""))
        for metric in info.get("metrics", []):
            if m and metric["name"] == "number of output rows":
                out[metric["accumulatorId"]] = m.group(1)
    for child in info.get("children", []):
        _udf_row_metrics(child, out)


def read_event_log(log_dir: str) -> EventLog:
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    job_end: dict[int, float] = {}
    acc_udf: dict[int, str] = {}
    stage_tasks: dict[int, int] = {}
    per_task: list[tuple[int, dict]] = []
    with open(files[0]) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jid = e["Job ID"]
                job_group[jid] = e.get("Properties", {}).get("spark.jobGroup.id", "aux")
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                job_end[e["Job ID"]] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                stage_tasks[e["Stage ID"]] = stage_tasks.get(e["Stage ID"], 0) + 1
                per_task.append((e["Stage ID"], e))
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _udf_row_metrics(e["sparkPlanInfo"], acc_udf)
    groups: dict[str, GroupStats] = {}
    for jid, g in job_group.items():
        st = groups.setdefault(g, GroupStats())
        st.jobs += 1
        st.last_job_end = max(st.last_job_end, job_end.get(jid, 0.0))
    counted_stages: set[int] = set()
    for sid, e in per_task:
        st = groups[job_group[stage_job[sid]]]
        tm = e.get("Task Metrics") or {}
        run_s = tm.get("Executor Run Time", 0) / 1000.0
        st.tasks += 1
        st.task_s += run_s
        st.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
        st.gc_s += tm.get("JVM GC Time", 0) / 1000.0
        shuffle = tm.get("Shuffle Write Metrics", {})
        st.shuffle_write_mb += shuffle.get("Shuffle Bytes Written", 0) / MB
        st.spill_mb += tm.get("Disk Bytes Spilled", 0) / MB
        st.max_task_s = max(st.max_task_s, run_s)
        if stage_tasks[sid] == 1:
            st.single_task_s += run_s
            if sid not in counted_stages:
                counted_stages.add(sid)
                st.single_task_stages += 1
        for acc in e["Task Info"].get("Accumulables", []):
            udf = acc_udf.get(acc["ID"])
            if udf is not None:
                st.udf_rows[udf] = st.udf_rows.get(udf, 0) + int(acc["Update"])
    return EventLog(groups)


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


class PeakRss:
    """Samples one process's resident set size every 100 ms while open."""

    def __init__(self, pid: int) -> None:
        self.pid = pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        while not self._stop.is_set():
            try:
                self.peak_kb = max(self.peak_kb, _status_kb(self.pid, "VmRSS"))
            except OSError:
                return
            self._stop.wait(0.1)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def python_worker_peak_rss_mb(sc) -> float:
    """Largest peak RSS (VmHWM) among the session's live Python worker
    processes, found as pyspark processes below the JVM."""
    jvm = sc._gateway.proc.pid
    parent = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    peak = 0
    for pid in parent:
        p = pid
        while p in parent and p != jvm:
            p = parent[p]
        if p != jvm or pid == jvm:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark" not in f.read():
                    continue
            peak = max(peak, _status_kb(pid, "VmHWM"))
        except OSError:
            continue
    return peak / 1024.0


def common_metrics(log: EventLog, span: Span | None, name: str) -> dict[str, float]:
    """The common set for layer ``name``; zeros when the layer did not run."""
    if span is None:
        return {k: 0.0 for k in COMMON}
    st = log.layer(name)
    return {
        "busy_s": span.end - span.start,
        "build_s": span.build_s,
        "jobs": st.jobs,
        "tasks": st.tasks,
        "task_s": st.task_s,
        "cpu_s": st.cpu_s,
        # derived: time tasks spent neither on JVM CPU nor in GC -- mostly
        # waiting on Python workers (Arrow UDFs) and I/O
        "python_s": max(st.task_s - st.cpu_s - st.gc_s, 0.0),
        "shuffle_write_mb": st.shuffle_write_mb,
        "spill_mb": st.spill_mb,
        "max_task_s": st.max_task_s,
        "single_task_stages": st.single_task_stages,
    }
