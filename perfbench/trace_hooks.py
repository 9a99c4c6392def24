"""Tracing from outside the program: spans around calls into each
layer's public functions, job-group scheduler counts, and executor
totals from the Spark event log.

Everything here is benchmark-side.  Spans stay in memory and are written
once, when the run ends (``Tracer.dump``).  ``Tracer.on`` gates the
wrappers, so a traced run can interleave traced and untraced operations
and report the difference as the tracing overhead.

The wrappers see only calls made in the benchmark's own process: the
driver thread, the ingest generator and the ``RecordServer`` handler
threads.  The DataSource reader (options parsing, partition planning,
footer reads in ``log_dir`` mode) and the UDTFs run in Spark's Python
worker processes, so their cost shows only inside the benchmark's own
spans around the calls that reach them (``sources.datasource.load`` /
``.read``, the UDTF statement kinds).
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict

#: (module, attribute, span name) of each public function timed from
#: outside; ``Class.method`` attributes patch the class.
WRAPPED = [
    ("fluvio_duck_spark.options", "parse_consume_opts", "options.parse"),
    ("fluvio_duck_spark.sources.consume", "fluvio_consume",
     "sources.consume.build"),
    ("fluvio_duck_spark.sources.sql", "consume_sql", "sources.sql.build"),
    ("fluvio_duck_spark.transforms", "apply_transform_chain",
     "transforms.apply_chain"),
    ("fluvio_duck_spark.mappings", "projection", "mappings.projection"),
    ("fluvio_duck_spark.sources.pplog", "pp_footer_leo",
     "sources.pplog.footer_leo"),
    ("fluvio_duck_spark.sources.loopback", "server_produce",
     "sources.loopback.produce"),
    ("fluvio_duck_spark.sources.loopback", "RecordServer.parts_leo",
     "sources.loopback.parts"),
    ("fluvio_duck_spark.sources.loopback", "RecordServer.fetch_ipc",
     "sources.loopback.fetch"),
    ("fluvio_duck_spark.sinks", "copy_to_parquet", "sinks.copy"),
    ("fluvio_duck_spark.operators.snapshots", "append", "snapshots.append"),
    ("fluvio_duck_spark.operators.snapshots", "read_version_as_of",
     "snapshots.read_plan"),
]


class Tracer:
    """In-memory span recorder.  A span is ``(id, parent, op, name,
    start, end)``; ``op`` is the benchmark operation it belongs to, so
    all spans of one statement / pass / micro-batch share it."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._paused = False
        self._local = threading.local()
        self._patched: list[tuple] = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @property
    def on(self) -> bool:
        """Tracing is enabled and not paused."""
        return self.enabled and not self._paused

    @contextlib.contextmanager
    def paused(self, pause: bool = True):
        """Suspend tracing in every thread of the process (the untraced
        half of an interleaved overhead measurement).  One client thread
        drives every measured operation, so a plain flag suffices."""
        prev = self._paused
        self._paused = pause
        try:
            yield
        finally:
            self._paused = prev

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.on:
            yield
            return
        st = self._stack()
        sid = next(self._ids)
        parent = st[-1] if st else None
        op = op if op is not None else (parent[1] if parent else None)
        st.append((sid, op))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            st.pop()
            self.spans.append((sid, parent[0] if parent else None, op, name,
                               t0, time.perf_counter()))

    def durations(self, name: str) -> list[float]:
        """Durations (s) of every span called ``name``."""
        return [s[5] - s[4] for s in self.spans if s[3] == name]

    def mean_ms(self, name: str) -> float:
        """Mean duration (ms) of the spans called ``name``; 0 if none."""
        d = self.durations(name)
        return sum(d) / len(d) * 1e3 if d else 0.0

    def install(self) -> None:
        """Patch every ``WRAPPED`` function, including aliases bound by
        ``from module import name`` in package modules (all of which are
        imported first).  Called once set-up is done, so set-up calls
        are not counted.  A no-op unless tracing is enabled."""
        if not self.enabled:
            return
        import importlib

        import fluvio_duck_spark.queries as q

        q.all_queries()

        for mod_name, attr, span_name in WRAPPED:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                owner = getattr(mod, cls_name)
                orig = owner.__dict__[meth]
                setattr(owner, meth, self._wrap(orig, span_name))
                self._patched.append((owner, meth, orig))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, span_name)
            for m in list(sys.modules.values()):
                if (getattr(m, "__name__", "").startswith("fluvio_duck_spark")
                        and getattr(m, attr, None) is orig):
                    setattr(m, attr, wrapped)
                    self._patched.append((m, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _wrap(self, fn, span_name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sid, parent, op, name, t0, t1 in self.spans:
                fh.write(json.dumps({"id": sid, "parent": parent, "op": op,
                                     "name": name, "start": t0,
                                     "end": t1}) + "\n")


class JobGroups:
    """One Spark job group per benchmark operation; after the operation
    the status tracker yields its jobs, stages and tasks.  Job groups are
    thread-local, so an operation's jobs are those its own thread
    submitted."""

    def __init__(self, spark, tracer: Tracer) -> None:
        self.sc = spark.sparkContext
        self.tracer = tracer
        #: (label, jobs, stages, tasks) per traced operation
        self.counts: list[tuple[str, int, int, int]] = []
        self._n = itertools.count()

    @contextlib.contextmanager
    def op(self, label: str):
        if not self.tracer.on:
            yield None
            return
        group = f"pb-{label}-{next(self._n)}"
        self.sc.setJobGroup(group, label)
        try:
            yield group
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.counts.append((label,) + self._count(group))

    def _count(self, group: str) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                stages += 1
                sinfo = st.getStageInfo(sid)
                if sinfo is not None:
                    tasks += sinfo.numTasks
        return len(jobs), stages, tasks

    def per_op(self, labels=None) -> dict[str, float]:
        """Mean jobs / stages / tasks per operation (of ``labels``)."""
        rows = [c for c in self.counts if labels is None or c[0] in labels]
        n = max(1, len(rows))
        jobs, stages, tasks = (sum(c[i] for c in rows) for i in (1, 2, 3))
        return {"scheduler.jobs": jobs / n, "scheduler.stages": stages / n,
                "scheduler.tasks": tasks / n}


#: Plan nodes at the Python/Arrow seams (rows crossing into Python).
_SEAM_NODES = ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInArrow",
               "FlatMapGroupsInPandas", "FlatMapCoGroupsIn", "MapInPandas",
               "MapInArrow", "PythonMapInArrow", "WindowInPandas",
               "AggregateInPandas", "EvalPythonUDTF", "PythonUDTF",
               "PythonDataSource")


def _walk_plan(info, seam_ids: set, scan_ids: set) -> None:
    node = info.get("nodeName", "")
    rows = [m["accumulatorId"] for m in info.get("metrics", [])
            if m.get("name") == "number of output rows"]
    if any(s in node for s in _SEAM_NODES):
        seam_ids.update(rows)
    if node.startswith(("Scan", "BatchScan")):
        scan_ids.update(rows)
    for child in info.get("children", []):
        _walk_plan(child, seam_ids, scan_ids)


def event_log_totals(log_dir: str, group_prefix: str = "pb-") -> dict:
    """Executor totals over the tasks of jobs whose group starts with
    ``group_prefix`` (the measured operations), from the event log(s)
    under ``log_dir``."""
    stage_measured: set[int] = set()
    seam_ids: set[int] = set()
    scan_ids: set[int] = set()
    tasks: list[dict] = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or ""
                    if group.startswith(group_prefix):
                        stage_measured.update(ev.get("Stage IDs", []))
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
                elif "sparkPlanInfo" in ev:
                    _walk_plan(ev["sparkPlanInfo"], seam_ids, scan_ids)
    out = defaultdict(float)
    for ev in tasks:
        if ev.get("Stage ID") not in stage_measured:
            continue
        m = ev.get("Task Metrics") or {}
        out["executor.run_s"] += m.get("Executor Run Time", 0) / 1e3
        out["executor.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["executor.gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sr = m.get("Shuffle Read Metrics") or {}
        out["shuffle.read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0))
        sw = m.get("Shuffle Write Metrics") or {}
        out["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        out["spill.bytes"] += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            upd = acc.get("Update")
            if not isinstance(upd, (int, float)) and not (
                    isinstance(upd, str) and upd.lstrip("-").isdigit()):
                continue
            if acc.get("ID") in seam_ids:
                out["seams.python_rows"] += int(upd)
            if acc.get("ID") in scan_ids:
                out["sources.scan_rows"] += int(upd)
    return dict(out)
