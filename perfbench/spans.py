"""Outside-in span recorder and Spark event-log fold for the traced run.

The recorder wraps every public function of the engine's layer modules
from the outside (no engine file changes): each call becomes a span held
in memory — layer, function name, start, end, parent — and is folded into
per-layer numbers when the run ends. Spans of layers that launch Spark
jobs also carry a Spark job tag (``spark.addTag``), and every client op
sets a job group, so the event log's ``SparkListenerJobStart`` records
name the span and op that submitted each job. Jobs submitted from engine
thread pools carry neither (thread-local properties do not cross
``ThreadPoolExecutor``); they are attributed to the innermost span open
at their submission time, which is exact with one client thread, and
counted as window-attributed.
"""

from __future__ import annotations

import bisect
import importlib
import inspect
import json
import os
import re
import sys
import threading
import time
from collections import defaultdict

#: layer modules whose public functions are wrapped, by layer name
LAYER_MODULES = {
    "fs": "s3parq_spark.fs",
    "metadata": "s3parq_spark.metadata",
    "publish": "s3parq_spark.publish",
    "fetch": "s3parq_spark.fetch",
    "maintenance": "s3parq_spark.maintenance",
    "text_index": "s3parq_spark.text_index",
    "ann_index": "s3parq_spark.ann_index",
    "operators": "s3parq_spark.operators",
}
#: table-maintenance entry points that live in publish.py but belong to
#: the maintenance layer
MAINTENANCE_FUNCS = {
    "compact_dataset", "repartition_dataset", "vacuum_dataset",
    "expire_snapshots",
}
#: layers whose spans tag Spark jobs (fs and metadata launch none of
#: their own, and their call counts are the highest: no py4j round trip)
TAGGED_LAYERS = {
    "publish", "fetch", "maintenance", "text_index", "ann_index", "operators",
}
TAG_PREFIX = "pbspan-"
_TAG_RE = re.compile(re.escape(TAG_PREFIX) + r"(\d+)$")
GROUP_PREFIX = "pbop-"


class Span:
    __slots__ = ("sid", "parent", "layer", "name", "t0", "t1", "thread", "result",
                 "tagged")

    def __init__(self, sid, parent, layer, name, t0, thread):
        self.sid, self.parent, self.layer, self.name = sid, parent, layer, name
        self.t0, self.t1, self.thread, self.result = t0, None, thread, None
        self.tagged = False


class Recorder:
    """Holds spans in memory; ``install`` patches the engine modules."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list = []
        self._next = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self.main_thread = threading.get_ident()
        self._main_stack: list = []
        self.manifest_reads = 0
        self.cost = 0.0  # seconds spent in the recorder's own bookkeeping
        self.op_sids: set = set()  # spans of client ops
        self.suspended = False  # True while a result check runs
        self._patched: list = []

    # -- spans ---------------------------------------------------------------
    def _stack(self):
        if threading.get_ident() == self.main_thread:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def enter(self, layer: str, name: str) -> Span:
        c0 = time.perf_counter()
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            # a pool thread's first span hangs under the client's open span
            parent = self._main_stack[-1] if self._main_stack else None
        with self._lock:
            sid = self._next
            self._next += 1
            span = Span(sid, parent.sid if parent else None, layer, name,
                        time.time(), threading.get_ident())
            self.spans.append(span)
        stack.append(span)
        # tag where a call enters a job-launching layer (a py4j round trip
        # per tag: calls within the same layer share the entry's tag)
        if layer in TAGGED_LAYERS and (parent is None or parent.layer != layer):
            self.spark.addTag(f"{TAG_PREFIX}{sid}")
            span.tagged = True
        self._charge(c0)
        return span

    def exit(self, span: Span) -> None:
        c0 = time.perf_counter()
        span.t1 = time.time()
        if span.tagged:
            self.spark.removeTag(f"{TAG_PREFIX}{span.sid}")
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        self._charge(c0)

    def enter_op(self, op_id: int, layer: str, kind: str) -> Span:
        """Open a client op's span, under its own Spark job group."""
        c0 = time.perf_counter()
        self.spark.sparkContext.setJobGroup(f"{GROUP_PREFIX}{op_id}", kind)
        self._charge(c0)
        span = self.enter(layer, kind)
        c0 = time.perf_counter()
        if not span.tagged:
            self.spark.addTag(f"{TAG_PREFIX}{span.sid}")
            span.tagged = True
        self.op_sids.add(span.sid)
        self._charge(c0)
        return span

    def _charge(self, c0: float) -> None:
        dt = time.perf_counter() - c0
        with self._lock:
            self.cost += dt

    # -- patching ------------------------------------------------------------
    def _wrap(self, layer: str, name: str, fn):
        rec = self

        def traced(*args, **kwargs):
            if rec.suspended:
                return fn(*args, **kwargs)
            span = rec.enter(layer, name)
            try:
                out = fn(*args, **kwargs)
            finally:
                rec.exit(span)
            if name == "publish_path" and isinstance(out, list):
                span.result = len(out)
            elif name == "fetch_path" and span.parent in rec.op_sids:
                path = kwargs.get("path", args[1] if len(args) > 1 else None)
                span.result = [out, _data_files_on_disk(path)]
            return out

        # module and qualname of the original: cloudpickle then ships the
        # function BY REFERENCE to Python workers, which import the
        # unwrapped engine
        for attr in ("__module__", "__name__", "__qualname__", "__doc__"):
            setattr(traced, attr, getattr(fn, attr))
        traced.__wrapped__ = fn
        return traced

    def resolve_fetch_files(self) -> None:
        """Replace each client-level fetch's DataFrame with the number of
        files its plan reads (called after the timed loop, before Spark
        stops, so the count costs no timed op anything)."""
        for s in self.spans:
            if s.name == "fetch_path" and isinstance(s.result, list):
                df, on_disk = s.result
                s.result = (len(df.inputFiles()), on_disk)

    def install(self) -> int:
        """Wrap the public functions of every layer module and rebind
        each wrapped function in every loaded ``s3parq_spark`` namespace
        that bound it (``from .fetch import fetch_path`` copies the name,
        so patching the defining module alone would miss those callers).
        Returns the number of functions wrapped."""
        originals = {}
        for layer, modname in LAYER_MODULES.items():
            # importlib, not attribute access: ``s3parq_spark.fetch`` and
            # ``s3parq_spark.publish`` are re-exported package FUNCTIONS
            mod = importlib.import_module(modname)
            mods = [mod]
            if hasattr(mod, "__path__"):  # a package: its submodules too
                mods += [
                    m for n, m in list(sys.modules.items())
                    if n.startswith(modname + ".") and m is not None
                ]
            for m in mods:
                for name, obj in list(vars(m).items()):
                    if (
                        name.startswith("_")
                        or not inspect.isfunction(obj)
                        or obj.__module__ != m.__name__
                        or id(obj) in originals
                    ):
                        continue
                    lay = "maintenance" if name in MAINTENANCE_FUNCS else layer
                    originals[id(obj)] = (obj, self._wrap(lay, name, obj))
        for modname, m in list(sys.modules.items()):
            if m is None or not (
                modname == "s3parq_spark" or modname.startswith("s3parq_spark.")
            ):
                continue
            for name, obj in list(vars(m).items()):
                hit = originals.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(m, name, hit[1])
                    self._patched.append((m, name, obj))
        self._install_manifest_counter()
        return len(originals)

    def _install_manifest_counter(self) -> None:
        """Count manifest reads at the pyarrow boundary: local manifests
        are read with ``pq.read_table`` directly and never pass ``fs``."""
        import pyarrow.parquet as pq

        md = importlib.import_module("s3parq_spark.metadata")
        marks = (f"/{md.STATS_DIR}/", f"/{md.MANIFESTS_DIR}/")
        orig = pq.read_table
        rec = self

        def read_table(source, *args, **kwargs):
            if (not rec.suspended and isinstance(source, str)
                    and any(m in source for m in marks)):
                with rec._lock:
                    rec.manifest_reads += 1
            return orig(source, *args, **kwargs)

        pq.read_table = read_table
        self._patched.append((pq, "read_table", orig))

    def uninstall(self) -> None:
        for mod, name, obj in reversed(self._patched):
            setattr(mod, name, obj)
        self._patched.clear()


def _data_files_on_disk(path) -> int:
    """Data files under a local dataset root (hidden dirs skipped)."""
    if not isinstance(path, str) or not os.path.isdir(path):
        return 0
    n = 0
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


# -- event log ---------------------------------------------------------------

def read_event_log(log_dir: str) -> dict:
    """Parse the (single, uncompressed) event-log file under ``log_dir``
    into ``{job_id: job}`` with per-job summed task metrics."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    jobs, stage_job = {}, {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                tags = [t for t in (props.get("spark.job.tags") or "").split(",") if t]
                job = {
                    "id": ev["Job ID"],
                    "t0": ev["Submission Time"] / 1000.0,
                    "t1": None,
                    "group": props.get("spark.jobGroup.id"),
                    "tags": tags,
                    "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "input_bytes": 0,
                    "shuffle_bytes": 0, "output_bytes": 0, "peak_mem": 0,
                    "tasks": 0,
                }
                jobs[job["id"]] = job
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, job["id"])
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job["t1"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                tm = ev.get("Task Metrics")
                if job is None or not tm:
                    continue
                job["tasks"] += 1
                job["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                job["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                job["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                job["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                job["shuffle_bytes"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    + sw.get("Shuffle Bytes Written", 0)
                )
                job["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
                job["peak_mem"] = max(job["peak_mem"], tm.get("Peak Execution Memory", 0))
    for job in jobs.values():
        if job["t1"] is None:
            job["t1"] = job["t0"]
    return jobs


def attribute_jobs(spans: list, jobs: dict, main_thread: int) -> int:
    """Set ``job["span"]`` (a span id or None) for every job: the
    innermost tagged span from the job's own tags, or else the innermost
    client-thread span open at its submission. Returns how many jobs
    needed the time window."""
    main = sorted((s for s in spans if s.thread == main_thread), key=lambda s: s.t0)
    starts = [s.t0 for s in main]
    window = 0
    for job in jobs.values():
        # SQL executions carry session tags under a managed prefix
        ids = [int(m.group(1)) for m in map(_TAG_RE.search, job["tags"]) if m]
        if ids:
            job["span"] = max(ids)
            continue
        job["span"] = None
        # latest-starting span that still contains the submission is the
        # innermost one (children start after and end before parents)
        for s in reversed(main[:bisect.bisect_right(starts, job["t0"])]):
            if s.t1 is not None and s.t0 <= job["t0"] <= s.t1:
                job["span"] = s.sid
                window += 1
                break
    return window


def self_times(spans: list) -> dict:
    """Span id -> self time: duration minus the union of its children."""
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        t1 = s.t1 if s.t1 is not None else s.t0
        covered = 0.0
        end = s.t0
        for c in sorted(kids.get(s.sid, ()), key=lambda c: c.t0):
            c0, c1 = max(c.t0, end), min(c.t1 or c.t0, t1)
            if c1 > c0:
                covered += c1 - c0
                end = c1
        out[s.sid] = max(0.0, (t1 - s.t0) - covered)
    return out
