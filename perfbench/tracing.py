"""Tracing from outside the engine: spans, query progress, event log.

Spans are recorded by the benchmark around calls into the engine's
public functions (the wrappers replace module attributes for the traced
quarters of a run and are removed afterwards; the engine is not modified).
Spans stay in memory until the run ends. A span's self time is its
duration minus the time its direct child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
import uuid
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

# (module, attribute, span name): the layer boundaries the traced run
# wraps. Functions that run inside Python workers (extract_series,
# detect_text) cannot be wrapped from the driver; they are timed by the
# single-thread probes and batch prefixes instead.
WRAPPED = [
    ("watermark_detector_spark.sources.pages", "read_pages_batch", "sources.pages"),
    ("watermark_detector_spark.sources.pages", "read_pages_stream", "sources.pages"),
    ("watermark_detector_spark.plans.flagship", "flagship_batch", "plans.flagship"),
    ("watermark_detector_spark.plans.flagship", "flagship_stream", "plans.flagship"),
    ("watermark_detector_spark.plans.flagship", "kept_detections_fused", "plans.flagship"),
    ("watermark_detector_spark.plans.flagship", "window_agg", "plans.flagship"),
    ("watermark_detector_spark.streaming.state", "sequence_match_stream", "streaming.state"),
    ("watermark_detector_spark.streaming.sink", "ExactlyOnceParquetSink.write_batch",
     "streaming.sink"),
    ("watermark_detector_spark.operators.dedup", "near_dup_pairs", "operators.dedup"),
    ("watermark_detector_spark.operators.dedup", "minhash_lsh_candidates", "operators.dedup"),
    ("watermark_detector_spark.operators.dedup", "_jaccard_confirm", "operators.dedup"),
    ("watermark_detector_spark.operators.dedup", "dedup_clusters", "operators.dedup"),
]


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def start(self, name: str, layer: str) -> dict:
        stack = self._stack()
        span = {"run": self.run_id, "id": uuid.uuid4().hex[:12], "name": name,
                "layer": layer, "parent": stack[-1]["id"] if stack else None,
                "thread": threading.get_ident(), "start": time.perf_counter(),
                "end": None}
        stack.append(span)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        with self._lock:
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str, layer: str = "harness"):
        s = self.start(name, layer)
        try:
            yield s
        finally:
            self.end(s)

    def install(self) -> None:
        import importlib

        for mod_name, attr, layer in WRAPPED:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            fn = getattr(owner, leaf)
            self._saved.append((owner, leaf, fn))
            setattr(owner, leaf, self._wrap(fn, f"{mod_name.split('.', 1)[1]}.{attr}", layer))

    def remove(self) -> None:
        for owner, leaf, fn in reversed(self._saved):
            setattr(owner, leaf, fn)
        self._saved.clear()

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            s = self.start(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(s)

        return wrapper

    def self_times(self) -> dict[str, float]:
        """Self seconds per layer."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"]:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            out[s["layer"]] += max(0.0, s["end"] - s["start"] - child[s["id"]])
        return dict(out)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


class ProgressListener(StreamingQueryListener):
    """Every StreamingQueryProgress of the session, as parsed JSON."""

    def __init__(self):
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)

    def onQueryTerminated(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    def for_query(self, query_id: str) -> list[dict]:
        with self._lock:
            return [p for p in self.progress if p["id"] == query_id]


def count_build_jobs(spark, group: str, build):
    """Run ``build`` (which constructs a DataFrame) under its own job
    group and count the Spark jobs it started before any action."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "perfbench build")
    try:
        df = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


# Python-runner SQL metrics (display names in the event log) -> keys
PYTHON_METRICS = {
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.total_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


def reduce_event_log(log_dir: str, t_from: float, t_to: float) -> dict[str, float]:
    """Sum task metrics of tasks launched in [t_from, t_to] (epoch s)."""
    out = defaultdict(float)
    py_stages = set()
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if os.path.isdir(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                info = ev.get("Task Info", {})
                if not t_from * 1000 <= info.get("Launch Time", 0) <= t_to * 1000:
                    continue
                m = ev.get("Task Metrics") or {}
                out["spark.tasks"] += 1
                out["spark.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                out["spark.run_s"] += m.get("Executor Run Time", 0) / 1e3
                out["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                out["spark.shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                    + sr.get("Local Bytes Read", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                out["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                out["spark.spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                             + m.get("Disk Bytes Spilled", 0))
                im = m.get("Input Metrics") or {}
                out["spark.input_bytes"] += im.get("Bytes Read", 0)
                for acc in info.get("Accumulables", []):
                    key = PYTHON_METRICS.get(acc.get("Name"))
                    if key is None:
                        continue
                    try:
                        out[key] += float(acc.get("Update", 0))
                    except (TypeError, ValueError):
                        continue
                    py_stages.add((ev.get("Stage ID"), ev.get("Stage Attempt ID"),
                                   info.get("Task ID")))
    out["python.tasks"] = float(len(py_stages))
    return dict(out)
