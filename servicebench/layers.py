"""Per-layer tracing, installed from outside the package.

Nothing here edits the package. The traced phase of a run:

- tags each op's Spark jobs with a job group (``servicebench-op-<i>``);
  a streaming query's jobs carry its run id, which the listener maps back
  to the op that started it;
- records ``SparkListener`` events to an uncompressed event log, read back
  after the session stops;
- reads streaming progress through a ``StreamingQueryListener`` added with
  ``spark.streams.addListener``. Forcing re-reads a micro-batch's source,
  so the runner takes these figures from the untraced ops, the listener
  being the only instrument present there;
- wraps package functions by replacing module and class attributes. An
  eager function's span is its wall time. A lazy one (it returns a
  DataFrame) is timed by materialising its DataFrame arguments, calling it
  again on them and writing the result to the ``noop`` sink. That forcing
  runs under its own job group and its time is subtracted from the op.
"""

from __future__ import annotations

import importlib
import inspect
import json
import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQueryListener

from workloads import count_rows

PACKAGE = "logstream_processing_service_spark"
FORCE_GROUP = "servicebench-force"
OP_GROUP = "servicebench-op-"
MB = 1024.0 * 1024.0


# (owner, attribute, metric name, kind) for every wrapped function; the
# owner is a module or class path under the package
TARGETS = [
    ("pipelines", "upsert_parquet", "pipelines.upsert_parquet.s", "upsert"),
    ("pipelines", "stage_to_csv", "pipelines.stage_to_csv.s", "eager"),
    ("pipelines.ModelStore", "promote", "pipelines.ModelStore.promote.s", "eager"),
    ("pipelines", "embed_events", "ml.embedding.embed_s", "lazy"),
    (
        "pipelines",
        "assign_nearest_centroid",
        "operators.similarity.assign_nearest_centroid_s",
        "lazy",
    ),
    ("pipelines", "fit_kmeans_centroids", "ml.clustering.fit_kmeans_centroids_s", "eager"),
    ("ml.quality", "quality_report", "ml.quality.quality_report_s", "lazy"),
    ("ml.quality", "silhouette", "ml.quality.silhouette_s", "eager"),
    ("operators.relational", "scan_slice", "relational.scan_slice_s", "lazy"),
    ("operators.relational", "mine_patterns", "relational.mine_patterns_s", "lazy"),
    ("operators.relational", "batch_volume", "relational.batch_volume_s", "lazy"),
    ("operators.relational", "volume_zscore", "relational.volume_zscore_s", "lazy"),
    ("operators.relational", "flag_anomalies", "relational.flag_anomalies_s", "lazy"),
    (
        "operators.relational",
        "open_incident_upsert",
        "relational.open_incident_upsert_s",
        "lazy",
    ),
]
SPAN_METRICS = [t[2] for t in TARGETS]
# StreamingQueryProgress.durationMs phase behind each stream metric
STREAM_PHASES = {
    "stream.trigger_ms": "triggerExecution",
    "stream.add_batch_ms": "addBatch",
    "stream.query_planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
}
STREAM_METRICS = [*STREAM_PHASES, "stream.num_input_rows", "stream.start_stop_s"]


def _owner(path: str):
    module, _, last = path.rpartition(".")
    if last[:1].isupper():  # a class inside the module
        return getattr(importlib.import_module(f"{PACKAGE}.{module}"), last)
    return importlib.import_module(f"{PACKAGE}.{path}")


class OpRecord:
    def __init__(self, index: int) -> None:
        self.index = index
        self.tag = f"{OP_GROUP}{index}"
        self.wall_s = 0.0
        self.force_s = 0.0
        self.spans: dict[str, float] = {}
        self.upsert_offered = 0
        self.upsert_new = 0
        self.flagged_after_cap = 0
        self.run_ids: list[str] = []

    def add(self, name: str, seconds: float) -> None:
        self.spans[name] = self.spans.get(name, 0.0) + seconds


class StreamWatch(StreamingQueryListener):
    """Streaming progress per query run, through ``spark.streams.addListener``."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.progress: dict[str, list[dict]] = {}

    def attach(self, spark) -> None:
        spark.streams.addListener(self)

    def mark(self) -> int:
        with self.lock:
            return len(self.started)

    def wait(self, since: int, streams: int, timeout_s: float = 30.0) -> list[str]:
        """Run ids of the queries started after ``mark()``, once all ended."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self.lock:
                ids = self.started[since:]
                done = len(ids) >= streams and all(r in self.terminated for r in ids)
            if done or time.monotonic() > deadline:
                return list(ids)
            time.sleep(0.02)

    def onQueryStarted(self, event) -> None:
        with self.lock:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self.lock:
            self.progress.setdefault(str(p.runId), []).append(
                {"durationMs": dict(p.durationMs), "numInputRows": p.numInputRows}
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self.lock:
            self.terminated.add(str(event.runId))

    def metrics(self, run_ids: list[str], wall_s: float) -> dict:
        """Sums over one op's micro-batches."""
        out = dict.fromkeys(STREAM_METRICS, 0.0)
        with self.lock:
            batches = [b for rid in run_ids for b in self.progress.get(rid, [])]
        for b in batches:
            for name, phase in STREAM_PHASES.items():
                out[name] += float(b["durationMs"].get(phase, 0))
            out["stream.num_input_rows"] += b["numInputRows"]
        out["stream.start_stop_s"] = wall_s - out["stream.trigger_ms"] / 1000.0
        return out


class Tracer:
    """Spans and counts per op, from wrappers around package functions."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.ops: list[OpRecord] = []
        self.cur: OpRecord | None = None
        self._inside = False
        self._undo: list[tuple] = []

    # -- installation --------------------------------------------------
    def install(self) -> None:
        for path, attr, name, kind in TARGETS:
            owner = _owner(path)
            orig = owner.__dict__[attr]
            setattr(owner, attr, self._wrap(orig, name, kind))
            self._undo.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- op boundaries ---------------------------------------------------
    def begin(self, index: int) -> OpRecord:
        self.cur = OpRecord(index)
        self.sc.setJobGroup(self.cur.tag, self.cur.tag)
        return self.cur

    def end(self, wall_s: float, run_ids: list[str]) -> OpRecord:
        rec = self.cur
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        rec.wall_s = wall_s
        rec.run_ids = run_ids
        self.ops.append(rec)
        self.cur = None
        return rec

    # -- wrappers --------------------------------------------------------
    @contextmanager
    def _group(self, group: str):
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def _wrap(self, fn, name: str, kind: str):
        tracer = self
        sig = inspect.signature(fn)

        def wrapper(*args, **kwargs):
            rec = tracer.cur
            if rec is None or tracer._inside:
                return fn(*args, **kwargs)
            if kind == "upsert":
                return tracer._upsert(fn, name, rec, sig.bind(*args, **kwargs))
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            if kind == "lazy":
                tracer._force(fn, name, rec, args, kwargs)
            else:
                rec.add(name, time.perf_counter() - t0)
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def _materialise(self, value):
        if isinstance(value, DataFrame):
            return value.localCheckpoint(eager=True)
        return value

    def _force(self, fn, name, rec: OpRecord, args, kwargs) -> None:
        t0 = time.perf_counter()
        self._inside = True
        try:
            with self._group(FORCE_GROUP):
                margs = [self._materialise(a) for a in args]
                mkw = {k: self._materialise(v) for k, v in kwargs.items()}
                t1 = time.perf_counter()
                out = fn(*margs, **mkw)
                out.write.format("noop").mode("overwrite").save()
                rec.add(name, time.perf_counter() - t1)
                if name == "relational.flag_anomalies_s":
                    rec.flagged_after_cap += out.count()
        finally:
            self._inside = False
            rec.force_s += time.perf_counter() - t0

    def _upsert(self, fn, name, rec: OpRecord, bound):
        args = bound.arguments
        target = args["target"]
        t0 = time.perf_counter()
        before = count_rows(target)
        self._inside = True
        try:
            with self._group(FORCE_GROUP):
                rec.upsert_offered += args["new"].count()
        finally:
            self._inside = False
        rec.force_s += time.perf_counter() - t0
        t1 = time.perf_counter()
        out = fn(*bound.args, **bound.kwargs)
        rec.add(name, time.perf_counter() - t1)
        t2 = time.perf_counter()
        rec.upsert_new += count_rows(target) - before
        rec.force_s += time.perf_counter() - t2
        return out


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total


def read_event_log(log_dir: str, ops: list[OpRecord]) -> dict[int, dict]:
    """Per-op engine metrics from the event log of a stopped session."""
    files = [f for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}: {files}")
    owner_of_group = {}
    for rec in ops:
        owner_of_group[rec.tag] = rec.index
        for rid in rec.run_ids:
            owner_of_group[rid] = rec.index
    stage_op: dict[int, int] = {}
    python_stages: set[int] = set()
    per = {
        rec.index: {
            "jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0.0, "cpu_ns": 0.0,
            "gc_ms": 0.0, "shuffle_read": 0.0, "shuffle_write": 0.0,
            "spill": 0.0, "input": 0.0, "python_ms": 0.0, "busy": [],
        }
        for rec in ops
    }
    unattributed_jobs = force_jobs = 0
    with open(os.path.join(log_dir, files[0])) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                op = owner_of_group.get(group)
                if op is None:
                    if group == FORCE_GROUP:
                        force_jobs += 1
                    else:
                        unattributed_jobs += 1
                    continue
                per[op]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_op[sid] = op
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                for rdd in info.get("RDD Info", []):
                    if "ArrowEvalPython" in (rdd.get("Scope") or ""):
                        python_stages.add(info["Stage ID"])
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                op = stage_op.get(info["Stage ID"])
                if op is None or "Completion Time" not in info:
                    continue
                per[op]["stages"] += 1
                per[op]["busy"].append(
                    (info["Submission Time"] / 1000.0, info["Completion Time"] / 1000.0)
                )
            elif kind == "SparkListenerTaskEnd":
                op = stage_op.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if op is None or not m:
                    continue
                p = per[op]
                p["tasks"] += 1
                p["run_ms"] += m["Executor Run Time"]
                p["cpu_ns"] += m["Executor CPU Time"]
                p["gc_ms"] += m["JVM GC Time"]
                sr = m.get("Shuffle Read Metrics", {})
                p["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                p["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                p["spill"] += m.get("Disk Bytes Spilled", 0)
                p["input"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                if ev["Stage ID"] in python_stages:
                    p["python_ms"] += m["Executor Run Time"]
    out = {}
    for rec in ops:
        p = per[rec.index]
        out[rec.index] = {
            "spark.jobs_per_op": p["jobs"],
            "spark.stages_per_op": p["stages"],
            "spark.tasks_per_op": p["tasks"],
            "spark.driver_gap_s": rec.wall_s - rec.force_s - _union_length(p["busy"]),
            "spark.executor_run_s": p["run_ms"] / 1000.0,
            "spark.executor_cpu_s": p["cpu_ns"] / 1e9,
            "spark.gc_s": p["gc_ms"] / 1000.0,
            "spark.shuffle_read_mb": p["shuffle_read"] / MB,
            "spark.shuffle_write_mb": p["shuffle_write"] / MB,
            "spark.spill_mb": p["spill"] / MB,
            "spark.input_mb": p["input"] / MB,
            "spark.python_eval_s": p["python_ms"] / 1000.0,
        }
    out["unattributed_jobs"] = unattributed_jobs
    out["force_jobs"] = force_jobs
    return out


def op_layer_metrics(rec: OpRecord) -> dict:
    m = {name: rec.spans.get(name, 0.0) for name in SPAN_METRICS}
    m["pipelines.upsert.rows_new_ratio"] = (
        rec.upsert_new / rec.upsert_offered if rec.upsert_offered else 0.0
    )
    m["relational.flagged_after_cap"] = rec.flagged_after_cap
    return m
