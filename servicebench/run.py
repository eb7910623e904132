"""Service benchmark for the log-analytics engine.

Drives the package's public entry points from one process as a closed loop
with one caller, the way the reference's Lambda hands out one id slice at a
time:

    python3 servicebench/run.py --workload score-slices --seed 1 --seconds 20 --trace 0

Workloads (see ``workloads.py``):

- ``score-slices``: ``run_incremental_batch`` over consecutive 5,000-id
  slices after a ``run_training_batch(limit=5000, k=8)`` set-up;
- ``stream-catchup``: one ``availableNow`` ``run_anomaly_pipeline`` over
  the 100k-row arrival file, into a fresh output dir;
- ``train-audit``: ``run_training_batch(limit=5000, k=8)`` into a fresh
  dir, then ``run_quality_validation(sample=2000)``.

``BENCHMARK.json`` lists only the first two. A train-audit run costs about
70 s (a 30 s cold first op, then 10 s ops), and the repeated runs of three
workloads do not fit the benchmark's time budget. Its layers are still
measured: score-slices trains and audits in its set-up, and the traced run
records those spans.

The session is sized to the machine: ``SPARK_GRAFT_CPUS`` is set to the
usable CPU count, at most 4, before the package is imported.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` prints the
per-layer metrics: after an untraced phase it restarts the Spark context
in the same JVM with an event log, wrappers and a streaming listener
(``layers.py``) and runs the traced phase; it reports
``trace.overhead_ratio`` as traced over untraced median op time, the
traced time less the time spent forcing lazy operators.

The last stdout line is one JSON object (``correct``, ``attempted``,
``failed``, ``metrics``). Every op's series, warm-up included, is written
to ``.servicebench/results/``. All files live under the checkout's
``.servicebench/`` directory; the run's own work dir is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE_DIR = os.path.join(ROOT, ".servicebench")
MAX_CPUS = 4
# closed loop: ops start until --seconds have passed, and at least this many
MIN_TIMED_OPS = 2

MB = 1024.0 * 1024.0
END_TO_END = {"op_s.p50": "s", "events_per_s": "1/s", "setup_s": "s"}


def usable_cpus() -> int:
    return min(MAX_CPUS, len(os.sched_getaffinity(0)))


# ---------------------------------------------------------------------------
# Process-tree RSS
# ---------------------------------------------------------------------------


def _tree_rss_bytes(root_pid: int, page: int) -> tuple[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, pids, todo = 0, [], [root_pid]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total, pids


class RssSampler(threading.Thread):
    """Peak RSS of this process and all its descendants, sampled."""

    def __init__(self, interval_s: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval_s = interval_s
        self.page = os.sysconf("SC_PAGE_SIZE")
        self.peak = 0
        self.window_peak = 0  # since the last reset_window()
        self.stop_event = threading.Event()

    def run(self) -> None:
        while not self.stop_event.is_set():
            self.sample()
            self.stop_event.wait(self.interval_s)

    def sample(self) -> None:
        rss = _tree_rss_bytes(os.getpid(), self.page)[0]
        self.peak = max(self.peak, rss)
        self.window_peak = max(self.window_peak, rss)

    def reset_window(self) -> None:
        self.window_peak = 0

    def stop(self) -> None:
        self.stop_event.set()
        self.join()
        self.sample()


def cpu_counters() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def wait_for_descendants(timeout_s: float = 60.0) -> list[int]:
    """Wait until this process has no live descendants; return leftovers."""
    deadline = time.monotonic() + timeout_s
    while True:
        pids = [p for p in _tree_rss_bytes(os.getpid(), 1)[1] if p != os.getpid()]
        live = []
        for pid in pids:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    state = fh.read().rsplit(")", 1)[1].split()[0]
            except OSError:
                continue
            if state != "Z":
                live.append(pid)
            else:
                try:
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
        if not live or time.monotonic() > deadline:
            return live
        time.sleep(0.1)


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------


class Sessions:
    """Builds, restarts and finally shuts down the Spark session and JVM."""

    def __init__(self, work: str) -> None:
        self.work = work
        self.spark = None

    def start(self, cpus: int, extra: dict | None = None):
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        from logstream_processing_service_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            **(extra or {}),
        }
        self.spark = get_spark(app_name="servicebench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_context(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the context, then the JVM (it exits when its stdin closes)."""
        self.stop_context()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# Closed loop
# ---------------------------------------------------------------------------


class Loop:
    """Runs ops one after another and keeps every op's record."""

    def __init__(self, wl, corrupt_op: int | None, rss: RssSampler) -> None:
        self.wl = wl
        self.corrupt_op = corrupt_op
        self.rss = rss
        self.tracer = None  # layers.Tracer, in the traced phase
        self.watch = None  # layers.StreamWatch, when the op starts streams
        self.series: list[dict] = []
        self.next_index = 0

    def one(self, phase: str) -> dict:
        i = self.next_index
        self.next_index += 1
        rec = {"op": i, "phase": phase}
        tracer = self.tracer if phase == "traced" else None
        before = self.wl.state_counts(i) if tracer else None
        if tracer:
            tracer.begin(i)
        since = self.watch.mark() if self.watch else 0
        self.rss.reset_window()
        t0 = time.perf_counter()
        try:
            result = self.wl.op(i)
            rec["wall_s"] = time.perf_counter() - t0
            rec["rows"] = result["rows"]
        except Exception:
            rec["wall_s"] = time.perf_counter() - t0
            rec["rows"] = 0
            rec["errors"] = [traceback.format_exc(limit=3)]
            result = None
        rec["peak_rss_mb"] = self.rss.window_peak / MB
        run_ids = []
        if self.watch:
            run_ids = self.watch.wait(since, self.wl.streams_per_op)
            rec["stream"] = self.watch.metrics(run_ids, rec["wall_s"])
        if tracer:
            op_rec = tracer.end(rec["wall_s"], run_ids)
            rec["force_s"] = op_rec.force_s
            rec["op_s"] = rec["wall_s"] - op_rec.force_s
            after = self.wl.state_counts(i)
            rec["state"] = {
                "state.log_embeddings_rows": after["log_embeddings"],
                "state.history_rows_read": after["history_read"],
                "relational.incidents_inserted": after["incidents"] - before["incidents"],
            }
        else:
            rec["op_s"] = rec["wall_s"]
        if result is not None:
            if i == self.corrupt_op:
                self.wl.corrupt(i)
            try:
                rec["errors"] = self.wl.check(i, result)
            except Exception:  # outputs the check cannot even read are wrong
                rec["errors"] = [traceback.format_exc(limit=3)]
            rec["result"] = {
                k: v for k, v in result.items() if isinstance(v, (int, float, str))
            }
        rec["ok"] = not rec["errors"]
        self.wl.cleanup(i)
        self.series.append(rec)
        print(
            f"[servicebench] {self.wl.name} op {i} {phase}: {rec['op_s']:.3f} s"
            f" rows={rec['rows']} ok={rec['ok']}",
            file=sys.stderr,
            flush=True,
        )
        return rec

    def setup(self) -> None:
        """Run the workload's set-up; its check counts like an op's."""
        t0 = time.perf_counter()
        try:
            errors = self.wl.setup()
        except Exception:
            errors = [traceback.format_exc(limit=3)]
        rec = {"op": "setup", "phase": "setup", "wall_s": time.perf_counter() - t0}
        rec["errors"] = errors
        rec["ok"] = not errors
        self.series.append(rec)

    def timed(self, phase: str, seconds: float, min_ops: int) -> list[dict]:
        recs = []
        t0 = time.perf_counter()
        while self.wl.has_next() and (
            len(recs) < min_ops or time.perf_counter() - t0 < seconds
        ):
            recs.append(self.one(phase))
        return recs


def _median(recs: list[dict], key: str = "op_s") -> float:
    return statistics.median(r[key] for r in recs)


def _tail(recs: list[dict]) -> dict:
    times = sorted(r["op_s"] for r in recs)
    return {"max_s": times[-1], "n": len(times)}


# ---------------------------------------------------------------------------
# Runs
# ---------------------------------------------------------------------------


def run_untraced(args, sessions, wl, cpus, rss) -> tuple[dict, dict]:
    t0 = time.perf_counter()
    wl.spark = sessions.start(cpus)
    loop = Loop(wl, args.corrupt_op, rss)
    loop.setup()
    for _ in range(wl.warmup_ops):
        loop.one("warmup")
    setup_s = time.perf_counter() - t0
    timed = loop.timed("timed", args.seconds, MIN_TIMED_OPS)
    metrics = {
        "op_s.p50": _median(timed),
        "events_per_s": sum(r["rows"] for r in timed) / sum(r["op_s"] for r in timed),
        "setup_s": setup_s,
    }
    record = {"series": loop.series, "tail": _tail(timed), "setup_s": setup_s}
    return metrics, record


def run_traced(args, sessions, wl, cpus, rss) -> tuple[dict, dict]:
    from layers import (
        SPAN_METRICS,
        STREAM_METRICS,
        StreamWatch,
        Tracer,
        op_layer_metrics,
        read_event_log,
    )

    loop = Loop(wl, args.corrupt_op, rss)
    half = args.seconds / 2.0
    # untraced phase: traced set-up, warm-up, untraced ops; the streaming
    # listener is the one instrument on the untraced ops
    wl.spark = sessions.start(cpus)
    setup_tracer = Tracer(wl.spark)
    setup_tracer.install()
    setup_tracer.begin(-1)
    loop.setup()
    setup_rec = setup_tracer.end(0.0, [])
    setup_tracer.uninstall()
    if wl.streams_per_op:
        loop.watch = StreamWatch()
        loop.watch.attach(wl.spark)
    for _ in range(wl.warmup_ops):
        loop.one("warmup")
    untraced = loop.timed("untraced", half, MIN_TIMED_OPS)

    # traced phase: same JVM, a new context with the event log
    sessions.stop_context()
    log_dir = os.path.join(sessions.work, "eventlog")
    os.makedirs(log_dir)
    wl.spark = sessions.start(
        cpus,
        {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        },
    )
    if loop.watch:
        loop.watch.attach(wl.spark)
    loop.one("warmup")  # fresh context: new Python workers and block manager
    loop.tracer = Tracer(wl.spark)
    loop.tracer.install()
    traced = loop.timed("traced", half, MIN_TIMED_OPS)
    loop.tracer.uninstall()
    sessions.stop_context()
    engine = read_event_log(log_dir, loop.tracer.ops)

    per_op = []
    for rec, op_rec in zip(traced, loop.tracer.ops):
        m = op_layer_metrics(op_rec)
        m.update(engine[op_rec.index])
        m.update(rec["state"])
        per_op.append(m)
    metrics = {n: statistics.median(m[n] for m in per_op) for n in per_op[0]}
    # a layer the ops never call but the set-up does (score-slices trains
    # and audits in set-up) reports its set-up span
    for name in SPAN_METRICS:
        if not metrics[name]:
            metrics[name] = setup_rec.spans.get(name, 0.0)
    metrics["trace.overhead_ratio"] = _median(traced) / _median(untraced)
    for name in STREAM_METRICS:
        metrics[name] = (
            statistics.median(r["stream"][name] for r in untraced) if loop.watch else 0.0
        )

    metrics["stream.single_thread_op_s"] = 0.0
    if wl.streams_per_op:
        # the single-threaded baseline of the same op
        wl.spark = sessions.start(1)
        loop.tracer = loop.watch = None
        loop.one("warmup")
        single = loop.timed("single_thread", half, MIN_TIMED_OPS)
        sessions.stop_context()
        metrics["stream.single_thread_op_s"] = _median(single)
    record = {
        "series": loop.series,
        "per_op": per_op,
        "setup_spans": setup_rec.spans,
        "unattributed_jobs": engine["unattributed_jobs"],
        "force_jobs": engine["force_jobs"],
    }
    return metrics, record


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.1, help="input scale factor")
    p.add_argument(
        "--corrupt-op",
        type=int,
        default=None,
        help="negative control: damage this op's output before its check",
    )
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import logstream_processing_service_spark  # noqa: F401
    except ImportError as exc:
        print(f"servicebench: the package is not importable here: {exc}", file=sys.stderr)
        return 2
    from inputs import Expected, generate_events
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"servicebench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cpus = usable_cpus()
    work = os.path.join(
        STATE_DIR, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    results = os.path.join(STATE_DIR, "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    # keep every temporary file of Python, the JVM and its workers inside
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    import tempfile

    tempfile.tempdir = None

    cpu_before = cpu_counters()
    sampler = RssSampler()
    sampler.start()
    sessions = Sessions(work)
    sf_dir = os.path.join(work, "sf")
    generate_events(args.sf, args.seed, sf_dir)
    expected = Expected(os.path.join(sf_dir, "events.parquet"))
    try:
        wl = WORKLOADS[args.workload](args.sf, sf_dir, work, expected)
        run = run_traced if args.trace else run_untraced
        metrics, record = run(args, sessions, wl, cpus, sampler)
    finally:
        expected.close()
        sessions.shutdown()
        leftover = wait_for_descendants()
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    if leftover:
        print(f"servicebench: processes still alive: {leftover}", file=sys.stderr)
        return 1

    cpu_delta = [b - a for a, b in zip(cpu_before, cpu_counters())]
    series = record["series"]
    failed = sum(not r["ok"] for r in series)
    if args.trace:
        units = _per_layer_units()
        out_metrics = {n: {"value": metrics[n], "unit": units[n]} for n in units}
    else:
        out_metrics = {n: {"value": metrics[n], "unit": u} for n, u in END_TO_END.items()}
    record.update(
        {
            "peak_rss_mb": sampler.peak / MB,
            # share of the machine's CPU time taken by other guests (steal)
            "cpu_steal_share": cpu_delta[7] / max(1, sum(cpu_delta)),
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "sf": args.sf,
            "spark_cpus": cpus,
            "metrics": metrics,
        }
    )
    path = os.path.join(
        results, f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json"
    )
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(f"[servicebench] slots=local[{cpus}] record={path}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(series),
                "failed": failed,
                "metrics": out_metrics,
            }
        )
    )
    return 0


def _per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
