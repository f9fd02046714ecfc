"""Benchmark runner: one workload, one seed, one process, one client thread.

    python3 perfbench/run.py --workload serving --seed 1 --seconds 20 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``
(``gen.py``) and starts the engine's session through ``session.get_spark``
with ``SPARK_GRAFT_CPUS`` set to the machine's core count. It sets the
workload up three times (``setup_s`` is the median), then runs whole passes
of the workload's operations in a closed loop until ``--seconds`` have
passed and at least two passes are done, then measures the heap the run
leaves live. Before timing, every operation runs once and is checked
against its DuckDB oracle (queries) or the serving invariants
(predictions); every timed result must match that checked result's
digest.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on the
Spark event log, a ``StreamingQueryListener``, one job group per operation
phase and in-memory spans around every call into the engine, and prints
the per-layer metrics. The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries the run's context (seed, cores, Spark version, sample counts).
Scratch files live under ``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import hashlib
import itertools
import json
import math
import os
import shutil
import statistics
import sys
import time
from datetime import datetime
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "nyc_yellow_taxi_trip_data_pipeline_spark"

# The training-data curation pass, run in this fixed pipeline order (a
# batch job's steps have one order; the first consumer of a memo pays its
# fill, so a shuffled order would move fill cost between operations): at
# least one consumer of each of the seven shared-build memo families of
# plans.datapipe, and one streaming incremental-dedup replay (the
# per-micro-batch path, memory sink and state store).
CURATION_QUERIES = [
    # minhash_cc, whose fill consumes minhash_pairs -> minhash_sigs ->
    # minhash_shingles
    "q68_dedup_clusters",
    "q92_simhash_neardup",  # simhash_pairs
    "q111_importance_weights",  # dsir_buckets
    "q145_ann_recall_eval",  # ann_rankings
    "q95_streaming_incremental_dedup",  # bounded stream replay
]
STREAM_REPLAYS = ("q95_streaming_incremental_dedup",)
MEMO_FAMILIES = (
    "ann_rankings",
    "dsir_buckets",
    "minhash_cc",
    "minhash_pairs",
    "minhash_shingles",
    "minhash_sigs",
    "simhash_pairs",
)

SERVING_UPLOADS = 6
SERVING_TRAIN_ROWS = 500
SETUP_REPS = 3
# At least two timed passes whatever the load: a curation pass takes
# 11-18 s, up to 21 s on a loaded host, and a run that stopped after one
# pass would report 5 latencies and one memo fill where the others report
# 10 and two.
MIN_PASSES = 2
# A fixed 2 GB heap (initial = maximum, so G1 never resizes it mid-run):
# small enough for a shared machine, and one GC regime on every run. The
# heap's pages are touched at start, so the JVM's resident size does not
# depend on how much a run allocated (a slow run touches fewer regions);
# heap_live_mb measures the heap's contents. No hsperfdata file outside
# the run's directory.
DRIVER_MEM = "2g"
JVM_OPTIONS = f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData"
TAIL_BEYOND = 10

WORKLOADS = ("curation", "serving")

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
    "heap_live_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.restart_s": "s",
    "io.parquet_reads": "count",
    "io.parquet_read_s": "s",
    "io.csv_reads": "count",
    "io.csv_read_s": "s",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "plans.build_jobs": "count",
    "plans.exec_jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "memo.build_s": "s",
    **{f"memo.build_s.{fam}": "s" for fam in MEMO_FAMILIES},
    "memo.dead_app_entries": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.deser_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.input_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.failed_tasks": "count",
    "exec.busy_frac": "frac",
    "stream.batches": "count",
    "stream.batch_p50_ms": "ms",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.get_batch_ms": "ms",
    "stream.temp_views_left": "count",
    "stream.active_queries_left": "count",
    "ml.train_s": "s",
    "ml.load_model_s": "s",
    "serving.plan_s": "s",
    "serving.exec_s": "s",
    "serving.jobs_per_request": "count",
    "res.temp_views": "count",
    "res.catalog_tables": "count",
    "res.warehouse_mb": "MB",
    "res.driver_rss_mb": "MB",
    "res.jvm_rss_mb": "MB",
    "trace.overhead_frac": "frac",
}

# StreamingQueryProgress.durationMs keys behind each stream.* phase metric.
STREAM_PHASES = {
    "stream.trigger_ms": "triggerExecution",
    "stream.add_batch_ms": "addBatch",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
    "stream.query_planning_ms": "queryPlanning",
    "stream.latest_offset_ms": "latestOffset",
    "stream.get_batch_ms": "getBatch",
}


# --------------------------------------------------------------- statistics


def tail_quantile(n: int, q: float, beyond: int = TAIL_BEYOND) -> float:
    """The highest quantile up to ``q`` whose value (see ``percentile``)
    leaves at least ``beyond`` of ``n`` samples above it: ``q`` itself, or
    the quantile of the ``beyond + 1``-th largest sample. Never below the
    median, which is reported whatever the sample count."""
    if n <= 0:
        raise ValueError("no samples")
    if n <= beyond:
        return 0.5
    if (n - 1) * q < n - beyond:
        return q
    return max(0.5, (n - 1 - beyond) / (n - 1))


def percentile(values: list[float], q: float) -> float:
    """Quantile ``q`` with linear interpolation between the two nearest
    ranks (``statistics.median`` at 0.5)."""
    if not values:
        raise ValueError("no samples")
    ordered = sorted(values)
    h = (len(ordered) - 1) * q
    lo = math.floor(h)
    hi = min(lo + 1, len(ordered) - 1)
    return ordered[lo] + (h - lo) * (ordered[hi] - ordered[lo])


def digest(result) -> str:
    """Order-insensitive digest of a collected result: a pandas frame
    (rows and columns sorted as ``tools.parity`` compares them) or a list
    of rows."""
    if hasattr(result, "to_csv"):
        from tools.parity import normalize

        text = normalize(result).to_csv(index=False)
    else:
        text = "\n".join(sorted(repr(tuple(r)) for r in result))
    return hashlib.sha256(text.encode()).hexdigest()


# ------------------------------------------------------------------ tracing


class Tracer:
    """In-memory spans, written out when the run ends.

    A span is ``(name, start, end, parent, op)``; ``parent`` is the index
    of the enclosing span. Spans are recorded only while ``enabled`` (the
    timed phase of a traced run)."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[tuple] = []
        self.stack: list[int] = []
        self.op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.op])
        self.stack.append(idx)
        try:
            yield
        finally:
            self.stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def total(self, name: str) -> tuple[int, float]:
        got = [s for s in self.spans if s[0] == name and s[2] is not None]
        return len(got), sum(s[2] - s[1] for s in got)



def wrap_readers(tracer: Tracer) -> None:
    """Span every parquet and CSV read (batch and streaming) — the calls
    where ``sources.io`` pays schema inference and file listing."""
    from pyspark.sql.readwriter import DataFrameReader
    from pyspark.sql.streaming.readwriter import DataStreamReader

    def wrap(cls, attr: str, name: str) -> None:
        real = getattr(cls, attr)

        def traced(self, *args, **kwargs):
            with tracer.span(name):
                return real(self, *args, **kwargs)

        setattr(cls, attr, traced)

    wrap(DataFrameReader, "parquet", "io.parquet")
    wrap(DataStreamReader, "parquet", "io.parquet")
    wrap(DataFrameReader, "csv", "io.csv")


def make_stream_listener(sink: list):
    """A listener appending ``(trigger start, durationMs)`` per batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            started = datetime.fromisoformat(event.progress.timestamp).timestamp()
            sink.append((started, dict(event.progress.durationMs)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) run under ``group``, via statusTracker."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                stages += 1
                tasks += stage.numTasks
    return len(jobs), stages, tasks


def event_log_tasks(log_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Sum task metrics from the local event log for tasks that finished
    inside one of ``windows`` (epoch seconds)."""
    out = dict.fromkeys(("run", "cpu", "deser", "gc", "sr", "sw", "input", "spill", "failed"), 0.0)
    for path in sorted(p for p in Path(log_dir).rglob("*") if p.is_file()):
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                fin = ev["Task Info"]["Finish Time"] / 1000.0
                if not any(a <= fin <= b for a, b in windows):
                    continue
                if ev.get("Task End Reason", {}).get("Reason") != "Success":
                    out["failed"] += 1
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics", {})
                out["run"] += m.get("Executor Run Time", 0) / 1e3
                out["cpu"] += m.get("Executor CPU Time", 0) / 1e9
                out["deser"] += m.get("Executor Deserialize Time", 0) / 1e3
                out["gc"] += m.get("JVM GC Time", 0) / 1e3
                out["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                out["sw"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                out["input"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                out["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return out


# ---------------------------------------------------------------- resources


def _proc_status_mb(pid: int | str, key: str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024.0
    raise KeyError(key)


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            with contextlib.suppress(OSError):
                total += os.path.getsize(os.path.join(dirpath, name))
    return total / 2**20




# ---------------------------------------------------------------- workloads


class Run:
    """One benchmark run: the session it owns, its inputs and its results."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: Path):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.data_dir = str(work / "data")
        self.tracer = Tracer()
        self.spark = None
        self.listener = None
        self.progress: list[tuple[float, dict]] = []
        self.jobs: list[tuple] = []  # (phase, jobs, stages, tasks) per traced op
        self.attempted = 0
        self.failures: list[str] = []
        self.reference: dict[str, str] = {}
        self.setup_times: list[float] = []
        self.restart_times: list[float] = []
        self.train_times: list[float] = []
        self.load_times: list[float] = []
        self.memo_s = dict.fromkeys(MEMO_FAMILIES, 0.0)
        self.trace_s = 0.0  # time spent on the tracing's own bookkeeping
        self.duck = None
        self.model = None
        self.upload_rows: dict[str, int] = {}
        self.conf = {
            "spark.driver.extraJavaOptions": f"{JVM_OPTIONS} -Djava.io.tmpdir={work / 'tmp'}"
        }
        if trace:
            self.conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": str(work / "eventlog"),
                    "spark.eventLog.compress": "false",
                }
            )

    # -- session

    def start(self) -> float:
        from nyc_yellow_taxi_trip_data_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=self.conf)
        if self.trace:
            if self.listener is None:
                self.listener = make_stream_listener(self.progress)
            self.spark.streams.addListener(self.listener)
        return time.perf_counter() - t0

    def restart(self) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("session.restart"):
            self.spark.stop()
            self.start()
        self.restart_times.append(time.perf_counter() - t0)

    def stop(self) -> None:
        """Stop the application and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.duck is not None:
            self.duck.close()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.ProcessHandle.current().pid())

    def heap_live_mb(self) -> float:
        """Bytes of the objects still reachable in the JVM heap, from a
        live class histogram (which runs a full collection first): the
        data the run keeps (leaked views and sinks, caches), whatever the
        heap's size. The heap's ``used`` figure after a collection is not
        used: it moves by whole regions from run to run."""
        sc = self.spark.sparkContext
        jvm, gateway = sc._jvm, sc._gateway
        # Python's collection first: a JVM object stays reachable while a
        # Python proxy of it (a dropped DataFrame in a reference cycle)
        # lives. Then the JVM's, with time for the context cleaner to drop
        # the blocks of broadcasts and shuffles that each one freed.
        gc.collect()
        for _ in range(3):
            jvm.java.lang.System.gc()
            time.sleep(0.5)

        def array(cls, *items):
            out = gateway.new_array(cls, len(items))
            for i, item in enumerate(items):
                out[i] = item
            return out

        # MBeanServer.invoke through its public interface: the platform
        # server's own class is not open to reflection.
        types = ("javax.management.ObjectName", "java.lang.String")
        types += ("[Ljava.lang.Object;", "[Ljava.lang.String;")
        invoke = jvm.java.lang.Class.forName("javax.management.MBeanServer").getMethod(
            "invoke", array(jvm.java.lang.Class, *map(jvm.java.lang.Class.forName, types))
        )
        histogram = invoke.invoke(
            jvm.java.lang.management.ManagementFactory.getPlatformMBeanServer(),
            array(
                jvm.java.lang.Object,
                jvm.javax.management.ObjectName("com.sun.management:type=DiagnosticCommand"),
                "gcClassHistogram",
                array(jvm.java.lang.Object, array(jvm.java.lang.String)),
                array(jvm.java.lang.String, "[Ljava.lang.String;"),
            ),
        )
        # The last line is "Total <instances> <bytes>".
        return int(histogram.strip().splitlines()[-1].split()[-1]) / 2**20

    # -- set-up

    def setup_once(self) -> None:
        """A fresh application; for serving, the model trained and loaded.
        The queries read their tables themselves (``read_table``), so a
        query workload's set-up is the application alone."""
        t0 = time.perf_counter()
        self.restart()
        if self.workload == "serving":
            self.train_model()
        self.setup_times.append(time.perf_counter() - t0)

    def train_model(self) -> None:
        from nyc_yellow_taxi_trip_data_pipeline_spark.ml import FeatureSpec, train
        from nyc_yellow_taxi_trip_data_pipeline_spark.operators.serving import (
            load_model,
            preprocess,
        )
        from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import read_csv

        spec = FeatureSpec(
            label="fare_amount",
            numeric=("trip_distance", "trip_duration", "passenger_count", "pickup_hour"),
            categorical=("pickup_timeofday",),
            num_trees=5,
            max_depth=3,
            seed=self.seed,
        )
        t0 = time.perf_counter()
        trips = preprocess(read_csv(self.spark, str(self.work / "train.csv")))
        model, _, _ = train(trips, spec)
        self.train_times.append(time.perf_counter() - t0)
        path = str(self.work / "model")
        model.write().overwrite().save(path)
        t0 = time.perf_counter()
        self.model = load_model(path)
        self.load_times.append(time.perf_counter() - t0)

    # -- operations

    def execute(self, name: str, op_id: int):
        """Run one operation: build its plan, then collect it to the driver
        as its user does — rows for a prediction request, a pandas frame
        (the Arrow collect) for a query whose result is rendered or
        inspected."""
        sc = self.spark.sparkContext
        tracing = self.tracer.enabled
        self.tracer.op = op_id
        serving = self.workload == "serving"
        if tracing:
            t0 = time.perf_counter()
            sc.setJobGroup(f"op{op_id}-build", name)
            self.trace_s += time.perf_counter() - t0
        with self.tracer.span("serving.plan" if serving else "plans.build"):
            if serving:
                from nyc_yellow_taxi_trip_data_pipeline_spark.operators.serving import (
                    predict_csv,
                )

                df = predict_csv(self.spark, self.model, name)
            else:
                from nyc_yellow_taxi_trip_data_pipeline_spark.plans import QUERIES

                df = QUERIES[name].spark(self.spark, self.data_dir)
        if tracing:
            t0 = time.perf_counter()
            sc.setJobGroup(f"op{op_id}-exec", name)
            self.trace_s += time.perf_counter() - t0
        with self.tracer.span("serving.exec" if serving else "plans.exec"):
            result = df.collect() if serving else df.toPandas()
        if tracing:
            t0 = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            for phase in ("build", "exec"):
                self.jobs.append((phase, *job_counts(sc, f"op{op_id}-{phase}")))
            self.trace_s += time.perf_counter() - t0
        return df, result

    def check(self, name: str, result) -> list[str]:
        """Problems with a result: a query against its DuckDB oracle
        (compared by ``tools.parity.compare``), a prediction request
        against the serving invariants (one finite prediction per uploaded
        row)."""
        if self.workload == "serving":
            want = self.upload_rows[name]
            preds = [r["prediction"] for r in result]
            if len(preds) != want:
                return [f"{len(preds)} predictions for {want} uploaded rows"]
            if not all(p is not None and math.isfinite(p) for p in preds):
                return ["non-finite prediction"]
            return []
        from tools.parity import compare, duck_connection

        from nyc_yellow_taxi_trip_data_pipeline_spark.plans import QUERIES

        if QUERIES[name].oracle is None:
            return []
        if self.duck is None:
            self.duck = duck_connection(self.data_dir)
        return compare(name, result, self.duck.execute(QUERIES[name].oracle).df())

    def check_pass(self, names: list[str]) -> None:
        """Set-up check: every operation once, in full; a correct result's
        digest becomes the reference its timed runs are compared with."""
        for name in names:
            self.attempted += 1
            try:
                _, result = self.execute(name, -1)
                problems = self.check(name, result)
            except Exception as exc:  # noqa: BLE001 — record and continue
                problems = [f"{type(exc).__name__}: {str(exc)[:300]}"]
            if problems:
                self.failures.append(f"check {name}: {'; '.join(problems)}")
            else:
                self.reference[name] = digest(result)

    def timed_op(self, name: str, op_id: int) -> float | None:
        """One timed operation; returns its latency, or None if it failed.
        After the clock stops the result must match its set-up digest."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            _, result = self.execute(name, op_id)
            latency = time.perf_counter() - t0
            if name not in self.reference:
                problems = ["its set-up check failed"]
            elif digest(result) != self.reference[name]:
                problems = ["result differs from the set-up result"]
            else:
                problems = []
        except Exception as exc:  # noqa: BLE001 — record and continue
            problems = [f"{type(exc).__name__}: {str(exc)[:300]}"]
        if problems:
            self.failures.append(f"op {name}: {'; '.join(problems)}")
            return None
        return latency

    def memo_snapshot(self) -> dict[str, float]:
        from nyc_yellow_taxi_trip_data_pipeline_spark.plans import datapipe

        return datapipe.shared_build_seconds(self.spark.sparkContext.applicationId)

    # -- the run

    def run(self) -> dict:
        import gen

        t0 = time.perf_counter()
        if self.workload == "serving":
            uploads = gen.write_uploads(str(self.work / "uploads"), self.seed, SERVING_UPLOADS)
            self.upload_rows = dict(zip(uploads, gen.upload_sizes(self.seed, SERVING_UPLOADS)))
            gen.write_training_trips(str(self.work / "train.csv"), self.seed, SERVING_TRAIN_ROWS)
            names = uploads
        else:
            gen.write_corpus(self.data_dir, self.seed)
            names = CURATION_QUERIES
        self.gen_s = time.perf_counter() - t0

        self.start_s = self.start()
        for _ in range(SETUP_REPS):
            self.setup_once()
        self.setup_restart_times = list(self.restart_times)
        self.restart_times.clear()

        # Every operation runs once and is checked before timing starts, so
        # the timed passes see a warm JVM (code generation and JIT done).
        t0 = time.perf_counter()
        self.check_pass(names)
        self.check_s = time.perf_counter() - t0

        # Timed phase: whole passes until --seconds have passed. Curation
        # starts every pass in a fresh application (the session memos start
        # empty, as in a real job) and keeps its pipeline order; serving
        # takes a seeded permutation of the uploads per pass.
        if self.trace:
            wrap_readers(self.tracer)
            self.tracer.enabled = True
        if self.workload == "curation":
            orders = itertools.repeat(names)
        else:
            orders = gen.op_order(self.seed, names)
        replays = [n for n in names if n in STREAM_REPLAYS]
        self.latencies: list[float] = []
        self.by_op: dict[str, list[float]] = {}
        self.windows: list[tuple[float, float]] = []
        self.ops = self.replays = self.passes = 0
        self.pass_p50: list[float | None] = []
        t_start = time.perf_counter()
        for order in orders:
            w0 = time.time()
            if self.workload == "curation":
                self.restart()
            memo0 = self.memo_snapshot()
            pass_lat = []
            for name in order:
                latency = self.timed_op(name, self.ops)
                if latency is not None:
                    self.latencies.append(latency)
                    self.by_op.setdefault(name, []).append(latency)
                    pass_lat.append(latency)
                self.ops += 1
                self.replays += name in replays
            for fam, secs in self.memo_snapshot().items():
                self.memo_s[fam] = self.memo_s.get(fam, 0.0) + secs - memo0.get(fam, 0.0)
            self.windows.append((w0, time.time()))
            self.pass_p50.append(statistics.median(pass_lat) if pass_lat else None)
            self.passes += 1
            if self.passes >= MIN_PASSES and time.perf_counter() - t_start >= self.seconds:
                break
        self.timed_wall = time.perf_counter() - t_start
        self.tracer.enabled = False

        done = self.latencies
        if not done:
            raise RuntimeError("no operation completed: " + "; ".join(self.failures[:5]))
        # The tail goes to the context line only: a run holds 10 (curation)
        # to 60 (serving) samples, too few for a p90 with ten beyond it.
        self.tail_q = tail_quantile(len(done), 0.9)
        self.tail_s = percentile(done, self.tail_q)
        return {
            "setup_s": statistics.median(self.setup_times),
            "latency_p50_s": percentile(done, 0.5),
            "ops_per_s": len(done) / self.timed_wall,
            "peak_rss_mb": _proc_status_mb("self", "VmHWM")
            + _proc_status_mb(self.jvm_pid(), "VmHWM"),
            "heap_live_mb": self.heap_live_mb(),
        }

    def live_layer_metrics(self) -> dict:
        """Per-layer metrics that need the live session (called before stop)."""
        from nyc_yellow_taxi_trip_data_pipeline_spark.plans import datapipe

        spark = self.spark
        tr = self.tracer
        ops = max(self.ops, 1)
        serving = self.workload == "serving"
        m: dict[str, float] = {
            "session.start_s": self.start_s,
            "session.restart_s": statistics.median(self.restart_times)
            if self.restart_times
            else statistics.median(self.setup_restart_times),
        }
        for kind in ("parquet", "csv"):
            n, secs = tr.total(f"io.{kind}")
            m[f"io.{kind}_reads"], m[f"io.{kind}_read_s"] = n / ops, secs / ops

        build_jobs = sum(j[1] for j in self.jobs if j[0] == "build")
        exec_jobs = sum(j[1] for j in self.jobs if j[0] == "exec")
        m["plans.build_s"] = 0.0 if serving else tr.total("plans.build")[1] / ops
        m["plans.exec_s"] = 0.0 if serving else tr.total("plans.exec")[1] / ops
        m["plans.build_jobs"] = build_jobs / ops
        m["plans.exec_jobs"] = exec_jobs / ops
        m["plans.stages"] = sum(j[2] for j in self.jobs) / ops
        m["plans.tasks"] = sum(j[3] for j in self.jobs) / ops

        m["memo.build_s"] = sum(self.memo_s.values()) / ops
        for fam in MEMO_FAMILIES:
            m[f"memo.build_s.{fam}"] = self.memo_s.get(fam, 0.0) / ops

        # Listener events arrive asynchronously: wait until they stop coming.
        seen, deadline = -1, time.time() + 5.0
        while seen != len(self.progress) and time.time() < deadline:
            seen = len(self.progress)
            time.sleep(0.5)
        batches = [
            d for ts, d in self.progress if any(a <= ts <= b for a, b in self.windows)
        ]
        m["stream.batches"] = len(batches) / max(self.replays, 1)
        trig = [d.get("triggerExecution", 0) for d in batches]
        m["stream.batch_p50_ms"] = statistics.median(trig) if trig else 0.0
        for key, phase in STREAM_PHASES.items():
            m[key] = sum(d.get(phase, 0) for d in batches) / max(len(batches), 1)
        tables = spark.catalog.listTables()
        temp = [t for t in tables if t.isTemporary]
        m["stream.temp_views_left"] = sum(1 for t in temp if "_out_" in t.name)
        m["stream.active_queries_left"] = len(spark.streams.active)

        m["ml.train_s"] = statistics.median(self.train_times) if self.train_times else 0.0
        m["ml.load_model_s"] = statistics.median(self.load_times) if self.load_times else 0.0
        m["serving.plan_s"] = tr.total("serving.plan")[1] / ops if serving else 0.0
        m["serving.exec_s"] = tr.total("serving.exec")[1] / ops if serving else 0.0
        m["serving.jobs_per_request"] = (build_jobs + exec_jobs) / ops if serving else 0.0

        m["res.temp_views"] = len(temp)
        m["res.catalog_tables"] = len(tables) - len(temp)
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        m["res.warehouse_mb"] = _dir_mb(warehouse)
        m["res.driver_rss_mb"] = _proc_status_mb("self", "VmRSS")
        m["res.jvm_rss_mb"] = _proc_status_mb(self.jvm_pid(), "VmRSS")

        m["trace.overhead_frac"] = self.trace_s / self.timed_wall

        # Last, as it replaces the session: one more application and one
        # memo fill in it, after which the build ledger should hold nothing
        # of the stopped applications.
        if self.workload == "curation":
            from nyc_yellow_taxi_trip_data_pipeline_spark.plans import QUERIES

            self.spark.stop()
            self.start()
            QUERIES["q111_importance_weights"].spark(self.spark, self.data_dir)
        live = self.spark.sparkContext.applicationId
        m["memo.dead_app_entries"] = sum(
            1 for app, _fam in datapipe._SHARED_BUILD_SECONDS if app != live
        )
        return m

    def exec_layer_metrics(self) -> dict:
        """Executor metrics from the event log (read after stop, once the
        log is complete), per traced operation."""
        t = event_log_tasks(str(self.work / "eventlog"), self.windows)
        ops = max(self.ops, 1)
        mb = 2**20
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        return {
            "exec.task_run_s": t["run"] / ops,
            "exec.task_cpu_s": t["cpu"] / ops,
            "exec.deser_s": t["deser"] / ops,
            "exec.gc_s": t["gc"] / ops,
            "exec.shuffle_read_mb": t["sr"] / mb / ops,
            "exec.shuffle_write_mb": t["sw"] / mb / ops,
            "exec.input_mb": t["input"] / mb / ops,
            "exec.spill_mb": t["spill"] / mb / ops,
            "exec.failed_tasks": t["failed"],
            "exec.busy_frac": t["run"] / (self.timed_wall * cores),
        }


# --------------------------------------------------------------------- main


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    return args


def main(argv: list[str]) -> int:
    t_main = time.perf_counter()
    steal0, total0 = _cpu_jiffies()
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file() or not (ROOT / "tools" / "parity.py").is_file():
        print(f"error: {PACKAGE}/ and tools/ must sit beside perfbench/", file=sys.stderr)
        return 2

    work = Path.cwd() / ".perfbench_work" / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "eventlog"):
        (work / sub).mkdir(parents=True)
    # Everything the engine writes (temp files, shuffle blocks, checkpoints,
    # the warehouse) stays in the run's work directory. One executor
    # thread per core.
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.chdir(work)
    sys.path[:0] = [str(HERE), str(ROOT)]

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        e2e = run.run()
        layers = run.live_layer_metrics() if run.trace else {}
        info = {
            "workload": run.workload,
            "seed": run.seed,
            "trace": args.trace,
            "nproc": len(os.sched_getaffinity(0)),
            "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
            "spark_version": run.spark.version,
            "samples": len(run.latencies),
            "latency_tail_s": run.tail_s,
            "latency_tail_quantile": run.tail_q,
            "op_latency_s": {
                os.path.basename(k): statistics.median(v) for k, v in run.by_op.items()
            },
            "passes": run.passes,
            "pass_p50_s": run.pass_p50,
            "ops_per_pass": len(run.reference) or None,
            "gen_s": run.gen_s,
            "check_s": run.check_s,
            "timed_s": run.timed_wall,
            "error_rate": len(run.failures) / run.attempted,
            "failures": run.failures[:20],
        }
    finally:
        if run.spark is not None:
            run.stop()
    if run.trace:
        layers.update(run.exec_layer_metrics())
        spans = [
            {"name": s[0], "start": s[1], "end": s[2], "parent": s[3], "op": s[4]}
            for s in run.tracer.spans
        ]
        (work / "trace.json").write_text(
            json.dumps({"info": info, "layers": layers, "spans": spans}) + "\n"
        )
    chosen = PER_LAYER if run.trace else END_TO_END
    values = layers if run.trace else e2e
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in chosen.items()},
    }
    for path in work.iterdir():
        if path.is_dir():
            shutil.rmtree(path, ignore_errors=True)
        elif path.name != "trace.json":
            path.unlink()
    if not run.trace:
        work.rmdir()
    info["run_wall_s"] = time.perf_counter() - t_main
    steal1, total1 = _cpu_jiffies()
    # CPU time the hypervisor gave to other guests: the run's noise floor.
    info["steal_frac"] = (steal1 - steal0) / max(total1 - total0, 1)
    info["setup_reps_s"] = run.setup_times
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
