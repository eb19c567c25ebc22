"""Run context shared by the workloads: host-safe environment, session
set-up, streaming progress bookkeeping and Spark-side counters."""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

from bench import _cpu_ticks, _gc_ms, _jvm_pid
from perfbench.measure import ProcSampler, Tracer, proc_cpu_s

DRIVER_MEM = "1g"


def host_safe_env(root: str, tmp: str) -> None:
    """Pin every knob the package reads from the environment, and keep
    every file Spark, the JVM and Python workers write under ``tmp``.

    Spark gets half the cores as task slots. The driver JVM's own
    threads (stream execution, GC, JIT), the Python driver with its
    generator thread and the Python UDF workers need the rest; with a
    task slot on every core they queue behind the tasks, and a stage
    waits on whichever core the host stalls."""
    cpus = str(max(1, len(os.sched_getaffinity(0)) // 2))
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": cpus,
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
            "TMPDIR": tmp,
            # Python workers import the package from the checkout.
            "PYTHONPATH": os.pathsep.join(
                p for p in (root, os.environ.get("PYTHONPATH", "")) if p
            ),
        }
    )
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


def spark_conf(tmp: str) -> dict[str, str]:
    # the whole heap is reserved up front, so resident memory does not
    # depend on when the collector decides to grow it
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}"
    return {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.sql.shuffle.partitions": os.environ["SPARK_GRAFT_CPUS"],
    }


@dataclass
class Run:
    """One benchmark run: its seed, time budget, temporary directory,
    tracer and (after :meth:`setup`) Spark session and probes."""

    seed: int
    seconds: float
    tmp: str
    tracer: Tracer
    spark: object = None
    setup_s: float = 0.0
    get_spark_s: float = 0.0
    stage_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    wrong: int = 0
    failures: list[str] = field(default_factory=list)
    report: dict = field(default_factory=dict)  # extra named figures
    sampler: ProcSampler | None = None

    def setup(self, stage) -> object:
        """The run's one cold set-up: launch the JVM and start the
        session, then stage the inputs with ``stage``; returns what
        ``stage`` returns."""
        from flink_orc_sink_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench", extra_conf=spark_conf(self.tmp))
        t1 = time.perf_counter()
        with self.tracer.span("sources.stage"):
            staged = stage(self, os.path.join(self.tmp, "stage"))
        t2 = time.perf_counter()
        self.get_spark_s, self.stage_s, self.setup_s = t1 - t0, t2 - t1, t2 - t0
        self.sampler = ProcSampler(_jvm_pid(self.spark)).start()
        return staged

    def fail(self, what: str, output: bool = True) -> None:
        """Count a failed operation; ``output`` marks a wrong or missing
        result, which makes the run incorrect."""
        self.failed += 1
        self.wrong += int(output)
        if len(self.failures) < 20:
            self.failures.append(what)


class LayerClock:
    """JVM CPU, GC and Python-worker CPU over the timed phase."""

    def __init__(self, run: Run) -> None:
        self.run = run

    def __enter__(self) -> "LayerClock":
        s = self.run.sampler
        self.cpu0 = proc_cpu_s(s.jvm_pid)
        self.gc0 = _gc_ms(self.run.spark)
        s.sample()
        self.py0 = s.python_cpu_s()
        self.workers0 = set(s.worker_pids)
        self.host0 = _cpu_ticks()
        return self

    def __exit__(self, *exc) -> None:
        s = self.run.sampler
        s.sample()
        self.jvm_cpu_s = proc_cpu_s(s.jvm_pid) - self.cpu0
        self.gc_ms = _gc_ms(self.run.spark) - self.gc0
        self.py_cpu_s = s.python_cpu_s() - self.py0
        self.workers_spawned = len(s.worker_pids - self.workers0)
        self.host1 = _cpu_ticks()


# --- streaming progress ---------------------------------------------------


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


@dataclass
class Trigger:
    """One micro-batch from a ``StreamingQueryProgress``."""

    start: float
    end: float
    rows: int
    durations: dict


def triggers(query) -> list[Trigger]:
    out = []
    for p in query.recentProgress:
        d = dict(p.durationMs)
        start = _epoch(p.timestamp)
        out.append(
            Trigger(start, start + d.get("triggerExecution", 0) / 1000.0, int(p.numInputRows), d)
        )
    return out


def committed_rows(query) -> int:
    return sum(int(p.numInputRows) for p in query.recentProgress)


def attribute_visibility(
    file_rows: list[int], batches: list[tuple[float, int]]
) -> list[float | None]:
    """Time each file's rows became visible, from trigger progress.

    Files are consumed in drop order and each trigger takes every file
    present at its listing, so the files a trigger commits are the
    next ones in drop order: file ``i`` is visible at the end of the
    first trigger whose cumulative committed rows reach the cumulative
    rows of files ``0..i``. ``batches`` is ``[(end_time, rows)]`` in
    commit order. Files never reached get ``None``."""
    out: list[float | None] = []
    cum_b, b, need = 0, 0, 0
    for rows in file_rows:
        need += rows
        while b < len(batches) and cum_b < need:
            cum_b += batches[b][1]
            b += 1
        out.append(batches[b - 1][0] if cum_b >= need and b > 0 else None)
    return out


def backlog_max(drop_times: list[float], visible: list[float | None], trig: list[Trigger]) -> int:
    """Largest number of dropped-but-not-yet-visible files seen at any
    trigger start."""
    best = 0
    for t in trig:
        dropped = sum(1 for d in drop_times if d <= t.start)
        done = sum(1 for v in visible if v is not None and v <= t.start)
        best = max(best, dropped - done)
    return best


def trigger_medians(trig: list[Trigger]) -> dict[str, float]:
    """``streaming.*`` per-trigger phase medians over the triggers that
    committed rows, plus trigger counts."""
    busy = [t for t in trig if t.rows > 0]

    def med(key: str) -> float:
        vals = [t.durations.get(key, 0) for t in busy]
        return float(statistics.median(vals)) if vals else 0.0

    return {
        "streaming.latest_offset_ms": med("latestOffset"),
        "streaming.get_batch_ms": med("getBatch"),
        "streaming.query_planning_ms": med("queryPlanning"),
        "streaming.wal_commit_ms": med("walCommit"),
        "streaming.add_batch_ms": med("addBatch"),
        "streaming.commit_offsets_ms": med("commitOffsets"),
        "streaming.trigger_ms": med("triggerExecution"),
        "streaming.triggers": float(len(trig)),
        "streaming.empty_triggers": float(len(trig) - len(busy)),
        "streaming.rows_per_trigger": (
            float(statistics.median([t.rows for t in busy])) if busy else 0.0
        ),
    }


def stop_between_batches(query, timeout_s: float = 30.0) -> None:
    """Stop ``query`` while no trigger runs, so a stop never interrupts
    a batch mid-write."""
    deadline = time.monotonic() + timeout_s
    while query.status["isTriggerActive"] and time.monotonic() < deadline:
        time.sleep(0.005)
    query.stop()


def committed_since(query, t: float) -> bool:
    """Whether a trigger that started at or after ``t`` has committed
    and no trigger runs now."""
    p = query.lastProgress
    return (
        p is not None
        and _epoch(p.timestamp) >= t - 0.001
        and not query.status["isTriggerActive"]
    )


# --- open-loop generator --------------------------------------------------


class Dropper(threading.Thread):
    """Open-loop file generator: renames staged file ``i`` into the
    watched directory at ``t0 + i / rate`` regardless of how the system
    keeps up, one atomic rename each."""

    def __init__(self, run: Run, files: list[str], dest: str, rate: float, t0: float) -> None:
        super().__init__(name="dropper", daemon=True)
        self.bench, self.files, self.dest = run, files, dest
        self.due = [t0 + i / rate for i in range(len(files))]
        self.actual: list[float] = []

    def run(self) -> None:  # noqa: D102 - Thread entry point
        for src, due in zip(self.files, self.due):
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            with self.bench.tracer.span("sources.drop"):
                os.rename(src, os.path.join(self.dest, os.path.basename(src)))
            self.actual.append(time.time())

    def lateness_ms(self) -> list[float]:
        return [(a - d) * 1000.0 for a, d in zip(self.actual, self.due)]


class Reader(threading.Thread):
    """Times ``read()`` once per slot (every ``every_s`` from ``t0``)
    until ``stop`` is set; a read's latency is its own duration.

    ``committed(due)`` tells whether the slot's trigger has committed
    and no trigger runs. A slot waits for it, so a read starts right
    after a commit and never lists the sink's directories while a batch
    writes them; a slot that waits past half its length is skipped, as
    is one that falls between :meth:`pause` and :meth:`resume`."""

    def __init__(self, run: Run, read, name: str, every_s: float, t0: float, committed) -> None:
        super().__init__(name="reader", daemon=True)
        self.bench, self.read, self.span_name = run, read, name
        self.every_s, self.t0, self.committed = every_s, t0, committed
        self.stop = threading.Event()
        self._gate = threading.Lock()  # held by a read, or while paused
        self.latency_ms: list[float] = []
        self.errors = 0
        self.skipped = 0

    def pause(self) -> None:
        """Block until any in-flight read ends; skip reads until resumed."""
        self._gate.acquire()

    def resume(self) -> None:
        self._gate.release()

    def run(self) -> None:  # noqa: D102 - Thread entry point
        k = 0
        while not self.stop.is_set():
            due = self.t0 + k * self.every_s
            k += 1
            if self.stop.wait(max(0.0, due - time.time())):
                return
            if not self._gate.acquire(blocking=False):
                continue
            try:
                while not self.committed(due) and time.time() < due + self.every_s / 2:
                    time.sleep(0.01)
                if time.time() < due + self.every_s / 2:
                    self.timed_read()
                else:
                    self.skipped += 1
            finally:
                self._gate.release()

    def timed_read(self) -> None:
        """One timed read; an error is a counted failure, not a wrong
        output."""
        t0 = time.perf_counter()
        try:
            with self.bench.tracer.span(self.span_name):
                self.read()
            self.latency_ms.append((time.perf_counter() - t0) * 1000.0)
        except Exception as exc:  # noqa: BLE001 - a failed read is a counted failure
            self.errors += 1
            self.bench.fail(f"read: {type(exc).__name__}: {str(exc)[:300]}", output=False)


# --- queries layer --------------------------------------------------------

_EXCHANGE = re.compile(r"\b(?:Broadcast)?Exchange\b")


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """``(jobs, stages, tasks run)`` of a job group, from the status tracker."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            si = st.getStageInfo(s)
            stages += 1
            tasks += si.numCompletedTasks if si is not None else 0
    return len(jobs), stages, tasks


def exchanges(df) -> int:
    """Shuffle and broadcast exchanges in the executed (final) plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(_EXCHANGE.findall(plan.split("== Initial Plan ==")[0]))
