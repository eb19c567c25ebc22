"""The two open-loop ingest workloads.

``ingest_append`` drives the exactly-once partitioned ORC sink
(``stream_from_files`` -> ``stream_write_orc``); ``ingest_upsert``
drives the keyed CDC sink (``stream_cdc_apply_orc``) with its delta
log, a reader on ``read_cdc_table`` and a mid-run stop ->
``fold_retract_state`` -> restart cycle.

Both drop pre-generated files into a watched directory on a fixed
schedule, attribute each file's visibility from the streams' progress
events, drain a staged backlog with an ``availableNow`` stream, and
check every committed row against the generator's model."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.harness import (
    Dropper,
    LayerClock,
    Reader,
    Run,
    attribute_visibility,
    backlog_max,
    committed_rows,
    committed_since,
    trigger_medians,
    triggers,
    stop_between_batches,
)
from perfbench.measure import dir_stats, steal_share, summary, tail_note

FILE_RATE = 5.0  # files per second in the open loop
# Open-loop lead-in before measuring: trigger time falls for the first
# ~10 triggers (JIT) and levels off after, so the first 8 s go unmeasured.
LEAD_S = 8.0
WARM_READS = 6  # untimed reads before the loop; read time falls over the first few
QUIET_READS = 10  # back-to-back reads of the final table, sink stopped
WARM_FILES = 3
DRAIN_FILES = 30
DRAIN_FILES_PER_TRIGGER = 10
SETTLE_TIMEOUT_S = 60.0


class Ingest:
    """Open loop -> drain -> check. Subclasses name the sink calls."""

    read_span = ""
    # Commit cadence of the open-loop stream, like the sink's checkpoint
    # interval. Triggers start on multiples of it and files are dropped
    # at fixed offsets within it, so each file's wait for its trigger is
    # the same in every run and the latency varies only with the
    # trigger's work. Chosen about twice the trigger's own duration.
    trigger_s = 1.0
    # True: one read per trigger interval while the sink writes, right
    # after that interval's commit; False: QUIET_READS back-to-back
    # reads after the drain
    reads_while_writing = False

    def __init__(self, run: Run) -> None:
        self.run = run
        self.n_lead = int(round(FILE_RATE * LEAD_S))
        self.n_open = int(round(FILE_RATE * run.seconds))
        self.n_files = WARM_FILES + self.n_lead + self.n_open + DRAIN_FILES
        self.streams: list[tuple[object, int]] = []  # (query, start span)
        self.restart_s: list[float] = []
        self.layers: dict[str, float] = {}
        # (stop, first commit after the restart) of a mid-run
        # maintenance window, if the workload has one
        self.window: tuple[float, float] | None = None

    # -- workload-specific --------------------------------------------

    def make_table(self, seed: int, i: int) -> pa.Table:
        raise NotImplementedError

    def start(self, trigger: dict | None = None, max_files: int | None = None):
        raise NotImplementedError

    def read(self) -> None:
        """One read of the sink's committed output."""
        raise NotImplementedError

    def stored_dirs(self) -> list[str]:
        raise NotImplementedError

    def check(self) -> None:
        """Compare the committed output with the generator's model,
        counting attempted and failed files."""
        raise NotImplementedError

    def mid_run(self, query, reader: Reader):
        """Mid-loop hook; returns the live query."""
        return query

    # -- shared open loop, drain and check ------------------------------

    def _stage(self, run: Run, d: str):
        tables = [self.make_table(run.seed, i) for i in range(self.n_files)]
        first_mtime = time.time() - 10 * self.n_files
        return d, tables, gen.write_files(tables, os.path.join(d, "staged"), first_mtime)

    def _start_traced(self, trigger=None, max_files=None):
        trigger = trigger or {"processingTime": f"{int(self.trigger_s * 1000)} milliseconds"}
        with self.run.tracer.span("streaming.start") as sid:
            q = self.start(trigger, max_files)
        self.streams.append((q, sid))
        return q

    def _committed(self) -> int:
        return sum(committed_rows(q) for q, _ in self.streams)

    def _wait_committed(self, rows: int, timeout_s: float = SETTLE_TIMEOUT_S) -> bool:
        deadline = time.monotonic() + timeout_s
        while self._committed() < rows:
            if time.monotonic() > deadline or not self.streams[-1][0].isActive:
                return False
            time.sleep(0.02)
        return True

    def _drop(self, paths: list[str]) -> None:
        for p in paths:
            os.rename(p, os.path.join(self.incoming, os.path.basename(p)))

    def execute(self) -> dict:
        run = self.run
        self.dir, self.tables, paths = run.setup(self._stage)
        self.incoming = os.path.join(self.dir, "incoming")
        self.ckpt = os.path.join(self.dir, "checkpoint")
        os.makedirs(self.incoming)
        n_first = WARM_FILES + self.n_lead  # first measured file
        n_loop = n_first + self.n_open
        rows = [t.num_rows for t in self.tables]

        # warm-up: first triggers and first reads (JIT, class loading)
        q = self._start_traced()
        self._drop(paths[:WARM_FILES])
        if not self._wait_committed(sum(rows[:WARM_FILES])):
            raise RuntimeError("warm-up files were never committed")
        for _ in range(WARM_READS):
            self.read()

        # open loop: files on a fixed schedule from t0, the first LEAD_S
        # of them unmeasured; reads once per trigger interval from the
        # first trigger boundary after t_meas. The first drop is
        # 1/(2 FILE_RATE) after a trigger boundary.
        t0 = (int(time.time() / self.trigger_s) + 1) * self.trigger_s + 0.5 / FILE_RATE
        t_meas = t0 + LEAD_S
        dropper = Dropper(run, paths[WARM_FILES:n_loop], self.incoming, FILE_RATE, t0)
        reader = Reader(
            run, self.read, self.read_span, self.trigger_s,
            math.ceil(t_meas / self.trigger_s) * self.trigger_s,
            lambda due: committed_since(self.streams[-1][0], due),
        )
        self.mid = t_meas + run.seconds / 2
        with LayerClock(run) as clock:
            dropper.start()
            if self.reads_while_writing:
                reader.start()
            q = self.mid_run(q, reader)
            dropper.join()
            self._wait_committed(sum(rows[:n_loop]))
            reader.stop.set()
            if reader.is_alive():
                reader.join()
        stop_between_batches(q)

        loop_trig = [t for q_, _ in self.streams for t in triggers(q_)]
        visible = attribute_visibility(rows[:n_loop], [(t.end, t.rows) for t in loop_trig])
        # files that waited out the maintenance window are reported on
        # their own; the rest measure the sink in steady operation
        latency, maint_latency = [], []
        for v, due in zip(visible[n_first:], dropper.due[self.n_lead :]):
            if v is None:
                continue
            waited = self.window is not None and v >= self.window[0] and due < self.window[1]
            (maint_latency if waited else latency).append((v - due) * 1000.0)
        run.report["unattributed_files"] = self.n_open - len(latency) - len(maint_latency)

        # drain: the whole backlog staged at once, one availableNow stream
        self._drop(paths[n_loop:])
        t_start = time.time()
        dq = self._start_traced({"availableNow": True}, DRAIN_FILES_PER_TRIGGER)
        dq.awaitTermination(SETTLE_TIMEOUT_S * 3)
        dtrig = [t for t in triggers(dq) if t.rows > 0]
        drain_rows = sum(t.rows for t in dtrig)
        if not dtrig or drain_rows != sum(rows[n_loop:]):
            raise RuntimeError(f"drain committed {drain_rows} of {sum(rows[n_loop:])} rows")
        self.restart_s.append(dtrig[0].end - t_start)
        drain_rows_per_s = drain_rows / (dtrig[-1].end - dtrig[0].start)

        if not self.reads_while_writing:
            for _ in range(QUIET_READS):
                reader.timed_read()
        run.attempted += len(reader.latency_ms) + reader.errors

        stored = sum(dir_stats(d)[0] for d in self.stored_dirs())
        orc = [dir_stats(d, ".orc") for d in self.stored_dirs()]
        for q_, sid in self.streams:
            for t in triggers(q_):
                run.tracer.add("streaming.trigger", t.start, t.end, sid)
        open_trig = [t for t in loop_trig if t.start >= t_meas]
        # rows committed per second of trigger work: the median over the
        # measured loop's triggers, so one slow trigger moves it little
        rows_per_busy_s = statistics.median(
            t.rows / (t.end - t.start) for t in open_trig if t.rows > 0 and t.end > t.start
        )
        lateness = dropper.lateness_ms()
        self.layers.update(trigger_medians(open_trig))
        self.layers.update(
            {
                "streaming.backlog_files_max": float(
                    backlog_max(dropper.actual, visible[WARM_FILES:n_loop], open_trig)
                ),
                "sources.orc_files_written": float(sum(n for _, n in orc)),
                "sources.orc_bytes_written": float(sum(b for b, _ in orc)),
                "jvm.cpu_s": clock.jvm_cpu_s,
                "jvm.gc_ms": clock.gc_ms,
                "functions.py_worker_cpu_s": clock.py_cpu_s,
                "functions.py_workers_spawned": float(clock.workers_spawned),
            }
        )
        run.report.update(
            {
                "generator_lateness_p50_ms": statistics.median(lateness),
                "generator_lateness_max_ms": max(lateness),
                "host_steal_share": steal_share(clock.host0, clock.host1),
                "trigger_ms_p50": self.layers["streaming.trigger_ms"],
                "reads_skipped": reader.skipped,
            }
        )
        self.check()
        vis = summary(latency)
        named = {
            "visible_latency_p50_ms": (vis["p50"], "ms"),
            "visible_latency_tail_ms": (vis["tail"], f"ms ({tail_note(vis)})"),
            "drain_rows_per_s": (drain_rows_per_s, f"rows/s ({drain_rows} rows)"),
            "restart_s": (statistics.median(self.restart_s), f"s (median of {self.restart_s})"),
        }
        if maint_latency:
            named["maintenance_visible_latency_p50_ms"] = (
                statistics.median(maint_latency), f"ms ({len(maint_latency)} files)"
            )
        rd = summary(reader.latency_ms)
        when = "right after commits" if self.reads_while_writing else "after the drain"
        named["read_latency_p50_ms"] = (rd["p50"], f"ms (n={rd['n']}, {when})")
        named["read_latency_tail_ms"] = (rd["tail"], f"ms ({tail_note(rd)})")
        return {
            "op_latency_ms": (vis["p50"], vis["tail"], f"n={vis['n']}, tail {tail_note(vis)}"),
            "rows_per_s": rows_per_busy_s,
            "stored_bytes_per_row": stored / sum(rows),
            "layers": self.layers,
            "named": named,
        }


class Append(Ingest):
    """``ingest_append``: events -> ORC partitioned by (dt, hour)."""

    read_span = "streaming.read_committed_orc"

    def __init__(self, run: Run) -> None:
        super().__init__(run)
        self.feed = gen.EventFeed()

    def make_table(self, seed: int, i: int) -> pa.Table:
        return gen.event_file(self.feed, seed, i)

    @property
    def out(self) -> str:
        return os.path.join(self.dir, "out")

    def start(self, trigger=None, max_files=None):
        from flink_orc_sink_spark.streaming import stream_from_files, stream_write_orc

        src = stream_from_files(
            self.run.spark, self.incoming, gen.EVENT_SCHEMA_DDL,
            max_files_per_trigger=max_files,
        )
        df = src.withColumn("dt", F.date_format("ts", "yyyy-MM-dd")).withColumn(
            "hour", F.hour("ts")
        )
        return stream_write_orc(
            df, self.out, self.ckpt, partition_cols=["dt", "hour"], trigger=trigger
        )

    def read(self) -> None:
        from flink_orc_sink_spark.streaming import read_committed_orc

        read_committed_orc(self.run.spark, self.out).count()

    def stored_dirs(self) -> list[str]:
        return [self.out, self.ckpt]

    def check(self) -> None:
        from flink_orc_sink_spark.streaming import read_committed_orc

        run = self.run
        # an orphan data file the manifest never committed must stay invisible
        part = next(
            os.path.join(r, n)
            for r, _, ns in os.walk(self.out)
            for n in ns
            if n.startswith("part-") and n.endswith(".orc")
        )
        shutil.copy(part, os.path.join(os.path.dirname(part), "part-99999-orphan.c000.zstd.orc"))
        with run.tracer.span("streaming.read_committed_orc"):
            got = read_committed_orc(run.spark, self.out).select(
                "event_id", "ts", "user_id", "event_type", "value", "file_id"
            ).toArrow()
        want = gen.digest_by_file(
            np.concatenate([t.column("file_id").to_numpy() for t in self.tables]),
            np.concatenate([gen.event_hashes(t) for t in self.tables]),
        )
        have = gen.digest_by_file(got.column("file_id").to_numpy(), gen.event_hashes(got))
        run.attempted += len(want)
        for fid, digest in want.items():
            if have.get(fid) != digest:
                run.fail(f"file {fid}: committed {have.get(fid)} expected {digest}")
        for fid in set(have) - set(want):
            run.fail(f"rows of unknown file {fid}")


class Upsert(Ingest):
    """``ingest_upsert``: keyed change feed -> CDC LSM table.

    Each read starts right after a commit. ``read_cdc_table`` fails when
    it lists ``state_log/`` while a batch's ``.spark-staging-*``
    directory is there, so a read that overlapped a commit would time
    that race rather than the read."""

    read_span = "streaming.read_cdc_table"
    reads_while_writing = True
    # its trigger (~0.7 s) and the read after it (~0.7 s) fit in one interval
    trigger_s = 2.0

    def __init__(self, run: Run) -> None:
        super().__init__(run)
        self.feed = gen.ChangeFeed()

    def make_table(self, seed: int, i: int) -> pa.Table:
        return gen.change_file(self.feed, seed, i)

    @property
    def state(self) -> str:
        return os.path.join(self.dir, "state")

    def start(self, trigger=None, max_files=None):
        from flink_orc_sink_spark.streaming import stream_cdc_apply_orc, stream_from_files

        src = stream_from_files(
            self.run.spark, self.incoming, gen.CDC_SCHEMA_DDL,
            max_files_per_trigger=max_files,
        )
        return stream_cdc_apply_orc(
            src, self.state, self.ckpt, key_col="key", order_cols=["seq"], trigger=trigger
        )

    def read(self) -> None:
        from flink_orc_sink_spark.streaming import read_cdc_table

        read_cdc_table(self.run.spark, self.state).filter(F.col("op") != "D").count()

    def stored_dirs(self) -> list[str]:
        return [self.state, self.ckpt]

    def mid_run(self, query, reader: Reader):
        """Stop -> fold -> restart half way through the open loop. The
        fold needs the sink's lease, so it runs while the sink is
        stopped. Reads pause for that maintenance window (the fold
        rewrites the base and deletes the log under a reader); files
        keep arriving."""
        from flink_orc_sink_spark.streaming import fold_retract_state

        run = self.run
        time.sleep(max(0.0, self.mid - time.time()))
        reader.pause()
        t_stop = time.time()
        stop_between_batches(query)
        self.layers["streaming.state_log_bytes"] = float(
            dir_stats(os.path.join(self.state, "state_log"))[0]
        )
        t = time.perf_counter()
        with run.tracer.span("streaming.fold_retract_state"):
            fold_retract_state(run.spark, self.state)
        self.layers["streaming.fold_s"] = time.perf_counter() - t
        self.layers["streaming.folds"] = 1.0
        t_start = time.time()
        query = self._start_traced()
        reader.resume()
        deadline = time.monotonic() + SETTLE_TIMEOUT_S
        while time.monotonic() < deadline and query.isActive:
            busy = [t for t in triggers(query) if t.rows > 0]
            if busy:
                self.restart_s.append(busy[0].end - t_start)
                self.window = (t_stop, busy[0].end)
                break
            time.sleep(0.02)
        return query

    def check(self) -> None:
        from flink_orc_sink_spark.streaming import read_cdc_table

        run = self.run
        model = gen.latest_per_key(self.tables)
        with run.tracer.span("streaming.read_cdc_table"):
            got = (
                read_cdc_table(run.spark, self.state)
                .filter(F.col("op") != "D")
                .select("key", "seq", "val")
                .toArrow()
            )
        have = dict(
            zip(
                got.column("key").to_pylist(),
                zip(got.column("seq").to_pylist(), got.column("val").to_pylist()),
            )
        )
        bad_files: set[int] = set()
        if len(have) != got.num_rows:
            run.fail(f"{got.num_rows - len(have)} duplicate live keys")
        for k, (seq, op, val, fid) in model.items():
            live = op != "D"
            if (k in have) != live or (live and have[k] != (seq, val)):
                bad_files.add(fid)
        unknown = set(have) - set(model)
        run.attempted += self.n_files
        for fid in sorted(bad_files):
            run.fail(f"file {fid}: latest change of some key not applied exactly")
        if unknown:
            run.fail(f"{len(unknown)} live keys never generated")
