"""``query_mix``: a closed loop with one client over registry queries
and benchmark-owned aggregates on an ORC table the sink wrote.

The list mixes JVM-only queries (planning, scan, shuffle) with
Python-UDF curation queries (the Arrow/Python worker boundary), so a
change to either layer moves this workload while the ingest workloads,
which run no Python, predict no change. Every result is hash-matched
against an oracle: the registry's ``oracle_sql()`` through DuckDB, and
a pandas model for the ORC aggregates."""

from __future__ import annotations

import hashlib
import os
import statistics
import threading
import time

import duckdb
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.harness import LayerClock, Run, exchanges, job_counts, trigger_medians, triggers
from perfbench.measure import dir_stats, steal_share, summary, tail_note

SF = 0.01
JVM_QUERIES = {
    # registry name -> tables it reads (for input rows per second)
    "q1_pricing_summary": ("lineitem",),
    "q3_shipping_priority": ("customer", "orders", "lineitem"),
    "q18_large_orders": ("lineitem", "orders", "customer"),
    "events_sessionize_10m": ("events",),
    "window_topk_per_customer": ("orders",),
}
PY_QUERIES = {
    "docs_minhash_pairs": ("documents",),
    "docs_simhash_pairs": ("documents",),
}
ORC_FILES, ORC_ROWS_PER_FILE, ORC_DAYS = 2, 25_000, 2
# reads of the sink-written table
ORC_READS = ("orc_events_pruned", "orc_events_full_scan")
PRUNE_DT, PRUNE_HOURS = "2024-01-02", (8, 11)
WARM_ROUNDS = 2
MIN_ROUNDS = 3  # 3 x 9 samples: the tail rule needs at least 20


# --- result fingerprints ----------------------------------------------------


def _canon(v) -> str:
    if v is None or (isinstance(v, float) and v != v):
        return "∅"
    if isinstance(v, float):
        return repr(round(v, 9))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "item"):  # numpy scalar
        return _canon(v.item())
    return str(v)


def frame_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive fingerprint: columns by name, rows sorted,
    cells canonicalized (floats to 9 places)."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_canon(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    return hashlib.md5("\x1e".join([",".join(cols), *rows]).encode()).hexdigest()


# --- benchmark-owned ORC aggregates --------------------------------------------


def orc_pruned(spark, path: str):
    """Time-pruned rollup: four hour partitions of one day."""
    from flink_orc_sink_spark.streaming import read_committed_orc

    lo, hi = PRUNE_HOURS
    return (
        read_committed_orc(spark, path)
        .where((F.col("dt") == PRUNE_DT) & F.col("hour").between(lo, hi))
        .groupBy("hour", "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )


def orc_full_scan(spark, path: str):
    """Full-scan rollup over every partition."""
    from flink_orc_sink_spark.streaming import read_committed_orc

    return (
        read_committed_orc(spark, path)
        .groupBy("dt", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
            F.max("user_id").alias("max_user"),
        )
    )


def _orc_models(orc_tables) -> tuple[pd.DataFrame, pd.DataFrame, int]:
    ev = pd.concat([t.to_pandas() for t in orc_tables], ignore_index=True)
    ts = ev["ts"].dt.tz_convert("UTC")
    ev["dt"], ev["hour"] = ts.dt.strftime("%Y-%m-%d"), ts.dt.hour.astype("int32")
    lo, hi = PRUNE_HOURS
    sel = ev[(ev["dt"] == PRUNE_DT) & ev["hour"].between(lo, hi)]
    pruned = sel.groupby(["hour", "event_type"], as_index=False).agg(
        n=("value", "size"), total=("value", "sum")
    )
    full = ev.groupby(["dt", "event_type"], as_index=False).agg(
        n=("value", "size"), total=("value", "sum"), max_user=("user_id", "max")
    )
    for m in (pruned, full):
        m["total"] = m["total"].round(2)
    return pruned, full, len(sel)


# --- workload -----------------------------------------------------------------


class QueryMix:
    def __init__(self, run: Run) -> None:
        self.run = run

    def _stage(self, run: Run, d: str):
        from flink_orc_sink_spark.streaming import stream_from_files, stream_write_orc

        sf_dir = os.path.join(d, "sf")
        os.makedirs(sf_dir)
        tables = gen.warehouse_tables(run.seed, SF)
        for name, t in tables.items():
            pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
        orc_in = os.path.join(d, "orc_in")
        orc_tables = gen.orc_event_files(run.seed, ORC_FILES, ORC_ROWS_PER_FILE, ORC_DAYS)
        gen.write_files(orc_tables, orc_in, time.time() - 10 * ORC_FILES)
        orc = os.path.join(d, "orc_events")
        src = stream_from_files(run.spark, orc_in, gen.EVENT_SCHEMA_DDL)
        src = src.withColumn("dt", F.date_format("ts", "yyyy-MM-dd")).withColumn(
            "hour", F.hour("ts")
        )
        with run.tracer.span("streaming.start"):
            q = stream_write_orc(
                src, orc, os.path.join(d, "orc_ckpt"), partition_cols=["dt", "hour"],
                trigger={"availableNow": True},
            )
        q.awaitTermination()
        return sf_dir, tables, orc, orc_tables, q

    def _oracles(self, sf_dir: str, tables, out: dict) -> None:
        """Expected result fingerprints of the registry queries: DuckDB
        over the staged parquet. Runs in a thread; an error is kept in
        ``out["error"]``."""
        try:
            self._oracles_into(sf_dir, tables, out)
        except Exception as exc:  # noqa: BLE001 - re-raised by the caller
            out["error"] = exc

    def _oracles_into(self, sf_dir: str, tables, out: dict) -> None:
        import __spark_entry__ as entry

        oracle_sql = entry.oracle_sql()
        con = duckdb.connect(config={"threads": 1})
        try:
            for name in tables:
                path = os.path.join(sf_dir, name + ".parquet")
                con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
            for name in (*JVM_QUERIES, *PY_QUERIES):
                out[name] = frame_hash(con.sql(oracle_sql[name]).df())
        finally:
            con.close()

    def execute(self) -> dict:
        import __spark_entry__ as entry

        run = self.run
        sf_dir, tables, orc, orc_tables, stage_q = run.setup(self._stage)
        spark = run.spark
        registry = entry.queries()
        n_rows = {name: t.num_rows for name, t in tables.items()}
        orc_rows = sum(t.num_rows for t in orc_tables)
        pruned_model, full_model, pruned_rows = _orc_models(orc_tables)
        plan = [  # (name, callable, input path, input rows, is_python)
            *(
                (name, registry[name], sf_dir, sum(n_rows[t] for t in reads), is_py)
                for group, is_py in ((JVM_QUERIES, False), (PY_QUERIES, True))
                for name, reads in group.items()
            ),
            ("orc_events_pruned", orc_pruned, orc, pruned_rows, False),
            ("orc_events_full_scan", orc_full_scan, orc, orc_rows, False),
        ]
        expected = {
            "orc_events_pruned": frame_hash(pruned_model),
            "orc_events_full_scan": frame_hash(full_model),
        }
        # the DuckDB oracles run on one core while the untimed warm-up runs
        oracle = threading.Thread(
            target=self._oracles, args=(sf_dir, tables, expected), daemon=True
        )
        oracle.start()

        layer = {k: [] for k in ("build", "execute")}
        counts = {k: 0 for k in ("jobs", "stages", "tasks", "exchanges")}
        samples: list[tuple[str, float, bool]] = []  # (query, ms, is_python)
        results: list[tuple[str, str]] = []  # (query, fingerprint) to check
        lock = threading.Lock()  # the warm-up runs three clients

        def one(name, fn, path, _rows, is_py, i):
            measured = i >= 0
            group = f"perfbench:{name}:{i}"
            traced = run.tracer.enabled and measured
            if traced:
                spark.sparkContext.setJobGroup(group, name)
            with lock:
                run.attempted += 1
            t0 = time.perf_counter()
            try:
                with run.tracer.span("queries.build"):
                    df = fn(spark, path)
                t1 = time.perf_counter()
                with run.tracer.span("queries.execute"):
                    pdf = df.toPandas()
                t2 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 - an erroring query is a counted failure
                with lock:
                    run.fail(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
                return
            with lock:
                results.append((name, frame_hash(pdf)))
            if measured:
                samples.append((name, (t2 - t0) * 1000.0, is_py))
            if traced:
                layer["build"].append(t1 - t0)
                layer["execute"].append(t2 - t1)
                jobs, stages, tasks = job_counts(spark, group)
                counts["jobs"] += jobs
                counts["stages"] += stages
                counts["tasks"] += tasks
                counts["exchanges"] += exchanges(df)
                spark.sparkContext.setJobGroup("perfbench:idle", "idle")

        # warm-up, untimed: one cold round (JIT, codegen, Python worker
        # start, UDF pickling) from three clients, so the cold starts
        # overlap, then WARM_ROUNDS sequential rounds: round latency falls
        # for about three rounds and levels off after
        warmers = [
            threading.Thread(target=lambda part=plan[k::3]: [one(*it, i=-1) for it in part])
            for k in range(3)
        ]
        for w in warmers:
            w.start()
        for w in warmers:
            w.join()
        for _ in range(WARM_ROUNDS):
            t_round = time.perf_counter()
            for item in plan:
                one(*item, i=-1)
            round_s = time.perf_counter() - t_round
        oracle.join()
        if "error" in expected:
            raise RuntimeError("oracle computation failed") from expected["error"]
        # whole rounds only, so every query weighs the same: as many as
        # the last warm-up round says fill the run's seconds, fixed
        # before timing so that a run never ends on a round cut short or
        # one added by a few milliseconds; at least MIN_ROUNDS, so the
        # tail always has its ten samples beyond
        rounds = max(MIN_ROUNDS, round(run.seconds / round_s))
        with LayerClock(run) as clock:
            for r in range(rounds):
                for item in plan:
                    one(*item, i=r)
        for name, fingerprint in results:
            if fingerprint != expected[name]:
                run.fail(f"{name}: result differs from its oracle")

        med = {
            name: statistics.median(s[1] for s in samples if s[0] == name) for name, *_ in plan
        }
        # latency pools every sample, scaled so that each query's samples
        # have the geometric mean of all samples: every query weighs the
        # same whatever its length, and the median and the tail measure
        # spread across rounds, not which query is longest
        gm = {
            name: statistics.geometric_mean(s[1] for s in samples if s[0] == name)
            for name in med
        }
        geo = statistics.geometric_mean(gm.values())
        pooled = summary([s[1] * geo / gm[s[0]] for s in samples])
        stored = dir_stats(orc)[0] + dir_stats(os.path.join(os.path.dirname(orc), "orc_ckpt"))[0]
        orc_bytes, orc_files = dir_stats(orc, ".orc")
        layers = trigger_medians(triggers(stage_q))
        layers.update(
            {
                "sources.orc_files_written": float(orc_files),
                "sources.orc_bytes_written": float(orc_bytes),
                "queries.build_s": statistics.median(layer["build"]) if layer["build"] else 0.0,
                "queries.execute_s": (
                    statistics.median(layer["execute"]) if layer["execute"] else 0.0
                ),
                "jvm.cpu_s": clock.jvm_cpu_s / rounds,
                "jvm.gc_ms": clock.gc_ms / rounds,
                "functions.py_worker_cpu_s": clock.py_cpu_s / rounds,
                "functions.py_workers_spawned": float(clock.workers_spawned),
            }
        )
        layers.update({f"queries.{k}": v / rounds for k, v in counts.items()})
        run.report.update(
            {
                "rounds": rounds,
                "queries_per_round": len(plan),
                "jvm_query_latency_p50_ms": statistics.median(s[1] for s in samples if not s[2]),
                "python_query_latency_p50_ms": statistics.median(s[1] for s in samples if s[2]),
                "host_steal_share": steal_share(clock.host0, clock.host1),
                "per_query_p50_ms": {name: round(ms, 1) for name, ms in med.items()},
            }
        )
        q = summary([s[1] / 1000.0 for s in samples])
        # one round's input rows over its median query times
        rows_per_s = sum(rows for _, _, _, rows, _ in plan) / (sum(med.values()) / 1000.0)
        return {
            "named": {
                "query_latency_p50_s": (q["p50"], "s"),
                "query_latency_tail_s": (q["tail"], f"s ({tail_note(q)})"),
                "query_rows_per_s": (rows_per_s, "rows/s"),
                "read_latency_p50_ms": (
                    statistics.geometric_mean(med[name] for name in ORC_READS),
                    f"ms (geometric mean of the medians of {' and '.join(ORC_READS)})",
                ),
            },
            "op_latency_ms": (
                pooled["p50"], pooled["tail"],
                f"n={pooled['n']} samples scaled per query ({len(med)} queries,"
                f" {rounds} rounds), tail {tail_note(pooled)}",
            ),
            "rows_per_s": rows_per_s,
            "stored_bytes_per_row": stored / orc_rows,
            "layers": layers,
        }
