"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_append --seed 1 --seconds 16 --trace 0

Workloads: ``ingest_append`` and ``query_mix``, the two BENCHMARK.json
lists, and ``ingest_upsert``, which runs the same way but is left out
of BENCHMARK.json: with the warm-up each workload needs, a third one
does not fit the time that the 22 runs per workload may take.

Runs one workload against the package in this checkout and prints a
human-readable report followed, on the last line, by one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` records spans around
every call into the package and reports the per-layer metrics instead
(see ``LAYER_MAP`` for which end-to-end metric each should move).

Every file the run writes lives under ``.perfbench_tmp/`` in the
checkout and is removed at exit; ``--trace 1`` also leaves its spans in
``.perfbench_out/``."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# name -> (unit, how it is computed)
END_TO_END = {
    "setup_s": (
        "s",
        "the run's one cold set-up: JVM launch and session start, then staging"
        " the generated inputs (and, on query_mix, the sink-written ORC table)",
    ),
    "op_latency_p50_ms": (
        "ms",
        "ingest: file drop to rows visible, median over the files outside the"
        " mid-run maintenance window (ingest_upsert); query_mix: median of every"
        " query sample, scaled so that each query's samples have the geometric"
        " mean of all samples",
    ),
    "op_latency_tail_ms": (
        "ms",
        "highest percentile with >=10 samples beyond, of the same file"
        " latencies (ingest) or of the same scaled query samples (query_mix)",
    ),
    "rows_per_s": (
        "rows/s",
        "ingest: median over the measured triggers of committed rows per second"
        " of trigger time; query_mix: one round's input rows over the sum of"
        " the per-query median latencies",
    ),
    "stored_bytes_per_row": ("bytes", "sink data + manifests + state + log + checkpoint per input row"),
    "peak_rss_mb": ("MB", "peak resident memory of the JVM plus Python workers"),
}

# per-layer metric -> (unit, end-to-end metric it should move, on which workload)
LAYER_MAP = {
    "streaming.latest_offset_ms": ("ms", "op_latency_p50_ms on ingest_append"),
    "streaming.get_batch_ms": ("ms", "op_latency_p50_ms on ingest_append"),
    "streaming.query_planning_ms": ("ms", "op_latency_p50_ms on ingest_append"),
    "streaming.wal_commit_ms": ("ms", "op_latency_p50_ms on ingest_append"),
    "streaming.commit_offsets_ms": ("ms", "op_latency_p50_ms on ingest_append"),
    "streaming.trigger_ms": ("ms", "op_latency_p50_ms on ingest_append"),
    "streaming.triggers": ("count", "op_latency_p50_ms on ingest_append"),
    "streaming.empty_triggers": ("count", "op_latency_p50_ms on ingest_append"),
    "streaming.add_batch_ms": ("ms", "rows_per_s and op_latency_tail_ms on ingest_append"),
    "streaming.rows_per_trigger": ("rows", "rows_per_s and op_latency_tail_ms on ingest_append"),
    "streaming.backlog_files_max": ("count", "rows_per_s and op_latency_tail_ms on ingest_append"),
    "sources.orc_files_written": ("count", "rows_per_s on ingest_append; op_latency_p50_ms on query_mix"),
    "sources.orc_bytes_written": ("bytes", "stored_bytes_per_row on ingest_append"),
    "queries.build_s": ("s", "op_latency_p50_ms on query_mix"),
    "queries.execute_s": ("s", "op_latency_p50_ms on query_mix"),
    "queries.jobs": ("count", "op_latency_p50_ms on query_mix"),
    "queries.stages": ("count", "op_latency_p50_ms on query_mix"),
    "queries.tasks": ("count", "op_latency_p50_ms on query_mix"),
    "queries.exchanges": ("count", "op_latency_p50_ms on query_mix"),
    "jvm.cpu_s": ("s", "op_latency_p50_ms on query_mix"),
    "jvm.gc_ms": ("ms", "op_latency_p50_ms on query_mix"),
    "functions.py_worker_cpu_s": ("s", "op_latency_p50_ms and rows_per_s on query_mix"),
    "functions.py_workers_spawned": ("count", "op_latency_p50_ms on query_mix"),
    "session.get_spark_s": ("s", "setup_s on every workload"),
    "sources.stage_s": ("s", "setup_s on every workload"),
    "session.self_s": ("s", "setup_s"),
    "sources.self_s": ("s", "setup_s and op_latency_p50_ms on ingest_append"),
    "streaming.self_s": ("s", "op_latency_p50_ms on ingest_append"),
    "queries.self_s": ("s", "op_latency_p50_ms on query_mix"),
    "trace.spans": ("count", "tracing cost"),
    "trace.record_ms": ("ms", "tracing cost: time spent recording spans"),
    "trace.op_latency_p50_ms": ("ms", "op_latency_p50_ms measured with tracing on"),
}
# layer metrics only ingest_upsert has; printed, not in the JSON line
UPSERT_LAYER_MAP = {
    "streaming.state_log_bytes": ("bytes", "read_latency_p50_ms on ingest_upsert"),
    "streaming.folds": ("count", "stored_bytes_per_row on ingest_upsert"),
    "streaming.fold_s": ("s", "maintenance_visible_latency_p50_ms on ingest_upsert"),
}


def _workloads():
    from perfbench.ingest import Append, Upsert
    from perfbench.querymix import QueryMix

    return {"ingest_append": Append, "ingest_upsert": Upsert, "query_mix": QueryMix}


def _stop_spark(run) -> None:
    """Stop the session and the JVM this process launched, and wait."""
    from pyspark import SparkContext

    if run is not None and run.sampler is not None:
        run.sampler.stop()
    if run is not None and run.spark is not None:
        run.spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=30)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "flink_orc_sink_spark")):
        print(f"no flink_orc_sink_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    workloads = _workloads()
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads)}", file=sys.stderr)
        return 2

    from perfbench.harness import Run, host_safe_env
    from perfbench.measure import Tracer

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    host_safe_env(ROOT, tmp)
    run = None
    try:
        run = Run(args.seed, args.seconds, tmp, Tracer(bool(args.trace)))
        res = workloads[args.workload](run).execute()
        peak_rss_mb = run.sampler.peak_rss_mb()
    finally:
        _stop_spark(run)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass  # another run's directory is still there

    lat_p50, lat_tail, lat_note = res["op_latency_ms"]
    e2e = {
        "setup_s": run.setup_s,
        "op_latency_p50_ms": lat_p50,
        "op_latency_tail_ms": lat_tail,
        "rows_per_s": res["rows_per_s"],
        "stored_bytes_per_row": res["stored_bytes_per_row"],
        "peak_rss_mb": peak_rss_mb,
    }
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} trace {args.trace}")
    for name, value in e2e.items():
        print(f"  {name:24s} {value:14.4f} {END_TO_END[name][0]}")
    print(f"  op_latency: {lat_note}")
    print(f"  setup: get_spark {run.get_spark_s:.3f} s, stage {run.stage_s:.3f} s")
    ratio = run.failed / run.attempted if run.attempted else 0.0
    print("  named metrics:")
    for name, (value, unit) in res["named"].items():
        print(f"    {name:26s} {value:14.4f} {unit}")
    print(f"    {'failed_ops_ratio':26s} {ratio:14.6f} ({run.failed} of {run.attempted})")
    for k, v in run.report.items():
        print(f"  {k}: {v}")
    for f in run.failures:
        print(f"  FAILED: {f}")

    if args.trace:
        layers = {name: 0.0 for name in LAYER_MAP}
        layers.update(res["layers"])
        layers["session.get_spark_s"] = run.get_spark_s
        layers["sources.stage_s"] = run.stage_s
        for layer, s in run.tracer.layer_self_s().items():
            if f"{layer}.self_s" in layers:
                layers[f"{layer}.self_s"] = s
        layers["trace.spans"] = float(len(run.tracer.spans))
        layers["trace.record_ms"] = run.tracer.record_s * 1000.0
        layers["trace.op_latency_p50_ms"] = lat_p50
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        run.tracer.dump(os.path.join(out, f"spans-{args.workload}-{args.seed}.tsv"))
        for name, (unit, moves) in LAYER_MAP.items():
            print(f"  {name:30s} {layers[name]:14.4f} {unit:6s} -> {moves}")
        for name, (unit, moves) in UPSERT_LAYER_MAP.items():
            if name in res["layers"]:
                print(f"  {name:30s} {res['layers'][name]:14.4f} {unit:6s} -> {moves}")
        metrics = {n: {"value": layers[n], "unit": LAYER_MAP[n][0]} for n in LAYER_MAP}
    else:
        metrics = {n: {"value": v, "unit": END_TO_END[n][0]} for n, v in e2e.items()}
    print(
        json.dumps(
            {
                "correct": run.wrong == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
