"""Exactly-once streaming ORC sink + watermark observability.

The reference's core capability (``RowOrcBucketingSink.java``) is a
hand-rolled three-state file lifecycle — in-process → in-pending →
committed, renamed at checkpoint boundaries (``README.md:7-22``,
``snapshotState`` at ``RowOrcBucketingSink.java:153-170``,
``notifyCheckpointComplete`` at ``:172-177``). Spark's Structured
Streaming file sink provides the same contract natively and strictly
stronger:

- **Epoch = micro-batch**: each trigger is one transactional unit,
  like the reference's checkpoint interval (``OrcSinkTest.java:20``).
- **Commit = manifest, not rename**: completed files are recorded in
  ``_spark_metadata``; readers trust only the manifest, so partially
  written or orphaned files are invisible without any rename race —
  the improvement over the reference's rename protocol, and it also
  survives the cancel-with-savepoint hole ``README.md:4`` concedes.
- **Recovery = source replay + idempotent batch ids** from
  ``checkpointLocation`` — the reference instead rebuilds empty state
  and leans on Kafka offset rewind (``README.md:19-22``).

Watermarks: the reference tracks ``context.currentWatermark()`` per
bucket and publishes a gauge shifted −8h for UTC+8 display
(``RowOrcBucketingSink.java:86,114,196-198``). Spark equivalents: the
``withWatermark`` operator on the stream plus
``StreamingQueryProgress["eventTime"]["watermark"]``; the
:class:`WatermarkTracker` listener below reports UTC, un-shifted
(SURVEY.md §2.3 T4 "report UTC").
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener

# State probes route through the shared Hadoop-FS helpers in
# ``session.py`` (one definition for sinks + index retention): replay
# markers and state-existence checks must resolve against the SAME
# filesystem Spark writes to — driver-local ``os.path`` probes would
# silently answer False for an ``hdfs://``/``s3a://`` state_path (the
# 100 TB shape) and recompute deltas against a phantom 'absent' state.
from flink_orc_sink_spark.lease import process_owner, state_lease
from flink_orc_sink_spark.session import (
    fs_dir_size as _hfs_dir_size,
    fs_exists as _hfs_exists,
    fs_list_names as _hfs_list_names,
    fs_mkdirs as _hfs_mkdirs,
    fs_rmtree as _hfs_rmtree,
    local_df,
    orc_data_files_exist as _orc_files_exist,
    release_local_checkpoint,
)

# LSM fold trigger for the retract sinks' delta logs (round 9): the
# log is folded into the base once it exceeds max(FOLD_MIN_BYTES,
# fold_ratio x base bytes). The byte floor keeps short test/demo
# streams append-only (no fold ever fires), while a bootstrap load or
# sustained churn folds on the ratio — amortized fold cost is
# O(batch / fold_ratio) rows per batch, state-size-independent.
FOLD_MIN_BYTES = 64 * 1024 * 1024


def stream_write_orc(
    df: DataFrame,
    path: str,
    checkpoint: str,
    partition_cols: list[str] | None = None,
    trigger: dict | None = None,
    compression: str = "zstd",
    query_name: str | None = None,
) -> StreamingQuery:
    """Start the exactly-once streaming ORC sink.

    Equivalent of constructing + ``addSink``-ing the reference's
    ``RowOrcBucketingSink`` (``OrcSinkTest.java:29,37``):

    - ``path`` ↔ the sink base path (``RowOrcBucketingSink.java:76``)
    - ``partition_cols`` ↔ the ``Bucketer`` (``:41,111``) — pass
      computed columns (e.g. a ``to_date(ts)`` day column) for the
      date-bucketed Hive layout the reference demo targets.
    - ``checkpoint`` ↔ ``env.enableCheckpointing`` + state backend
      (``OrcSinkTest.java:20``); commit cadence = trigger interval.
    - ``trigger`` e.g. ``{"processingTime": "30 seconds"}`` for the
      demo's 30 s epoch, or ``{"availableNow": True}`` for drain-and-
      stop (deterministic tests, backfills).

    At scale: one writer task per partition of the final stage; use
    ``df.repartition(cols)`` upstream to control file count per epoch
    (few big ORC files beat many small ones at 100 TB).
    """
    writer = (
        df.writeStream.format("orc")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .option("compression", compression)
        .outputMode("append")
    )
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    if query_name:
        writer = writer.queryName(query_name)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def stream_write_orc_foreachbatch(
    df: DataFrame,
    path: str,
    checkpoint: str,
    trigger: dict | None = None,
    compression: str = "zstd",
) -> StreamingQuery:
    """The CUSTOM-SINK escape hatch: ``foreachBatch`` with
    batch-id-keyed idempotent writes — the pattern every warehouse
    sink without a native streaming writer uses (JDBC upserts, Delta
    MERGE, multi-table fan-out).

    Exactly-once here comes from idempotence, not a manifest: each
    micro-batch lands in its own ``batch_id=<id>`` partition via
    DYNAMIC partition overwrite, so a crash-replayed batch rewrites
    the same partition instead of duplicating rows (the checkpoint
    guarantees replay delivers the same batch id with the same data).
    This is the second exactly-once mechanism next to the manifest
    file sink (``stream_write_orc``) — the reference's rename protocol
    plays the same role for its ``part-{subtask}-{seq}`` files.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("compression", compression)
            .partitionBy("batch_id")
            .orc(path)
        )

    writer = df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def stream_fanout_orc(
    df: DataFrame,
    outputs: dict,
    commit_path: str,
    checkpoint: str,
    trigger: dict | None = None,
    compression: str = "zstd",
) -> StreamingQuery:
    """ATOMIC MULTI-TABLE fan-out: one stream feeding several ORC
    tables (raw + per-source stats, accepted + audit, …) with a
    SINGLE commit point per micro-batch — the reference's 2-phase
    rename protocol (`RowOrcBucketingSink.java:153-213` commits all
    of a checkpoint's buckets together) generalized to N tables.

    ``outputs`` maps table name → ``(path, transform)``; each
    micro-batch writes ``transform(batch)`` (identity when ``None``)
    into every table's ``batch_id=<id>`` partition via dynamic
    overwrite, THEN appends one marker row for the batch under
    ``commit_path`` — strictly after every table landed.
    ``read_committed_fanout`` filters any table to marked batches, so
    a crash between table writes leaves the half-written batch
    invisible in ALL tables (no cross-table torn snapshot — the
    failure mode per-table idempotence alone cannot exclude), and the
    checkpoint replay rewrites the same partitions (transforms must
    be deterministic) and only then re-marks. A replay that crashed
    after the tables but before/after the marker can at worst
    duplicate MARKER ROWS, which read-time ``distinct`` absorbs —
    result rows are never duplicated.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        staged = batch_df.localCheckpoint(eager=True)
        try:
            for _name, (path, transform) in outputs.items():
                out = transform(staged) if transform is not None else staged
                (
                    out.withColumn("batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .option("compression", compression)
                    .partitionBy("batch_id")
                    .orc(path)
                )
            # the commit point: one tiny append AFTER all tables —
            # the only write whose visibility readers trust
            (
                local_df(
                    staged.sparkSession, [(batch_id,)], "batch_id long"
                )
                .coalesce(1)
                .write.mode("append")
                .parquet(commit_path)
            )
        finally:
            release_local_checkpoint(staged)

    writer = df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def read_committed_fanout(
    spark: SparkSession, table_path: str, commit_path: str
) -> DataFrame:
    """Read a fan-out table at the transaction boundary: only batches
    whose commit marker exists — every table filtered this way shows
    the SAME set of batches (all-or-nothing across the fan-out). The
    marker set is tiny (one row per micro-batch); broadcast semi
    join, so the filter costs nothing against the table scan."""
    committed = spark.read.parquet(commit_path).select("batch_id").distinct()
    return spark.read.orc(table_path).join(
        # bounded-broadcast: manifest semi-join: one long per committed micro-batch — O(stream lifetime in triggers), MBs/year
        F.broadcast(committed), "batch_id", "left_semi"
    )


def stream_cdc_apply_orc(
    changes: DataFrame,
    state_path: str,
    checkpoint: str,
    key_col: str,
    order_cols: list[str],
    n_key_partitions: int = 16,
    trigger: dict | None = None,
    compression: str = "zstd",
    fold_ratio: float = 0.25,
) -> StreamingQuery:
    """Streaming CDC MERGE into a keyed ORC state table — the
    ``foreachBatch`` upsert every warehouse runs on a change feed when
    the sink has no native MERGE.

    Since round 9 the table is the SAME LSM pair the retract sinks
    use (this sink shares their fold and reader): ``state/`` — the
    base, latest-per-key rows ``kp``-partitioned (``kp = hash(key) %
    n_key_partitions``), rewritten only by folds — plus
    ``state_log/`` — the delta log, each batch appended under its
    ``batch_id`` partition (dynamic overwrite, so a crash-replayed
    batch rewrites its own partition: idempotent). Per batch the sink
    does ONE O(batch) append — no state read, no merge shuffle, no
    bucket rewrite, on ANY key distribution. The log folds into the
    base via :func:`fold_retract_state` when it outgrows
    ``max(64 MB, fold_ratio × base)`` — amortized O(batch/fold_ratio)
    rows per batch. Read the current table with
    :func:`read_cdc_table` (latest-per-key over base ∪ log — the
    merge-on-read resolve; an empty log is a plain base read).

    State size is O(live keys + unfolded log), never O(stream
    length). Deletes stay as tombstone rows (``op='D'``) so
    re-inserts win later batches; readers filter them.
    Each micro-batch holds the ``state_path`` single-writer lease
    (round 8): the fold's pruned read + dynamic overwrite is the same
    read-modify-write cycle the retract sinks protect, so an external
    writer on the state dir fails loudly instead of interleaving.
    """
    lease_owner = f"sink:{checkpoint}"
    cache: dict = {}

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        with state_lease(batch_df.sparkSession, state_path, lease_owner):
            _apply(batch_df, batch_id)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        base_dir = os.path.join(state_path, "state")
        log_dir = os.path.join(state_path, "state_log")
        if "layout" not in cache:
            # pre-round-9 CDC state kept its kp=* dirs directly under
            # state_path; this sink now reads/writes state/ +
            # state_log/ only. Silently ignoring the old rows would be
            # data loss (keys not re-delivered vanish, re-delivered
            # keys lose latest-wins against their pre-upgrade seq), so
            # refuse loudly with the migration step instead.
            if any(
                n.startswith("kp=")
                for n in _hfs_list_names(spark, state_path)
            ):
                raise ValueError(
                    f"pre-round-9 CDC state layout at {state_path}: "
                    f"kp=* partitions sit at the state root, which "
                    f"this version no longer reads. Migrate by moving "
                    f"them under {base_dir}/ (one rename) before "
                    f"restarting the sink"
                )
            _record_layout(
                spark,
                state_path,
                kc=key_col,
                oc=",".join(order_cols),
                nkp=n_key_partitions,
            )
            cache["layout"] = True
        (
            batch_df.withColumn(
                "kp",
                F.pmod(F.hash(F.col(key_col)), F.lit(n_key_partitions)),
            )
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("compression", compression)
            .partitionBy("batch_id")
            .orc(log_dir)
        )
        if _should_fold(spark, base_dir, log_dir, fold_ratio):
            fold_retract_state(
                spark, state_path, key_col, order_cols, compression,
                lease=False,  # this batch already holds it
            )

    writer = changes.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def read_cdc_table(spark: SparkSession, state_path: str) -> DataFrame:
    """Current latest-per-key table of a :func:`stream_cdc_apply_orc`
    state dir — merge-on-read over base ⊕ unfolded log, tombstones
    (``op='D'``) included; filter them for the live view."""
    return read_retract_state(spark, state_path)


def stream_scd2_apply_orc(
    changes: DataFrame,
    state_path: str,
    checkpoint: str,
    key_col: str,
    attr_col: str,
    ts_col: str,
    order_cols: list[str],
    n_key_partitions: int = 16,
    trigger: dict | None = None,
    compression: str = "zstd",
    fold_ratio: float = 0.25,
) -> StreamingQuery:
    """Streaming SCD TYPE-2 dimension maintenance — the history-table
    twin of :func:`stream_cdc_apply_orc` (which keeps latest-per-key;
    this keeps every attribute interval with validity bounds). Each
    micro-batch:

    1. hashes keys into ``n_key_partitions`` buckets (``kp``) and
       reads ONLY the touched buckets of the ``changes/`` archive,
    2. merges batch ∪ archive by FULL-ROW DISTINCT — the change
       archive is the warehouse's CDC source-of-truth table, and
       row-identity dedup is what makes a crash-replayed batch an
       exact no-op,
    3. rebuilds the SCD2 chain (collapse consecutive repeats →
       version / effective_from / effective_to / is_current) for the
       touched buckets only, via ``operators/relational.py::
       scd2_history`` — per-key windows inside a bucket-bounded
       frame, and
    4. dynamically overwrites the touched ``kp`` partitions of BOTH
       ``changes/`` and ``history/``.

    Keeping raw change rows (not just collapsed intervals) is what
    buys OUT-OF-ORDER exactness: a late row can split or merge
    existing intervals, and the per-bucket chain rebuild from raw
    rows reproduces exactly what a batch SCD2 over the full feed
    would emit — regardless of arrival order (the registered query's
    oracle feeds hash-scattered batches and must hash-match the
    one-shot ``SCD2_SQL``). An interval-only state cannot do this:
    consecutive-repeat rows it discarded may become version starts
    once a late row lands between them.

    Since round 9 the archive is an LSM pair like every other state
    sink here: ``changes/`` — the full-row-distinct base, rewritten
    only by folds — plus ``changes_log/`` — each batch appended under
    its ``batch_id`` partition (idempotent under replay). Per batch
    the sink does ONE O(batch) append on ANY key distribution; the
    ``history/`` chain table is materialized at FOLD time
    (:func:`fold_scd2_state`, triggered when the log outgrows
    ``max(64 MB, fold_ratio × base)``), and
    :func:`read_scd2_history` answers between folds by rebuilding
    only the log-touched buckets' chains at read time (merge-on-read
    — full-row DISTINCT over base ∪ log absorbs replays and the
    crash window between a fold's base write and its log delete).

    100 TB shape: per-batch cost is O(batch); fold cost is O(touched
    buckets), amortized O(batch/fold_ratio); state is the change
    archive a warehouse already keeps.

    Each micro-batch holds the ``state_path`` single-writer lease
    (round 8), like every other read-modify-write state sink."""
    lease_owner = f"sink:{checkpoint}"
    cache: dict = {}

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        with state_lease(batch_df.sparkSession, state_path, lease_owner):
            _apply(batch_df, batch_id)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        base_dir = os.path.join(state_path, "changes")
        log_dir = os.path.join(state_path, "changes_log")
        if "layout" not in cache:
            _record_layout(
                spark,
                state_path,
                kc=key_col,
                ac=attr_col,
                tc=ts_col,
                oc=",".join(order_cols),
                nkp=n_key_partitions,
            )
            cache["layout"] = True
        (
            batch_df.withColumn(
                "kp",
                F.pmod(F.hash(F.col(key_col)), F.lit(n_key_partitions)),
            )
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("compression", compression)
            .partitionBy("batch_id")
            .orc(log_dir)
        )
        if _should_fold(spark, base_dir, log_dir, fold_ratio):
            fold_scd2_state(
                spark, state_path, compression, lease=False
            )

    writer = changes.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def _scd2_log_merge(spark: SparkSession, state_path: str):
    """Shared base∪log resolution of an unfolded SCD2 change log —
    the byte-equivalence contract between :func:`read_scd2_history`
    and :func:`fold_scd2_state`: both must rebuild chains from the
    SAME ``(kps, merged)`` or a fold would materialize history the
    reader didn't answer. Returns ``(layout, log, kps, merged)``;
    ``merged`` is lazy (callers checkpoint it if they reuse it)."""
    base_dir = os.path.join(state_path, "changes")
    log_dir = os.path.join(state_path, "changes_log")
    layout = _read_layout(spark, state_path)
    log = spark.read.orc(log_dir).drop("batch_id")
    kps = [r.kp for r in log.select("kp").distinct().collect()]
    allrows = log
    if _orc_files_exist(spark, base_dir):
        allrows = allrows.unionByName(
            spark.read.orc(base_dir).filter(F.col("kp").isin(kps))
        )
    return layout, log, kps, allrows.distinct()


def fold_scd2_state(
    spark: SparkSession,
    state_path: str,
    compression: str = "zstd",
    lease: bool = True,
) -> dict:
    """Fold a :func:`stream_scd2_apply_orc` change log: full-row
    DISTINCT merge of (touched base buckets ∪ log) into ``changes/``,
    rebuild the ``history/`` SCD2 chains for exactly those buckets,
    then delete the log. Every crash prefix converges: distinct
    absorbs base/log duplicates, and the reader rebuilds log-touched
    buckets from base ∪ log until the log is gone. Layout parameters
    come from the state dir's markers."""
    from flink_orc_sink_spark.operators.relational import scd2_history

    if lease:
        with state_lease(
            spark, state_path, process_owner("maintenance:fold-scd2")
        ):
            return fold_scd2_state(
                spark, state_path, compression, lease=False
            )
    base_dir = os.path.join(state_path, "changes")
    log_dir = os.path.join(state_path, "changes_log")
    if not _orc_files_exist(spark, log_dir):
        return {"log_rows_folded": 0, "buckets_rewritten": 0}
    layout, log, kps, merged = _scd2_log_merge(spark, state_path)
    key_col, attr_col, ts_col = layout["kc"], layout["ac"], layout["tc"]
    order_cols = layout["oc"].split(",")
    n_log = log.count()
    merged = merged.localCheckpoint(eager=True)
    try:
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("compression", compression)
            .partitionBy("kp")
            .orc(base_dir)
        )
        (
            scd2_history(merged, [key_col], attr_col, ts_col, order_cols)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("compression", compression)
            .partitionBy("kp")
            .orc(os.path.join(state_path, "history"))
        )
    finally:
        release_local_checkpoint(merged)
    _hfs_rmtree(spark, log_dir)
    return {"log_rows_folded": n_log, "buckets_rewritten": len(kps)}


def read_scd2_history(spark: SparkSession, state_path: str) -> DataFrame:
    """Current SCD2 history of a :func:`stream_scd2_apply_orc` state
    dir — merge-on-read: the materialized ``history/`` covers every
    bucket as of the last fold; buckets touched by the unfolded
    change log get their chains rebuilt from DISTINCT(base ∪ log) at
    read time."""
    from flink_orc_sink_spark.operators.relational import scd2_history

    hist_dir = os.path.join(state_path, "history")
    log_dir = os.path.join(state_path, "changes_log")
    if not _orc_files_exist(spark, log_dir):
        return spark.read.orc(hist_dir)
    layout, _log, kps, merged = _scd2_log_merge(spark, state_path)
    key_col, attr_col, ts_col = layout["kc"], layout["ac"], layout["tc"]
    order_cols = layout["oc"].split(",")
    fresh = scd2_history(merged, [key_col], attr_col, ts_col, order_cols)
    if _orc_files_exist(spark, hist_dir):
        return (
            spark.read.orc(hist_dir)
            .filter(~F.col("kp").isin(kps))
            .unionByName(fresh)
        )
    return fresh


def _record_layout(spark: SparkSession, state_path: str, **kv) -> None:
    """Persist immutable layout parameters of a retract state dir as
    marker DIRECTORY NAMES (``layout/<k>=<v>``) — the same atomic
    ``mkdirs`` encoding as the replay horizon. Written once on the
    first batch; maintenance ops (fold, cleanup) read them back so an
    external cleanup never needs the sink's constructor arguments.

    REFUSES a conflicting re-record: the layout params decide how the
    base buckets were HASHED, so a sink restarted with different
    constructor args (e.g. ``n_key_partitions`` 16 → 32) against
    existing state would prune image lookups with the wrong modulus —
    phantom absent pre-images, wrong deltas, no error anywhere. A
    second marker for the same key with a different value must fail
    loudly instead of letting ``_read_layout`` keep an arbitrary one."""
    existing = _read_layout(spark, state_path)
    for k, v in kv.items():
        if k in existing and existing[k] != str(v):
            raise ValueError(
                f"retract state layout conflict at {state_path}: "
                f"{k}={existing[k]} recorded, {k}={v} requested — the "
                f"state was built with different layout parameters; "
                f"restart the sink with the recorded values or fold "
                f"into a fresh state dir"
            )
        _hfs_mkdirs(
            spark, os.path.join(state_path, "layout", f"{k}={v}")
        )


def _read_layout(spark: SparkSession, state_path: str) -> dict:
    out: dict = {}
    for name in _hfs_list_names(
        spark, os.path.join(state_path, "layout")
    ):
        if "=" in name:
            k, v = name.split("=", 1)
            out[k] = v
    return out


def _latest_per_key(df: DataFrame, key_cols: list[str], order_desc):
    """Latest row per key under a strict total order — THE resolve
    primitive of the delta-log state: identical duplicate rows (a
    crash window between a fold's base write and its log delete) are
    absorbed because row_number keeps exactly one of them."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(*order_desc)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _should_fold(
    spark: SparkSession, base_dir: str, log_dir: str, fold_ratio: float
) -> bool:
    """LSM size-ratio fold trigger: fold when the delta log outgrows
    ``max(FOLD_MIN_BYTES, fold_ratio x base bytes)``. Two
    getContentSummary calls — no data files are read to decide."""
    log_bytes = _hfs_dir_size(spark, log_dir)
    if log_bytes == 0:
        return False
    base_bytes = _hfs_dir_size(spark, base_dir)
    return log_bytes >= max(FOLD_MIN_BYTES, fold_ratio * base_bytes)


def fold_retract_state(
    spark: SparkSession,
    state_path: str,
    key_col: str | None = None,
    order_cols: list[str] | tuple | None = None,
    compression: str = "zstd",
    lease: bool = True,
) -> dict:
    """Fold a :func:`stream_retract_agg_orc` delta log into its base:
    latest-per-key over (changed base buckets ∪ log), dynamic
    overwrite of exactly the changed ``kp`` partitions, then delete
    the folded log partitions. Idempotent in every crash window — a
    partially-folded state resolves identically because the log rows
    are still present and latest-per-key absorbs the duplicates; a
    partially-deleted log leaves only already-folded rows behind.

    ``key_col``/``order_cols`` default to the layout markers the sink
    recorded on its first batch, so external maintenance needs only
    the state path. Returns ``{"log_rows_folded": n,
    "buckets_rewritten": k}``."""
    if lease:
        with state_lease(
            spark, state_path, process_owner("maintenance:fold-retract")
        ):
            return fold_retract_state(
                spark, state_path, key_col, order_cols, compression,
                lease=False,
            )
    layout = _read_layout(spark, state_path)
    key_col = key_col or layout.get("kc")
    if order_cols is None:
        order_cols = tuple(layout["oc"].split(",")) if "oc" in layout else ("seq",)
    if isinstance(order_cols, str):
        order_cols = (order_cols,)
    base_dir = os.path.join(state_path, "state")
    log_dir = os.path.join(state_path, "state_log")
    if not _orc_files_exist(spark, log_dir):
        return {"log_rows_folded": 0, "buckets_rewritten": 0}
    if key_col is None:
        raise ValueError(
            f"fold_retract_state({state_path!r}): no key_col given and "
            f"no layout marker recorded — cannot resolve latest-per-key"
        )
    order_desc = [F.col(c).desc() for c in order_cols]
    log = spark.read.orc(log_dir).drop("batch_id")
    kps = [r.kp for r in log.select("kp").distinct().collect()]
    allrows = log
    if _orc_files_exist(spark, base_dir):
        allrows = allrows.unionByName(
            spark.read.orc(base_dir).filter(F.col("kp").isin(kps))
        )
    n_log = log.count()
    merged = _latest_per_key(
        allrows, [key_col], order_desc
    ).localCheckpoint(eager=True)
    try:
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("compression", compression)
            .partitionBy("kp")
            .orc(base_dir)
        )
    finally:
        release_local_checkpoint(merged)
    # folded: the log rows are now (at latest-per-key) in the base
    _hfs_rmtree(spark, log_dir)
    return {"log_rows_folded": n_log, "buckets_rewritten": len(kps)}


def _read_committed_log(spark: SparkSession, log_dir: str) -> DataFrame:
    """The committed ``batch_id=*`` partitions of a delta log, without
    the partition column. Listing them by name keeps a writer's
    in-flight ``.spark-staging-*`` dir out of the read, which a reader
    may otherwise list mid-commit (its files vanish under the scan)."""
    parts = [
        os.path.join(log_dir, n)
        for n in _hfs_list_names(spark, log_dir)
        if n.startswith("batch_id=")
    ]
    return (
        spark.read.option("basePath", log_dir).orc(parts).drop("batch_id")
    )


def read_retract_state(
    spark: SparkSession, state_path: str
) -> DataFrame:
    """Resolved latest-per-key snapshot of a
    :func:`stream_retract_agg_orc` state dir — base ⊕ unfolded delta
    log, retained ``op='D'`` tombstones included (what a fold would
    materialize). Key/order columns come from the layout markers."""
    base_dir = os.path.join(state_path, "state")
    log_dir = os.path.join(state_path, "state_log")
    if not _orc_files_exist(spark, log_dir):
        return spark.read.orc(base_dir)
    layout = _read_layout(spark, state_path)
    key_col = layout["kc"]
    order_desc = [
        F.col(c).desc() for c in layout.get("oc", "seq").split(",")
    ]
    rows = _read_committed_log(spark, log_dir)
    if _orc_files_exist(spark, base_dir):
        rows = rows.unionByName(spark.read.orc(base_dir))
    return _latest_per_key(rows, [key_col], order_desc)


def read_retract_pk_state(
    spark: SparkSession, state_path: str
) -> DataFrame:
    """Resolved latest-per-(side,pk) snapshot of a
    :func:`stream_retract_join_orc` pk layer — base ⊕ unfolded delta
    log, tombstones included."""
    base_dir = os.path.join(state_path, "pk_state")
    log_dir = os.path.join(state_path, "pk_log")
    if not _orc_files_exist(spark, log_dir):
        return spark.read.orc(base_dir)
    rows = _read_committed_log(spark, log_dir)
    if _orc_files_exist(spark, base_dir):
        rows = rows.unionByName(spark.read.orc(base_dir))
    return _latest_per_key(rows, ["side", "pk"], _rj_order())


def stream_retract_agg_orc(
    changes: DataFrame,
    state_path: str,
    checkpoint: str,
    key_col: str,
    group_col: str,
    val_col: str,
    order_cols: list[str],
    n_key_partitions: int = 16,
    trigger: dict | None = None,
    compression: str = "zstd",
    cleanup_every_n_batches: int | None = None,
    horizon_fn=None,
    fold_ratio: float = 0.25,
) -> StreamingQuery:
    """RETRACTION-correct streaming aggregation over a CDC feed — the
    Flink "dynamic table → retract stream" pattern (the ecosystem the
    reference sink serves) on the micro-batch runtime: maintain
    per-group SUM/COUNT of each key's LATEST value while updates
    retract the key's previous contribution (including moving it
    between groups) and delete tombstones retract it entirely.

    State is an LSM pair (round 9 — this removed the only
    data-shape-dependent scale cliff):

    - ``state/`` — the BASE: latest-per-key rows, ``kp``-partitioned
      (``kp = hash(key) % n_key_partitions``), rewritten only by
      FOLDS;
    - ``state_log/`` — the DELTA LOG: each batch's raw rows appended
      under a ``batch_id`` partition (dynamic overwrite, so a replayed
      batch rewrites its own partition instead of duplicating).

    Per batch:

    1. resolve the batch keys' PRE-images — latest-per-key over
       (base buckets the batch touches, semi-joined to the batch's
       keys) ∪ (log rows below this batch id, same semi-join). A
       read-only, partition-pruned lookup: no shuffle of state, no
       rewrite;
    2. emit per-group DELTA rows = (new contribution − old
       contribution) for the batch's keys only: +``(val, 1)`` into
       the key's new group, −``(val, 1)`` out of its old one — into a
       ``batch_id`` partition of ``agg_deltas`` (marker-guarded). No
       group is ever rescanned;
    3. APPEND the batch to the log — the only state write, O(batch);
    4. when the log outgrows ``max(64 MB, fold_ratio × base)``, FOLD
       it into the base (:func:`fold_retract_state`): latest-per-key
       over (changed buckets ∪ log), rewrite exactly those buckets,
       drop the log. Amortized fold cost is O(batch / fold_ratio)
       rows per batch — state-size-independent.

    UNDER UNIFORMLY-RANDOM KEY CHURN — the round-8 degenerate case,
    where every batch touches every bucket and the old merge-on-write
    design paid a full state read+shuffle+rewrite per batch — the
    per-batch cost is now a map-side pruned SCAN (the pre-image
    lookup) plus an O(batch) append; the full pass happens only at
    fold cadence. The probe
    (``tools/scale_probe_retract_join.py``) pins per-batch wall ~flat
    across a 20× state growth for uniform keys.

    The aggregate readback (:func:`read_retract_agg`) sums the delta
    partitions — O(batches × groups) rows, corpus-size-independent.

    Crash-replay: the pre-image resolve reads ONLY ``batch_id <
    current`` log partitions and the base, both of which this batch
    never mutates (the log append is the last step; folds are
    idempotent) — so a replayed batch recomputes byte-identical
    deltas even without its marker, and the marker is purely a
    work-skip. Every crash window converges: delta write and log
    append are each idempotent per ``batch_id``, and a crash mid-fold
    leaves base∪log resolving identically (duplicates absorbed by
    latest-per-key).

    Tombstone retention: ``op='D'`` rows are KEPT (in base or log) —
    they mask a replayed pre-delete update (an old ``U`` with a lower
    seq re-delivered by a feed replay would otherwise win the
    latest-per-key resolve and resurrect the key). Age them out with
    :func:`cleanup_retract_state` once the source's replay horizon
    has passed (the recorded horizon is also enforced at ingest).
    With ``cleanup_every_n_batches`` + ``horizon_fn`` set that
    state-TTL pass runs on the sink's own cadence, under the batch's
    lease.

    Every micro-batch runs under the ``state_path`` single-writer
    LEASE (``lease.py``), owner-keyed to this checkpoint: a restarted
    stream reclaims instantly, while an external maintenance op
    holding the lease makes the batch fail LOUDLY instead of
    interleaving."""
    order_desc = [F.col(c).desc() for c in order_cols]
    lease_owner = f"sink:{checkpoint}"
    # per-stream-instance caches of immutable/owned state-dir facts
    # (layout is write-once; the horizon only moves under this very
    # lease — the sink's own cadence cleanup below invalidates it)
    cache: dict = {}

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        with state_lease(spark, state_path, lease_owner):
            _apply(batch_df, batch_id)
            if (
                cleanup_every_n_batches
                and horizon_fn is not None
                and (batch_id + 1) % cleanup_every_n_batches == 0
            ):
                cleanup_retract_state(
                    spark,
                    state_path,
                    int(horizon_fn()),
                    order_cols,
                    compression,
                    lease=False,  # already held by this batch
                )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        base_dir = os.path.join(state_path, "state")
        log_dir = os.path.join(state_path, "state_log")
        # re-read EVERY batch (one listStatus, no Spark job): an
        # external cleanup_retract_state between triggers moves the
        # horizon, and the docstring contract is that the sink
        # enforces the recorded horizon on every subsequent batch —
        # a cached value would admit below-horizon replays that can
        # resurrect cleaned-up keys.
        horizon = _read_replay_horizon(spark, state_path)
        if horizon is not None:
            # rows older than the cleanup horizon can only be replays
            # of already-retired history; admitting one could win the
            # latest-per-key resolve against a cleaned-up tombstone.
            # NULL-safe: cleanup_retract_state deliberately KEEPS
            # NULL-order rows (coalesce'd negation), so the guard must
            # admit them too — a bare >= would silently drop them
            batch_df = batch_df.filter(
                F.coalesce(
                    F.col(order_cols[0]) >= F.lit(horizon), F.lit(True)
                )
            )
        if "layout" not in cache:
            _record_layout(
                spark,
                state_path,
                kc=key_col,
                oc=",".join(order_cols),
                nkp=n_key_partitions,
            )
            cache["layout"] = True
        ch = batch_df.withColumn(
            "kp", F.pmod(F.hash(F.col(key_col)), F.lit(n_key_partitions))
        ).localCheckpoint(eager=True)  # read for kps, deltas, and log
        try:
            marker = os.path.join(
                state_path, "applied", f"batch_{batch_id}"
            )
            if not _hfs_exists(spark, marker):
                bkeys = ch.select(key_col).distinct()
                # pre-images of the batch's keys: read-only pruned
                # lookup over base ∪ log[< this batch] — never the
                # whole state, never a rewrite
                cand = None
                if _orc_files_exist(spark, base_dir):
                    kps = [
                        r.kp for r in ch.select("kp").distinct().collect()
                    ]
                    cand = (
                        spark.read.orc(base_dir)
                        .filter(F.col("kp").isin(kps))
                        .join(bkeys, key_col, "left_semi")
                    )
                if _orc_files_exist(spark, log_dir):
                    lg = (
                        spark.read.orc(log_dir)
                        .filter(F.col("batch_id") < batch_id)
                        .drop("batch_id")
                        .join(bkeys, key_col, "left_semi")
                    )
                    cand = lg if cand is None else cand.unionByName(lg)
                if cand is not None:
                    # consumed by BOTH the pre- and post-image resolve:
                    # materialize the (small, semi-joined) lookup once
                    cand = cand.localCheckpoint(eager=True)
                try:
                    cur = (
                        _latest_per_key(cand, [key_col], order_desc)
                        if cand is not None
                        else None
                    )
                    merged = _latest_per_key(
                        cand.unionByName(ch) if cand is not None else ch,
                        [key_col],
                        order_desc,
                    )

                    def contrib(df: DataFrame, sign: int) -> DataFrame:
                        live = F.col("op") == "U"
                        return df.select(
                            F.col(group_col).alias("grp"),
                            F.when(live, F.col(val_col) * sign)
                            .otherwise(F.lit(0))
                            .cast("long")
                            .alias("d_sum"),
                            F.when(live, F.lit(sign))
                            .otherwise(F.lit(0))
                            .cast("long")
                            .alias("d_count"),
                        )

                    deltas = contrib(merged, 1)
                    if cur is not None:
                        deltas = deltas.unionByName(contrib(cur, -1))
                    (
                        deltas.groupBy("grp")
                        .agg(
                            F.sum("d_sum").alias("d_sum"),
                            F.sum("d_count").alias("d_count"),
                        )
                        .withColumn("batch_id", F.lit(batch_id))
                        .write.mode("overwrite")
                        .option("partitionOverwriteMode", "dynamic")
                        .option("compression", compression)
                        .partitionBy("batch_id")
                        .orc(os.path.join(state_path, "agg_deltas"))
                    )
                finally:
                    # release on the failure path too — a retrying
                    # stream must not leak one block set per attempt
                    if cand is not None:
                        release_local_checkpoint(cand)
                _hfs_mkdirs(spark, marker)
            # the ONLY per-batch state write: append to the delta log
            # (idempotent — a replay rewrites its own partition)
            (
                ch.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .option("compression", compression)
                .partitionBy("batch_id")
                .orc(log_dir)
            )
        finally:
            release_local_checkpoint(ch)
        if _should_fold(spark, base_dir, log_dir, fold_ratio):
            fold_retract_state(
                spark, state_path, key_col, order_cols, compression,
                lease=False,  # this batch already holds it
            )

    writer = changes.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def read_retract_agg(spark: SparkSession, state_path: str) -> DataFrame:
    """Current per-group aggregate of a :func:`stream_retract_agg_orc`
    table: sum the additive delta partitions. Groups whose live-key
    count nets to zero (fully deleted or fully moved away) vanish,
    exactly as a from-scratch aggregate would omit them."""
    return (
        spark.read.orc(os.path.join(state_path, "agg_deltas"))
        .groupBy("grp")
        .agg(
            F.sum("d_sum").alias("sum_val"),
            F.sum("d_count").alias("n_keys"),
        )
        .filter(F.col("n_keys") > 0)
    )


def _record_replay_horizon(
    spark: SparkSession, state_path: str, horizon: int
) -> None:
    """Record ``horizon`` as a marker dir and prune the markers it
    supersedes (only the max matters — monotone — and every
    micro-batch lists this directory, so letting one marker per
    cleanup accumulate forever would grow per-batch list cost with
    deployment age)."""
    hdir = os.path.join(state_path, "replay_horizon")
    _hfs_mkdirs(spark, os.path.join(hdir, f"h={horizon}"))
    for name in _hfs_list_names(spark, hdir):
        if name.startswith("h=") and int(name[2:]) < horizon:
            _hfs_rmtree(spark, os.path.join(hdir, name))


def _read_replay_horizon(spark: SparkSession, state_path: str):
    """Current replay horizon of a retract state dir, or None. The
    horizon is encoded in MARKER DIRECTORY NAMES (``replay_horizon/
    h=<value>``) so recording it is a single atomic ``mkdirs`` on any
    Hadoop filesystem — no read-modify-write file, no partial-content
    crash window; reading it back is one ``listStatus``. Monotone:
    the max marker wins."""
    names = _hfs_list_names(
        spark, os.path.join(state_path, "replay_horizon")
    )
    vals = [int(n[2:]) for n in names if n.startswith("h=")]
    return max(vals) if vals else None


def cleanup_retract_state(
    spark: SparkSession,
    state_path: str,
    horizon: int,
    order_cols: list[str] | tuple = ("seq",),
    compression: str = "zstd",
    lease: bool = True,
) -> dict:
    """Horizon-bounded tombstone cleanup for a
    :func:`stream_retract_agg_orc` state dir — the state-TTL pass the
    retention contract in that docstring promises: physically drop
    ``op='D'`` rows whose ``order_cols[0]`` is below ``horizon``, the
    caller's guarantee that the source can no longer replay anything
    older (Kafka retention is the usual horizon). Without this, a
    delete-heavy feed grows the key state with every key ever deleted.

    Crash-safe ordering: the horizon marker is recorded BEFORE the
    rewrite. A crash in between leaves the tombstones in place
    (harmless — masking still works, the next cleanup re-drops them);
    the reverse order would open a window where the tombstone is gone
    but below-horizon replays are still admitted. The sink enforces
    the recorded horizon on every subsequent batch, so a pre-delete
    update replayed after cleanup is dropped at ingest instead of
    resurrecting its key.

    Partition-parallel and pruned: only the ``kp`` buckets that
    actually hold expired tombstones are rewritten (dynamic partition
    overwrite; a bucket left EMPTY by the rewrite has its directory
    dropped — the ``_overwrite_buckets`` contract). Cost is O(touched
    buckets × bucket size), never a full-state rewrite when deletes
    cluster. SINGLE-WRITER like ``compact_index`` — and since round 8
    ENFORCED: the run takes the ``state_path`` lease (``lease.py``)
    and fails loudly with ``LeaseHeldError`` if the sink (or another
    maintenance op) holds it. Schedule between triggers, while the
    stream is stopped — or let the sink run it itself on its own
    cadence (``cleanup_every_n_batches``), which passes ``lease=False``
    because the batch already holds the lease.

    Pass the SAME ``order_cols`` the sink was started with: the sink
    enforces the recorded horizon against ``order_cols[0]`` on every
    batch, so a cleanup keyed to any other column would record the
    horizon in one column's units and enforce it in another — the
    replayed-row guard would silently not guard.

    Returns ``{"tombstones_dropped": n, "buckets_rewritten": k}``.
    """
    if isinstance(order_cols, str):  # tolerate the scalar form
        order_cols = (order_cols,)
    if lease:
        with state_lease(
            spark,
            state_path,
            process_owner("maintenance:cleanup-retract"),
        ):
            return cleanup_retract_state(
                spark,
                state_path,
                horizon,
                order_cols,
                compression,
                lease=False,
            )
    # coerce FIRST so the drop predicate and the recorded marker use
    # the identical value — a fractional horizon would otherwise drop
    # tombstones up to h while the ingest guard admits [int(h), h)
    horizon = int(horizon)
    state_dir = os.path.join(state_path, "state")
    _record_replay_horizon(spark, state_path, horizon)
    # fold any outstanding delta log first so every expired tombstone
    # sits in the base the pruned rewrite below operates on
    fold_retract_state(
        spark, state_path, None, order_cols, compression, lease=False
    )
    if not _orc_files_exist(spark, state_dir):
        return {"tombstones_dropped": 0, "buckets_rewritten": 0}
    st = spark.read.orc(state_dir)
    expired = (F.col("op") == "D") & (
        F.col(order_cols[0]) < F.lit(horizon)
    )
    # one scan yields both the touched buckets and the drop count
    # (bounded by n_key_partitions rows)
    per_bucket = (
        st.filter(expired).groupBy("kp").count().collect()
    )
    if not per_bucket:
        return {"tombstones_dropped": 0, "buckets_rewritten": 0}
    touched = [(r.kp,) for r in per_bucket]
    n_doomed = sum(r["count"] for r in per_bucket)
    kps = [kp for (kp,) in touched]
    # null-safe negation: ~NULL is NULL and would silently DELETE any
    # row with a NULL op/order value from the rewritten buckets
    keep = (
        st.filter(F.col("kp").isin(kps))
        .filter(~F.coalesce(expired, F.lit(False)))
        .localCheckpoint(eager=True)
    )  # materialize BEFORE overwriting the directory being read
    try:
        _overwrite_buckets(keep, state_dir, ["kp"], touched, compression)
    finally:
        release_local_checkpoint(keep)
    return {
        "tombstones_dropped": n_doomed,
        "buckets_rewritten": len(touched),
    }


def cleanup_retract_join_state(
    spark: SparkSession,
    state_path: str,
    horizon: int,
    compression: str = "zstd",
    lease: bool = True,
) -> dict:
    """:func:`cleanup_retract_state`'s twin for a
    :func:`stream_retract_join_orc` state dir. Only the PK layer
    retains ``op='D'`` tombstones (the jk layer and the view hold
    live images only), so this drops expired ``D`` rows from the
    ``(side, kp)``-partitioned pk store — same crash-safe ordering
    (horizon marker recorded FIRST, then a partition-pruned
    rewrite), same ingest enforcement (the sink drops arriving rows
    with ``seq`` below the recorded horizon), same ENFORCED
    single-writer lease as the agg twin (``lease=False`` only from a
    caller already holding the ``state_path`` lease — the sink's own
    cadence does).

    Returns ``{"tombstones_dropped": n, "buckets_rewritten": k}``.
    """
    if lease:
        with state_lease(
            spark,
            state_path,
            process_owner("maintenance:cleanup-retract"),
        ):
            return cleanup_retract_join_state(
                spark, state_path, horizon, compression, lease=False
            )
    horizon = int(horizon)  # same coercion contract as the agg twin
    pk_dir = os.path.join(state_path, "pk_state")
    _record_replay_horizon(spark, state_path, horizon)
    # fold the outstanding delta log first so every expired tombstone
    # sits in the pk base the pruned rewrite below operates on
    fold_retract_join_state(spark, state_path, compression, lease=False)
    if not _orc_files_exist(spark, pk_dir):
        return {"tombstones_dropped": 0, "buckets_rewritten": 0}
    st = spark.read.orc(pk_dir)
    expired = (F.col("op") == "D") & (F.col("seq") < F.lit(horizon))
    # one scan yields both the touched (side, kp) pairs and the drop
    # count (bounded by 2 x n_key_partitions rows)
    per_bucket = (
        st.filter(expired).groupBy("side", "kp").count().collect()
    )
    if not per_bucket:
        return {"tombstones_dropped": 0, "buckets_rewritten": 0}
    touched = [(r.side, r.kp) for r in per_bucket]
    n_doomed = sum(r["count"] for r in per_bucket)
    keep = (
        st.filter(_pair_filter("kp", touched))
        .filter(~F.coalesce(expired, F.lit(False)))
        .localCheckpoint(eager=True)
    )
    try:
        _overwrite_buckets(
            keep, pk_dir, ["side", "kp"], touched, compression
        )
    finally:
        release_local_checkpoint(keep)
    return {
        "tombstones_dropped": n_doomed,
        "buckets_rewritten": len(touched),
    }


def _overwrite_buckets(
    df: DataFrame,
    path: str,
    part_cols: list[str],
    touched: list[tuple],
    compression: str,
) -> None:
    """Overwrite exactly the ``touched`` partitions of ``path`` with
    ``df`` (whose ``part_cols`` tuples are all in ``touched``).

    Dynamic partition overwrite only replaces partitions PRESENT in
    the frame — a touched bucket whose new content is EMPTY would
    silently keep its stale files. Finish the job by dropping the
    directories of touched-but-now-empty buckets (on a metastore
    table this is ``ALTER TABLE .. DROP PARTITION``; here a
    recursive Hadoop-FS delete, so remote state paths work). Both
    steps are idempotent, so a crash-replay that repeats them lands
    in the same state."""
    spark = df.sparkSession
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", compression)
        .partitionBy(*part_cols)
        .orc(path)
    )
    present = {
        tuple(r) for r in df.select(*part_cols).distinct().collect()
    }
    for vals in touched:
        if tuple(vals) not in present:
            sub = os.path.join(
                *(f"{c}={v}" for c, v in zip(part_cols, vals))
            )
            _hfs_rmtree(spark, os.path.join(path, sub))


def _pair_filter(bucket_col: str, pairs: list):
    """Exact ``(side, bucket)``-pair predicate (grouped per side into
    one ``isin``) — ONE definition shared by the retract-join sink's
    partition-pruned reads and the pk-layer tombstone cleanup."""
    by_side: dict = {}
    for s, b in pairs:
        by_side.setdefault(s, []).append(b)
    cond = F.lit(False)
    for s, bs in by_side.items():
        cond = cond | (
            (F.col("side") == s) & F.col(bucket_col).isin(bs)
        )
    return cond


VIEW_SCHEMA = (
    "l_pk long, jk long, l_val long, r_pk long, r_attr string, jb int"
)


def _rj_bucket_join(sides: DataFrame, how: str) -> DataFrame:
    """The per-bucket join shape shared by the reader, the fold and
    the per-batch aggregate diff: live L rows x live R rows within
    the SAME ``jb`` bucket, selected into the view schema. ``sides``
    holds both sides' live images with a ``jb`` column."""
    lstate = sides.filter(F.col("side") == "L").select(
        F.col("pk").alias("l_pk"),
        "jk",
        F.col("val").alias("l_val"),
        "jb",
    )
    rstate = sides.filter(F.col("side") == "R").select(
        F.col("pk").alias("r_pk"),
        F.col("jk").alias("r_jk"),
        F.col("attr").alias("r_attr"),
        F.col("jb").alias("r_jb"),
    )
    # ``how="left"`` buys OUTER-join IVM — the textbook-hard case (a
    # newly-arriving right partner must RETRACT the left row's
    # null-extended image, a disappearing one must re-extend it) —
    # for free: affected buckets are recomputed from both sides'
    # current state, so null-extension flips fall out of the
    # recompute instead of needing bookkeeping deltas.
    return lstate.join(
        rstate,
        (lstate.jk == rstate.r_jk) & (lstate.jb == rstate.r_jb),
        how=how,
    ).select(
        "l_pk",
        lstate.jk.alias("jk"),
        "l_val",
        "r_pk",
        "r_attr",
        lstate.jb.alias("jb"),
    )


def _rj_order():
    # built lazily: module import must not require a live SparkContext
    return [F.col("seq").desc()]


def _rj_resolve_images(
    spark: SparkSession,
    state_path: str,
    pks: DataFrame,
    n_key_partitions: int,
    upto_batch: int | None = None,
):
    """Rows (all versions) of the given ``(side, pk)`` keys across
    pk base ∪ pk log (optionally only log batches below
    ``upto_batch``) — a read-only, partition-pruned lookup. Resolve
    with :func:`_latest_per_key` afterwards. Returns None when no
    state exists yet."""
    base_dir = os.path.join(state_path, "pk_state")
    log_dir = os.path.join(state_path, "pk_log")
    cand = None
    if _orc_files_exist(spark, base_dir):
        kpairs = [
            tuple(r)
            for r in pks.select(
                "side",
                F.pmod(F.hash(F.col("pk")), F.lit(n_key_partitions))
                .alias("kp"),
            )
            .distinct()
            .collect()
        ]
        if kpairs:
            cand = (
                spark.read.orc(base_dir)
                .filter(_pair_filter("kp", kpairs))
                .join(pks, ["side", "pk"], "left_semi")
            )
    if _orc_files_exist(spark, log_dir):
        lg = spark.read.orc(log_dir)
        if upto_batch is not None:
            lg = lg.filter(F.col("batch_id") < upto_batch)
        lg = lg.drop("batch_id").join(pks, ["side", "pk"], "left_semi")
        cand = lg if cand is None else cand.unionByName(lg)
    return cand


def _rj_layout(spark: SparkSession, state_path: str) -> dict:
    layout = _read_layout(spark, state_path)
    return {
        "nkp": int(layout.get("nkp", 16)),
        "njb": int(layout.get("njb", 16)),
        "how": layout.get("how", "inner"),
    }


def _rj_log_effect(
    spark: SparkSession,
    state_path: str,
    lay: dict,
    checkpoint_cand: bool = False,
):
    """Shared resolution of an unfolded delta log's effect on the jk
    layer — the byte-equivalence contract between the MOR reader
    (:func:`read_retract_join_view`) and :func:`fold_retract_join_state`:
    both must answer from the SAME ``(aff, sides)`` or a fold would
    materialize a view the reader didn't answer. Returns
    ``(log, logpks, cand, aff, sides)``; with ``checkpoint_cand`` the
    caller owns releasing ``cand``."""
    jb_of = F.pmod(F.hash(F.col("jk")), F.lit(lay["njb"]))
    log = spark.read.orc(os.path.join(state_path, "pk_log")).drop(
        "batch_id"
    )
    logpks = log.select("side", "pk").distinct()
    cand = _rj_resolve_images(
        spark, state_path, logpks, lay["nkp"]
    )  # = base rows of logged pks ∪ all log rows
    if checkpoint_cand:
        cand = cand.localCheckpoint(eager=True)
    try:
        aff = sorted(
            r.jb
            for r in cand.select(jb_of.alias("jb")).distinct().collect()
        )
        resolved = (
            _latest_per_key(cand, ["side", "pk"], _rj_order())
            .filter(F.col("op") == "U")
            .withColumn("jb", jb_of)
            .select("side", "pk", "jk", "seq", "op", "val", "attr", "jb")
        )
        jk_dir = os.path.join(state_path, "jk_state")
        if _orc_files_exist(spark, jk_dir):
            kept = (
                spark.read.orc(jk_dir)
                .filter(F.col("jb").isin(aff))
                .join(logpks, ["side", "pk"], "left_anti")
            )
            sides = kept.unionByName(resolved)
        else:
            sides = resolved
    except BaseException:
        # the caller's release-on-failure finally only starts after
        # this helper RETURNS — if the aff collect (a Spark job) or
        # plan construction dies here, the eager checkpoint blocks
        # would leak for the session's lifetime. Release and re-raise.
        # (Dataset.unpersist() silently NO-OPS on checkpoint blocks —
        # session.py:235 — so only the helper actually frees them.)
        if checkpoint_cand:
            try:
                release_local_checkpoint(cand)
            except Exception:
                pass
        raise
    return log, logpks, cand, aff, sides


def read_retract_join_view(
    spark: SparkSession, state_path: str
) -> DataFrame:
    """Snapshot of the maintained join view of a
    :func:`stream_retract_join_orc` state dir — MERGE-ON-READ, like
    any Hudi/Paimon MOR table: the materialized ``view/`` base covers
    every bucket as of the last FOLD; buckets affected by the
    unfolded delta log are recomputed from resolved pk state. With an
    empty log this is a plain read of ``view/``; right after a
    bootstrap load it is a full join of the resolved log. Affected
    buckets are found from the log rows' join keys PLUS the logged
    pks' base images (the only record of a moved pk's OLD bucket)."""
    lay = _rj_layout(spark, state_path)
    how = lay["how"]
    view_dir = os.path.join(state_path, "view")
    log_dir = os.path.join(state_path, "pk_log")
    have_view = _orc_files_exist(spark, view_dir)
    if not _orc_files_exist(spark, log_dir):
        if have_view:
            return spark.read.orc(view_dir)
        return spark.createDataFrame([], VIEW_SCHEMA)
    _log, _logpks, _cand, aff, sides = _rj_log_effect(
        spark, state_path, lay
    )
    view_aff = _rj_bucket_join(sides, how)
    if have_view:
        return (
            spark.read.orc(view_dir)
            .filter(~F.col("jb").isin(aff))
            .unionByName(view_aff)
        )
    return view_aff


def fold_retract_join_state(
    spark: SparkSession,
    state_path: str,
    compression: str = "zstd",
    lease: bool = True,
) -> dict:
    """Fold a :func:`stream_retract_join_orc` delta log: update the
    jk layer and materialized view for the log-affected join buckets,
    fold the pk log into the pk base (latest-per-pk, changed buckets
    only), then drop the log. WRITE ORDER IS THE CRASH CONTRACT —
    jk/view first (computed from the still-intact base ∪ log), pk
    base second, log delete last: after any prefix of the writes the
    merge-on-read resolution (base ∪ log with latest-per-pk, jk/view
    overridden per logged pk) still answers exactly, because the log
    is only deleted once everything it said is durably folded.
    Layout parameters come from the state dir's markers. Returns
    fold statistics."""
    if lease:
        with state_lease(
            spark, state_path, process_owner("maintenance:fold-retract")
        ):
            return fold_retract_join_state(
                spark, state_path, compression, lease=False
            )
    log_dir = os.path.join(state_path, "pk_log")
    if not _orc_files_exist(spark, log_dir):
        return {"log_rows_folded": 0, "jk_buckets": 0, "pk_buckets": 0}
    lay = _rj_layout(spark, state_path)
    how = lay["how"]
    base_dir = os.path.join(state_path, "pk_state")
    jk_dir = os.path.join(state_path, "jk_state")
    view_dir = os.path.join(state_path, "view")

    log, logpks, cand, aff, sides = _rj_log_effect(
        spark, state_path, lay, checkpoint_cand=True
    )
    try:
        # inside the try: this count is a full Spark job (reads
        # pk_log) — if it fails outside the release window, cand's
        # eager checkpoint blocks leak for the session lifetime
        n_log = log.count()
        sides = sides.localCheckpoint(eager=True)
        try:
            pairs = [(s, b) for s in ("L", "R") for b in aff]
            _overwrite_buckets(
                sides, jk_dir, ["side", "jb"], pairs, compression
            )
            view_aff = _rj_bucket_join(sides, how).localCheckpoint(
                eager=True
            )
            try:
                _overwrite_buckets(
                    view_aff,
                    view_dir,
                    ["jb"],
                    [(b,) for b in aff],
                    compression,
                )
            finally:
                release_local_checkpoint(view_aff)
        finally:
            release_local_checkpoint(sides)
        # pk base fold: latest-per-pk over (changed buckets ∪ log)
        changed = [
            tuple(r)
            for r in log.select(
                "side",
                F.pmod(F.hash(F.col("pk")), F.lit(lay["nkp"]))
                .alias("kp"),
            )
            .distinct()
            .collect()
        ]
        merged = _latest_per_key(cand, ["side", "pk"], _rj_order())
        # cand already includes every base row of the logged pks, and
        # unlogged pks' base rows are untouched — only logged pks'
        # rows change, so the dynamic overwrite below must re-emit
        # the UNLOGGED rows of the changed buckets too:
        if _orc_files_exist(spark, base_dir):
            untouched = (
                spark.read.orc(base_dir)
                .filter(_pair_filter("kp", changed))
                .join(logpks, ["side", "pk"], "left_anti")
            )
            merged = merged.unionByName(untouched)
        merged = merged.localCheckpoint(eager=True)
        try:
            (
                merged.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .option("compression", compression)
                .partitionBy("side", "kp")
                .orc(base_dir)
            )
        finally:
            release_local_checkpoint(merged)
    finally:
        release_local_checkpoint(cand)
    _hfs_rmtree(spark, log_dir)
    return {
        "log_rows_folded": n_log,
        "jk_buckets": len(aff),
        "pk_buckets": len(changed),
    }


def stream_retract_join_orc(
    changes: DataFrame,
    state_path: str,
    checkpoint: str,
    n_key_partitions: int = 16,
    n_join_buckets: int = 16,
    trigger: dict | None = None,
    compression: str = "zstd",
    agg_group_col: str | None = None,
    agg_val_col: str | None = None,
    how: str = "inner",
    cleanup_every_n_batches: int | None = None,
    horizon_fn=None,
    fold_ratio: float = 0.25,
) -> StreamingQuery:
    """RETRACTION-correct streaming JOIN over two CDC feeds — Flink's
    delta-join / incremental-view-maintenance pattern (dynamic table ⋈
    dynamic table → retract stream → upsert sink, the ecosystem the
    reference ORC sink serves, ``README.md:19-22``) on the micro-batch
    runtime. The maintained view is::

        SELECT l.*, r.*  FROM latest-live-L l JOIN latest-live-R r
        ON l.jk = r.jk

    where each side is a CDC feed of (pk, jk, seq, op) rows: latest
    ``seq`` per ``pk`` wins, ``op='D'`` is a delete tombstone, and —
    the hard case — an update may MOVE a row to a different join key,
    which must retract every joined row it produced under the OLD key.

    Input stream schema: ``side ('L'|'R'), pk, jk, seq, op,
    val (left payload), attr (right payload)``.

    STATE IS AN LSM TRIPLE (round 9 — this removed the only
    data-shape-dependent scale cliff, the full merge-on-write pass a
    uniformly-random-key batch used to pay):

    - ``pk_state/`` — pk BASE: latest-per-(side,pk) rows partitioned
      ``(side, kp)``; rewritten only by FOLDS;
    - ``pk_log/`` — the DELTA LOG: each batch appended under its
      ``batch_id`` partition (dynamic overwrite → replay-idempotent);
    - ``jk_state/`` + ``view/`` — the jk layer and materialized view,
      both AS OF THE LAST FOLD; between folds the log's effect on
      them is applied at read time (:func:`read_retract_join_view` —
      merge-on-read, the Hudi/Paimon MOR shape).

    Per batch (all reads partition-pruned and semi-joined; the ONLY
    state write is the O(batch) log append):

    1. resolve the batch pks' PRE- and POST-images over
       base ∪ log[< batch] ∪ batch — from which the RETRACTION
       STREAM (``deltas/batch_id=N``: pre-image → retract, post-image
       → add) is derived, marker-guarded;
    2. with ``agg_group_col`` set, land additive per-group aggregate
       deltas: the view diff of the batch-AFFECTED join buckets,
       computed from (jk layer ⊕ log overrides) old vs new — never a
       group rescan, never a view rewrite (marker-guarded,
       ``agg_deltas/batch_id=N``; readback :func:`read_retract_agg`);
    3. append the batch to ``pk_log``;
    4. FOLD when the log outgrows ``max(64 MB, fold_ratio × base)``
       (:func:`fold_retract_join_state`): jk/view updated for the
       log-affected buckets, pk base folded, log dropped — amortized
       O(batch / fold_ratio) rows per batch, state-size-independent.

    COST MODEL (measured, ``tools/scale_probe_retract_join.py``):
    clustered churn (the production CDC shape) reads only the key- and
    join-buckets the batch touches; UNIFORMLY-RANDOM churn — the
    round-8 degenerate case that used to pay a full
    read+shuffle+rewrite per batch — now pays a map-side pruned scan
    for the image lookups plus the O(batch) append, with the full
    pass deferred to fold cadence. Per-batch wall stays ~flat across
    a 20× state growth on BOTH key distributions.

    Crash-replay: the image resolves read only ``batch_id < current``
    log partitions and the base — neither is mutated before the log
    append, so a replayed batch recomputes byte-identical deltas with
    or without its marker; the log append and both delta writes are
    idempotent per ``batch_id``; folds converge from any crash prefix
    (the log is deleted last — see :func:`fold_retract_join_state`).
    A full feed replay through a fresh checkpoint against populated
    state also converges: every step is a pure function of
    authoritative (base ∪ log) state.

    Tombstone retention mirrors :func:`stream_retract_agg_orc`:
    ``op='D'`` rows are kept (base or log) to mask below-horizon
    replays; age them out with :func:`cleanup_retract_join_state`
    (which folds first), after which the sink also drops
    below-horizon arrivals at ingest.

    Lease + cadence: every micro-batch holds the ``state_path``
    single-writer lease (owner-keyed to the checkpoint — restart
    reclaims instantly, a concurrent maintenance op fails loudly),
    and with ``cleanup_every_n_batches`` + ``horizon_fn`` set the
    sink runs :func:`cleanup_retract_join_state` itself every Nth
    batch under that same lease."""
    lease_owner = f"sink:{checkpoint}"
    jb_of = F.pmod(F.hash(F.col("jk")), F.lit(n_join_buckets))
    live = F.col("op") == "U"
    cache: dict = {}

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        with state_lease(spark, state_path, lease_owner):
            _apply(batch_df, batch_id)
            if (
                cleanup_every_n_batches
                and horizon_fn is not None
                and (batch_id + 1) % cleanup_every_n_batches == 0
            ):
                cleanup_retract_join_state(
                    spark,
                    state_path,
                    int(horizon_fn()),
                    compression,
                    lease=False,  # already held by this batch
                )

    def _img_cols(df: DataFrame) -> DataFrame:
        return df.select(
            "side", "pk", "jk", "seq", "op", "val", "attr",
            jb_of.alias("jb"),
        )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        base_dir = os.path.join(state_path, "pk_state")
        log_dir = os.path.join(state_path, "pk_log")
        jk_dir = os.path.join(state_path, "jk_state")
        deltas_root = os.path.join(state_path, "deltas")

        # re-read EVERY batch (one listStatus, no Spark job): an
        # external cleanup_retract_state between triggers moves the
        # horizon, and the docstring contract is that the sink
        # enforces the recorded horizon on every subsequent batch —
        # a cached value would admit below-horizon replays that can
        # resurrect cleaned-up keys.
        horizon = _read_replay_horizon(spark, state_path)
        if horizon is not None:
            # same ingest guard as the retract-agg sink, NULL-safe
            batch_df = batch_df.filter(
                F.coalesce(F.col("seq") >= F.lit(horizon), F.lit(True))
            )
        if "layout" not in cache:
            _record_layout(
                spark,
                state_path,
                nkp=n_key_partitions,
                njb=n_join_buckets,
                how=how,
            )
            cache["layout"] = True

        ch = batch_df.withColumn(
            "kp", F.pmod(F.hash(F.col("pk")), F.lit(n_key_partitions))
        ).localCheckpoint(eager=True)
        try:
            marker = os.path.join(
                state_path, "applied", f"batch_{batch_id}"
            )
            marker2 = os.path.join(
                state_path, "agg_applied", f"batch_{batch_id}"
            )
            need_deltas = not _hfs_exists(spark, marker)
            need_agg = agg_group_col is not None and not _hfs_exists(
                spark, marker2
            )
            if need_deltas or need_agg:
                S = ch.select("side", "pk").distinct()
                # every eager checkpoint in this block materializes
                # INSIDE the try: a failure building any later image
                # must still release the earlier ones in the finally,
                # or a restarting stream leaks one block set per crash
                cand_S = pre_S = post_S = None
                try:
                    cand_S = _rj_resolve_images(
                        spark, state_path, S, n_key_partitions,
                        upto_batch=batch_id,
                    )
                    if cand_S is not None:
                        cand_S = cand_S.localCheckpoint(eager=True)
                    # the pre/post images are batch-pk-sized and
                    # consumed by up to FOUR downstream DAGs (the
                    # deltas write, the affected-bucket collect, and
                    # both sides of the aggregate diff): materialize
                    # each window ONCE instead of re-running the
                    # shuffle+sort subtree per consumer (measured on
                    # stream_retract_join_agg at sf0.1: 78 -> 68 Spark
                    # jobs, 21.3 -> 11.8 s same-session for the
                    # three-batch drain)
                    if cand_S is not None:
                        pre_S = _latest_per_key(
                            cand_S, ["side", "pk"], _rj_order()
                        ).localCheckpoint(eager=True)
                    post_S = _latest_per_key(
                        cand_S.unionByName(ch)
                        if cand_S is not None
                        else ch,
                        ["side", "pk"],
                        _rj_order(),
                    ).localCheckpoint(eager=True)
                    if need_deltas:
                        deltas = (
                            post_S.filter(live)
                            .drop("kp")
                            .withColumn("kind", F.lit("add"))
                        )
                        if pre_S is not None:
                            deltas = deltas.unionByName(
                                pre_S.filter(live)
                                .drop("kp")
                                .withColumn("kind", F.lit("retract"))
                            )
                        (
                            deltas.withColumn(
                                "batch_id", F.lit(batch_id)
                            )
                            .write.mode("overwrite")
                            .option("partitionOverwriteMode", "dynamic")
                            .option("compression", compression)
                            .partitionBy("batch_id")
                            .orc(deltas_root)
                        )
                        _hfs_mkdirs(spark, marker)
                    if need_agg:
                        self_aff = post_S.filter(live).select(
                            jb_of.alias("jb")
                        )
                        if pre_S is not None:
                            self_aff = self_aff.unionByName(
                                pre_S.filter(live).select(
                                    jb_of.alias("jb")
                                )
                            )
                        aff = sorted(
                            r.jb
                            for r in self_aff.distinct().collect()
                        )
                        if aff:
                            _agg_diff(
                                spark, ch, pre_S, post_S, aff,
                                batch_id, marker2,
                            )
                finally:
                    for img in (cand_S, pre_S, post_S):
                        if img is not None:
                            release_local_checkpoint(img)
            # the ONLY per-batch state write: the log append
            (
                ch.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .option("compression", compression)
                .partitionBy("batch_id")
                .orc(log_dir)
            )
        finally:
            # released before the fold below — the fold reads only
            # on-disk state, so holding the batch blocks through it
            # would be pure executor-storage pressure
            release_local_checkpoint(ch)
        if _should_fold(spark, base_dir, log_dir, fold_ratio):
            fold_retract_join_state(
                spark, state_path, compression, lease=False
            )

    def _agg_diff(
        spark: SparkSession,
        ch: DataFrame,
        pre_S: DataFrame | None,
        post_S: DataFrame,
        aff: list,
        batch_id: int,
        marker2: str,
    ) -> None:
        """Additive per-group aggregate deltas of batch ``batch_id``:
        view diff of the affected join buckets, OLD = (jk layer ⊕
        log[<batch] overrides), NEW = same ⊕ batch. Never rewrites
        state; reads are bucket-pruned and semi-joined."""
        log_dir = os.path.join(state_path, "pk_log")
        jk_dir = os.path.join(state_path, "jk_state")
        S = ch.select("side", "pk").distinct()
        # log pks that can override the jk layer inside the affected
        # buckets: any logged pk with a row whose jk lands there
        anti_pks = S
        imgs_P = None
        if _orc_files_exist(spark, log_dir):
            lg = (
                spark.read.orc(log_dir)
                .filter(F.col("batch_id") < batch_id)
                .drop("batch_id")
            )
            logpks = lg.select("side", "pk").distinct()
            anti_pks = logpks.unionByName(S).distinct()
            # pks that can contribute to the affected buckets and were
            # anti-joined out of the jk layer: a logged pk's RESOLVED
            # image is either a log row (covered by log rows whose jb
            # lands in aff) or still its base row — when every log row
            # for it is OLDER, e.g. a late out-of-order arrival — so
            # the re-add set must also cover base rows in aff whose pk
            # is logged. Pruning by log rows alone dropped the live
            # image of a folded pk whose only unfolded log rows hash
            # to other buckets, silently skewing the aggregate.
            in_aff = lg.filter(jb_of.isin(aff)).select("side", "pk")
            if _orc_files_exist(spark, jk_dir):
                in_aff = in_aff.unionByName(
                    spark.read.orc(jk_dir)
                    .filter(F.col("jb").isin(aff))
                    .join(logpks, ["side", "pk"], "left_semi")
                    .select("side", "pk")
                )
            P = in_aff.distinct().join(S, ["side", "pk"], "left_anti")
            cand_P = _rj_resolve_images(
                spark, state_path, P, n_key_partitions,
                upto_batch=batch_id,
            )
            if cand_P is not None:
                imgs_P = (
                    _latest_per_key(cand_P, ["side", "pk"], _rj_order())
                    .filter(live)
                    .filter(jb_of.isin(aff))
                )
        base_part = None
        if _orc_files_exist(spark, jk_dir):
            base_part = (
                spark.read.orc(jk_dir)
                .filter(F.col("jb").isin(aff))
                .join(anti_pks, ["side", "pk"], "left_anti")
            )

        def _side(images) -> DataFrame | None:
            parts = [
                p for p in (base_part, imgs_P) if p is not None
            ]
            if images is not None:
                parts.append(images)
            if not parts:
                return None
            out = None
            for p in parts:
                p = _img_cols(p) if "jb" not in p.columns else p
                out = p if out is None else out.unionByName(p)
            return out.filter(F.col("jb").isin(aff))

        old_imgs = (
            pre_S.filter(live).filter(jb_of.isin(aff))
            if pre_S is not None
            else None
        )
        new_imgs = post_S.filter(live).filter(jb_of.isin(aff))
        old_sides = _side(old_imgs)
        new_sides = _side(new_imgs)

        def gd(view_df: DataFrame, sign: int) -> DataFrame:
            return view_df.select(
                F.col(agg_group_col).alias("grp"),
                (F.coalesce(F.col(agg_val_col), F.lit(0)) * sign)
                .cast("long")
                .alias("d_sum"),
                F.lit(sign).cast("long").alias("d_count"),
            )

        dparts = gd(_rj_bucket_join(new_sides, how), 1)
        if old_sides is not None:
            dparts = dparts.unionByName(
                gd(_rj_bucket_join(old_sides, how), -1)
            )
        (
            dparts.groupBy("grp")
            .agg(
                F.sum("d_sum").alias("d_sum"),
                F.sum("d_count").alias("d_count"),
            )
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("compression", compression)
            .partitionBy("batch_id")
            .orc(os.path.join(state_path, "agg_deltas"))
        )
        _hfs_mkdirs(spark, marker2)

    writer = changes.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def stream_quarantine_orc(
    df: DataFrame,
    valid_path: str,
    quarantine_path: str,
    checkpoint: str,
    expectation,
    trigger: dict | None = None,
    compression: str = "zstd",
) -> StreamingQuery:
    """STREAMING validated ingestion with a dead-letter path — the
    ``foreachBatch`` composition of ``write_orc_validated``'s
    contract with batch-id-keyed idempotent writes: per micro-batch,
    rows satisfying ``expectation`` land under ``valid_path``, the
    rest UNCHANGED under ``quarantine_path`` (inspectable,
    replayable), each in its own ``batch_id=<id>`` partition so a
    crash-replayed batch rewrites instead of duplicating — on BOTH
    sides. NULL-expectation rows quarantine rather than vanish. The
    production DLQ shape: a bad record must never poison the table,
    stall the stream, nor disappear.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        staged = batch_df.localCheckpoint(eager=True)  # split reads it twice
        try:
            for target, pred in (
                (valid_path, expectation),
                (quarantine_path, ~F.coalesce(expectation, F.lit(False))),
            ):
                (
                    staged.filter(pred)
                    .withColumn("batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .option("compression", compression)
                    .partitionBy("batch_id")
                    .orc(target)
                )
        finally:
            # Checkpointed blocks otherwise linger until the JVM
            # ContextCleaner notices — on a long-running stream that
            # is unbounded executor storage growth, one batch per
            # trigger. Release them as soon as both writes land.
            release_local_checkpoint(staged)

    writer = df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def read_committed_orc(spark: SparkSession, path: str) -> DataFrame:
    """Read back ONLY committed files.

    Spark's ORC reader honors the ``_spark_metadata`` manifest when
    present, so uncommitted/abandoned part files are never visible —
    the reader-side half of exactly-once (the reference relies on the
    leading-``_`` Hive convention instead, ``README.md:9-13``).
    """
    return spark.read.orc(path)


def stream_from_files(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Replayable file source for deterministic streaming tests
    (SURVEY.md §7.3: socket sources aren't replayable; file sources
    are the test-friendly stand-in with identical sink semantics)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def csv_parse(lines: DataFrame, schema_ddl: str = "x INT, y INT") -> DataFrame:
    """The reference demo's map operator (P1): CSV line → typed row.

    ``OrcSinkTest.java:32-37`` splits on ',' and parses two ints into
    ``Row.of(x, y)``; here it's a single ``from_csv`` over the
    ``value`` column — JVM-side, codegen-friendly, and it handles
    quoting/nulls the hand-split never did.
    """
    return lines.select(
        F.from_csv(F.col("value"), schema_ddl).alias("r")
    ).select("r.*")


def demo_socket_to_orc(
    spark: SparkSession,
    host: str,
    port: int,
    out_path: str,
    checkpoint: str,
    trigger_seconds: int = 30,
) -> StreamingQuery:
    """End-to-end parity with the reference demo (``OrcSinkTest.java:
    16-40``): socket text source → CSV parse → exactly-once ORC sink,
    30 s commit cadence. Kept as a demo — tests use the replayable
    file-source path instead (SURVEY.md §7.3)."""
    lines = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
    rows = csv_parse(lines)
    return stream_write_orc(
        rows,
        out_path,
        checkpoint,
        trigger=({"processingTime": f"{trigger_seconds} seconds"}),
        query_name="demo_socket_to_orc",
    )


class WatermarkTracker(StreamingQueryListener):
    """Watermark observability replacing the reference's per-bucket
    gauge (``watermarkPerOrcBucketing``, ``RowOrcBucketingSink.java:86,
    196-198``): records the event-time watermark from every progress
    event, in UTC (no −8h display hack — SURVEY.md §2.3 T4).

    Usage::

        tracker = WatermarkTracker()
        spark.streams.addListener(tracker)
        ... run query ...
        tracker.last_watermark  # ISO-8601 UTC string or None
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.last_watermark: str | None = None
        self.history: list[tuple[str, str]] = []  # (query_id, watermark)

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        progress = event.progress
        wm = (progress.eventTime or {}).get("watermark")
        if wm:
            with self._lock:
                self.last_watermark = wm
                self.history.append((str(progress.id), wm))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass
