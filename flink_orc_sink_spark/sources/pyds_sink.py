"""Python DataSource V2 SINK with the reference's two-phase commit.

The reference sink's whole reason to exist is a hand-rolled
file-commit protocol: tasks write files nobody may read yet, and a
coordinator publishes them atomically at checkpoint time
(``RowOrcBucketingSink.java:153-177`` — in-process → in-pending →
committed renames, ``README.md:7-22``). Spark 4's Python DataSource
writer API exposes EXACTLY that contract as first-class hooks, so
this module re-expresses the protocol on it:

- executor tasks (``DataSourceArrowWriter.write``) stream their Arrow
  batches into ONE ORC file each under ``data/`` — written via
  pyarrow, invisible to readers (the directory is never listed);
- the driver's ``commit(messages)`` is ``notifyCheckpointComplete``:
  it publishes the task files as the next manifest version through
  ``flink_orc_sink_spark.commit``, never over an existing one (a
  writer that loses the race takes the next number) — readers see the
  whole batch of files or none of it. An overwrite is a version marked
  ``"overwrite"`` that readers start from, so older manifests vanish
  from view before they are deleted;
- ``abort(messages)`` is the reference's pending-file cleanup: the
  named files are unlinked; a crash that skips even abort leaves
  orphans that no manifest references — invisible, GC-able;
- the STREAMING form (``DataSourceStreamArrowWriter``) keys the
  manifest by ``batchId``: a crash-replayed micro-batch REWRITES its
  own manifest (the replay's fresh files replace the originals, which
  become unreferenced orphans) — idempotent exactly-once, the same
  mechanism as the engine's ``foreachBatch`` sinks but spoken through
  the official connector API.

``read_manifest_orc`` is the reader side of the contract: it unions
the visible manifests' file lists and reads ONLY those (an orphan
planted in ``data/`` must not surface — pytest-probed), exactly like
``read_committed_orc`` trusts ``_spark_metadata``.

Scale: one ORC file per writer task (size it upstream via
``repartition``), manifests are O(files) JSON — the same metadata
shape the engine's snapshot tables use at any corpus size.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)

from flink_orc_sink_spark import commit


@dataclass
class FileCommit(WriterCommitMessage):
    relpath: str | None
    n_rows: int


def _naive_ts_schema(schema):
    """Spark hands tz-aware (UTC-instant) timestamps; pyarrow would
    write them as ORC timestamp_instant, which Spark's reader maps to
    the unparseable "timestamp with local time zone". Store them
    tz-naive — the session runs UTC, so the instant is preserved,
    exactly how Spark's own ORC writer stores TIMESTAMP."""
    import pyarrow as pa

    fields = [
        f.with_type(pa.timestamp(f.type.unit))
        if pa.types.is_timestamp(f.type) and f.type.tz is not None
        else f
        for f in schema
    ]
    return pa.schema(fields)


def _write_task_file(path: str, iterator) -> FileCommit:
    import pyarrow as pa
    import pyarrow.orc as paorc

    # stream batch-by-batch: peak memory is O(one Arrow batch), not
    # O(task partition) — the writer opens lazily on the first
    # non-empty batch so empty tasks produce no file at all
    writer = None
    rel = None
    n_rows = 0
    try:
        for b in iterator:
            if not b.num_rows:
                continue
            schema = _naive_ts_schema(b.schema)
            if writer is None:
                os.makedirs(os.path.join(path, "data"), exist_ok=True)
                rel = os.path.join(
                    "data", f"task-{uuid.uuid4().hex}.orc"
                )
                writer = paorc.ORCWriter(
                    os.path.join(path, rel), compression="zstd"
                )
            writer.write(pa.Table.from_batches([b]).cast(schema))
            n_rows += b.num_rows
    finally:
        if writer is not None:
            writer.close()
    return FileCommit(rel, n_rows)


def _abort(path: str, messages) -> None:
    for m in messages:
        if m is not None and m.relpath:
            commit.delete(None, os.path.join(path, m.relpath))


def _manifests(path: str) -> str:
    return os.path.join(path, "manifests")


class _BatchWriter(DataSourceArrowWriter):
    def __init__(self, path: str, overwrite: bool):
        self.path = path
        self.overwrite = overwrite

    def write(self, iterator):
        return _write_task_file(self.path, iterator)

    def commit(self, messages):
        # runs in a Python worker with no JVM: commit's local branch
        files = [m.relpath for m in messages if m is not None and m.relpath]
        payload = {"files": files}
        if self.overwrite:
            payload["mode"] = "overwrite"
        mdir = _manifests(self.path)
        version = commit.commit_next(None, mdir, lambda parent: payload)
        if self.overwrite:
            for v in commit.versions(None, mdir):
                if v < version:
                    commit.delete(None, commit.manifest_path(mdir, v))

    def abort(self, messages):
        _abort(self.path, messages)


class _StreamWriter(DataSourceStreamArrowWriter):
    def __init__(self, path: str):
        self.path = path

    def write(self, iterator):
        return _write_task_file(self.path, iterator)

    def commit(self, messages, batchId: int):
        files = [m.relpath for m in messages if m is not None and m.relpath]
        # keyed by batch id: a crash-replayed batch REPLACES its own
        # manifest; the superseded files become invisible orphans
        commit.publish(
            None, _manifests(self.path), batchId, {"files": files},
            prefix="batch-", replace=True,
        )

    def abort(self, messages, batchId: int):
        _abort(self.path, messages)


class ManifestOrcSinkDataSource(DataSource):
    """``format("manifest_orc_py")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "manifest_orc_py"

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("manifest_orc_py requires a path")
        return path

    def writer(self, schema, overwrite: bool):
        return _BatchWriter(self._path(), overwrite)

    def streamWriter(self, schema, overwrite: bool):
        return _StreamWriter(self._path())


def register_sink(spark) -> None:
    spark.dataSource.register(ManifestOrcSinkDataSource)


def _live_files(spark, path: str) -> list[str]:
    """Files of the visible manifests: every streaming ``batch-N``, and
    the batch versions from the newest overwrite on. Foreign names in
    ``manifests/`` never match a version and are skipped."""
    mdir = _manifests(path)
    files: list[str] = []
    for b in commit.versions(spark, mdir, prefix="batch-"):
        files += commit.read_manifest(spark, mdir, b, prefix="batch-")["files"]
    for v in reversed(commit.versions(spark, mdir)):
        m = commit.read_manifest(spark, mdir, v)
        files += m["files"]
        if m.get("mode") == "overwrite":
            break
    return files


def read_manifest_orc(spark, path: str):
    """Committed-files-only reader (see :func:`_live_files`). Orphans
    under ``data/`` (crashed tasks, superseded replay files) are
    invisible because the data directory is never listed."""
    files = _live_files(spark, path)
    if not files:
        raise ValueError(f"no committed files under {path}")
    return spark.read.orc([os.path.join(path, f) for f in files])


def vacuum_manifest_orc(path: str, grace_seconds: float = 600.0) -> dict:
    """GC for the sink's documented failure contract: delete every
    ``data/`` file no visible manifest references — crashed tasks that
    never reached ``abort``, files superseded when a crash-replayed
    micro-batch rewrote its manifest, and files only an overwritten
    version named. Mirrors ``snapshot_expire``'s crash-safe ordering
    trivially: manifests are never touched, so a crash mid-vacuum just
    leaves fewer orphans for the next run. At 100 TB this is the same
    metadata-only driver job every manifest-committed table format
    schedules (Iceberg ``remove_orphan_files``). Returns counts.

    Concurrency contract: an IN-FLIGHT write has task files on disk
    before its manifest is published; an unguarded vacuum would
    delete them and the subsequent commit would publish a manifest
    pointing at missing files. ``grace_seconds`` (Iceberg's
    ``older_than`` analogue, default 10 min) skips any unreferenced
    file younger than the grace window, so a vacuum is safe alongside
    writers whose task-attempt lifetime is under the grace period.
    Pass ``grace_seconds=0`` only when the caller holds the same
    single-writer exclusivity ``compact_index`` requires."""
    live = set(_live_files(None, path))
    deleted = 0
    skipped_young = 0
    now = time.time()
    for rel, mtime in commit.list_files(None, os.path.join(path, "data")):
        rel = f"data/{rel}"
        if not rel.endswith(".orc") or rel in live:
            continue
        if now - mtime < grace_seconds:
            skipped_young += 1
            continue
        commit.delete(None, os.path.join(path, rel))
        deleted += 1
    return {
        "files_deleted": deleted,
        "files_retained": len(live),
        "files_skipped_young": skipped_young,
    }
