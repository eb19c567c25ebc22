"""Durable commits: the one module that knows how each filesystem
scheme makes a write atomic — the reference's promise
(``RowOrcBucketingSink.java:153-213``) that a file is visible only
once committed and a crash never loses or tears a table, for
everything the engine publishes itself (Spark's job commit and
``_spark_metadata`` cover what Spark writes).

- **Versioned manifests**: ``<prefix>NNNNNNNN.json`` files in a log
  directory, never overwritten; :func:`commit_next` re-reads the new
  parent and retries on the next number when it loses a race. Readers
  never parse a half-written manifest; a crash leaves a gap or an
  orphan temp file. Only manifests rewritten on replay by design (the
  streaming ``batch-N`` ones) publish with ``replace=True``.
- **A crash-safe directory swap**: :func:`swap_dir`, healed by
  :func:`recover_swap`.
- **Create-if-absent**, the lease's primitive (``lease.py``).

A local path (``file:`` URI, or scheme-less while the default
filesystem is local or no session runs) takes plain POSIX calls and
never the JVM: the Python DataSource sink commits from a Spark Python
worker, which has no JVM handle. Every other path goes through the
given (or active) session's Hadoop FileSystem.

Atomicity scope, per filesystem:

- **Local**: a no-clobber write goes to a temp file that is
  ``os.link``ed to the final name — kernel-arbitrated (the loser gets
  ``EEXIST``), and readers only ever see complete files. Hadoop's
  ``LocalFileSystem`` cannot do this: it decomposes
  ``create(overwrite=False)`` into exists-then-create, and its
  ``rename`` replaces an existing target.
- **HDFS**: temp file + ``rename``, which the namenode arbitrates and
  fails on an existing target — truly atomic.
- **Object stores (S3A etc.)**: no atomic create or rename at this API
  level (rename is copy + delete). A no-clobber write re-reads the
  target after its rename and fails unless its own bytes landed (last
  writer wins). That narrows the race to the read-back instant but
  cannot close it; there, prefer a natively conditional primitive (S3
  conditional PUT ``If-None-Match``, or DynamoDB-based locking as the
  S3A committers use).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

from flink_orc_sink_spark.session import hadoop_fs, hidden_name

# Schemes whose rename the server arbitrates, failing on an existing
# target; every other non-local scheme gets the read-back check.
_ATOMIC_RENAME = ("hdfs",)
_ATTEMPTS = 16  # lost races in a row before commit_next gives up
_SCHEME = re.compile(r"([A-Za-z][A-Za-z0-9+.-]*):")


class CommitConflictError(FileExistsError):
    """Another writer published the target first."""


def _resolve(spark, path: str):
    """``(posix_path, None)`` for a local path, else ``(None, spark)``
    with the session to reach the Hadoop FileSystem through. ``spark``
    may be None throughout this module: the active session is used."""
    m = _SCHEME.match(path)
    if m and m.group(1).lower() == "file":
        rest = path[m.end():]
        if rest.startswith("//"):  # file://[authority]/path
            rest = rest[rest.find("/", 2):] if "/" in rest[2:] else "/"
        return rest, None
    if spark is None:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.getActiveSession()
            or SparkSession._instantiatedSession
        )
    if not m and (spark is None or str(
        spark._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
    ).startswith("file:")):
        return path, None
    if spark is None:
        raise ValueError(f"{path!r}: a non-local commit needs a SparkSession")
    return None, spark


def _exists(spark, path: str) -> bool:
    local, spark = _resolve(spark, path)
    if local is not None:
        return os.path.exists(local)
    fs, p = hadoop_fs(spark, path)
    return fs.exists(p)


def _rename(spark, src: str, dst: str) -> None:
    local, hspark = _resolve(spark, src)
    if local is not None:
        os.rename(local, _resolve(spark, dst)[0])
        return
    fs, p = hadoop_fs(hspark, src)
    if not fs.rename(p, hadoop_fs(hspark, dst)[1]):
        raise IOError(f"rename {src} -> {dst} failed")


def _read(spark, path: str) -> bytes:
    local, spark = _resolve(spark, path)
    if local is not None:
        with open(local, "rb") as fh:
            return fh.read()
    fs, p = hadoop_fs(spark, path)
    ins = fs.open(p)
    try:
        return bytes(spark._jvm.org.apache.commons.io.IOUtils.toByteArray(ins))
    finally:
        ins.close()


def _put(spark, path: str, data: bytes, replace: bool = False) -> None:
    """Write ``data`` to a hidden temp sibling, then claim ``path``
    with it (no-clobber), or move it over ``path`` with ``replace``."""
    local, spark = _resolve(spark, path)
    head, sep, name = (local or path).rstrip("/").rpartition("/")
    tmp = f"{head}{sep}.{name}.{uuid.uuid4().hex}.tmp"
    if local is not None:
        os.makedirs(head or ".", exist_ok=True)
        with open(tmp, "xb") as fh:
            fh.write(data)
            fh.flush()
            os.fsync(fh.fileno())
        if replace:
            return os.replace(tmp, local)
        try:
            return os.link(tmp, local)
        except FileExistsError:
            raise CommitConflictError(f"{path} already exists") from None
        finally:
            os.unlink(tmp)
    fs, p = hadoop_fs(spark, path)
    t = hadoop_fs(spark, tmp)[1]
    out = fs.create(t, False)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    if replace:
        # a crash between delete and rename leaves the name absent,
        # never torn: fine for manifests a replay rewrites anyway
        fs.delete(p, False)
        return _rename(spark, tmp, path)
    try:
        won = fs.rename(t, p)
    except Exception:  # FileAlreadyExistsException on some stores
        won = False
    if not won:
        fs.delete(t, False)
        raise CommitConflictError(f"{path} already exists")
    if fs.getScheme() not in _ATOMIC_RENAME and _read(spark, path) != data:
        raise CommitConflictError(f"{path}: a concurrent writer won")


def read_text(spark, path: str) -> str:
    return _read(spark, path).decode("utf-8")


def create_if_absent(spark, path: str, data: bytes) -> None:
    """Write ``data`` to ``path`` only if nothing is there, else raise
    :class:`CommitConflictError`. Readers see all of ``data`` or no
    file."""
    _put(spark, path, data)


def delete(spark, path: str) -> None:
    """Delete a file or directory tree; a missing path is a no-op."""
    local, spark = _resolve(spark, path)
    if local is None:
        fs, p = hadoop_fs(spark, path)
        fs.delete(p, True)
    elif os.path.isdir(local):
        shutil.rmtree(local)
    else:
        # a Hadoop-written file's checksum goes with it, or a later
        # file of the same name would fail its checksum on read
        head, name = os.path.split(local)
        for f in (local, os.path.join(head, f".{name}.crc")):
            if os.path.lexists(f):
                os.unlink(f)


def list_files(spark, path: str) -> list[tuple[str, float]]:
    """``(relative path, mtime seconds)`` of the data files under
    ``path`` that Spark's reader would see — nothing under a ``_`` or
    ``.`` name (markers, checksums, ``_temporary``, in-flight
    ``.spark-staging-*``). Empty when ``path`` is missing."""
    local, spark = _resolve(spark, path)
    found = []
    if local is not None:
        base = local
        for d, _, names in os.walk(local):
            for f in (os.path.join(d, n) for n in names):
                try:
                    found.append((f, os.path.getmtime(f)))
                except FileNotFoundError:
                    pass  # removed since the walk listed it (an abort)
    else:
        fs, p = hadoop_fs(spark, path)
        if not fs.exists(p):
            return []
        base = fs.makeQualified(p).toString()
        it = fs.listFiles(p, True)
        while it.hasNext():
            st = it.next()
            found.append(
                (st.getPath().toString(), st.getModificationTime() / 1e3)
            )
    out = []
    for full, mtime in found:
        rel = full[len(base):].lstrip("/")
        if not any(hidden_name(n) for n in rel.split("/")):
            out.append((rel, mtime))
    return out


def manifest_path(log_dir: str, version: int, prefix: str = "v") -> str:
    return f"{log_dir.rstrip('/')}/{prefix}{version:08d}.json"


def versions(spark, log_dir: str, prefix: str = "v") -> list[int]:
    """Published versions, ascending. ``{8,}`` digits because ``:08d``
    is a minimum width; temp files and foreign names never match."""
    local, spark = _resolve(spark, log_dir)
    if local is not None:
        names = os.listdir(local) if os.path.isdir(local) else []
    else:
        fs, p = hadoop_fs(spark, log_dir)
        statuses = fs.listStatus(p) if fs.exists(p) else []
        names = [s.getPath().getName() for s in statuses]
    pat = re.compile(re.escape(prefix) + r"(\d{8,})\.json")
    return sorted(int(m.group(1)) for m in map(pat.fullmatch, names) if m)


def read_manifest(spark, log_dir: str, version: int, prefix="v") -> dict:
    return json.loads(_read(spark, manifest_path(log_dir, version, prefix)))


def publish(spark, log_dir, version, payload, prefix="v", replace=False):
    """Publish one manifest. Without ``replace``, an existing version
    is left untouched and :class:`CommitConflictError` raised."""
    path = manifest_path(log_dir, version, prefix)
    _put(spark, path, json.dumps(payload).encode(), replace)


def commit_next(spark, log_dir: str, build) -> int:
    """Publish ``build(parent)`` as version ``parent + 1`` (``parent``
    is the latest version, None for the first) and return it. After a
    lost race ``build`` runs again on the winner's version, so an
    append carries the winner's files forward instead of dropping
    them."""
    for _ in range(_ATTEMPTS):
        prior = versions(spark, log_dir)
        parent = prior[-1] if prior else None
        try:
            publish(spark, log_dir, (parent or 0) + 1, build(parent))
            return (parent or 0) + 1
        except CommitConflictError:
            continue
    raise CommitConflictError(f"{log_dir}: lost {_ATTEMPTS} version races")


def swap_dir(spark, live: str, pending: str) -> None:
    """Replace directory ``live`` by the COMPLETE directory
    ``pending``: rename live aside, rename pending in, delete the old
    copy. A crash at any step leaves a state :func:`recover_swap`
    finishes."""
    old = live.rstrip("/") + ".__old__"
    delete(spark, old)
    if _exists(spark, live):
        _rename(spark, live, old)
    _rename(spark, pending, live)
    delete(spark, old)


def recover_swap(spark, live: str, pending: str) -> None:
    """Finish a crashed :func:`swap_dir`: with no live directory, the
    pending copy is renamed in (or, failing that, the old one back);
    then a leftover old copy is deleted. A no-op in every other state,
    so safe before any use of ``live``."""
    old = live.rstrip("/") + ".__old__"
    if not _exists(spark, live):
        for src in (pending, old):
            if _exists(spark, src):
                _rename(spark, src, live)
                break
    if _exists(spark, live):
        delete(spark, old)
