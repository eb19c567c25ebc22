"""The durable-commit module (``flink_orc_sink_spark/commit.py``) and
every caller moved onto it: no-clobber manifests under concurrent
writers, the crash-safe directory swap, scheme-qualified paths, and a
static guard that keeps bespoke commit code out of the table code."""

from __future__ import annotations

import ast
import json
import os
import pathlib
import threading

import pytest
from pyspark.sql import functions as F

from flink_orc_sink_spark import commit

PKG = pathlib.Path(__file__).resolve().parent.parent / "flink_orc_sink_spark"


def test_publish_never_replaces_a_version(tmp_path):
    log = str(tmp_path / "log")
    commit.publish(None, log, 1, {"files": ["a"]})
    with pytest.raises(commit.CommitConflictError):
        commit.publish(None, log, 1, {"files": ["b"]})
    assert commit.read_manifest(None, log, 1) == {"files": ["a"]}
    # a replay-rewritten manifest is the one kind that may replace
    commit.publish(None, log, 7, {"n": 1}, prefix="batch-", replace=True)
    commit.publish(None, log, 7, {"n": 2}, prefix="batch-", replace=True)
    assert commit.read_manifest(None, log, 7, prefix="batch-") == {"n": 2}
    # no temp file is left behind, and foreign names never count
    (tmp_path / "log" / "version.json").write_text("{}")
    assert sorted(os.listdir(log)) == [
        "batch-00000007.json", "v00000001.json", "version.json"
    ]
    assert commit.versions(None, log) == [1]
    assert commit.versions(None, log, prefix="batch-") == [7]


def test_commit_next_rebuilds_on_the_winners_parent(tmp_path):
    """A writer whose version was taken between its listing and its
    publish re-reads the new parent and takes the next number."""
    log = str(tmp_path / "log")
    seen = []

    def build(parent):
        seen.append(parent)
        if len(seen) == 1:  # a rival publishes the same number first
            commit.publish(None, log, 1, {"files": ["rival"]})
        files = [] if parent is None else commit.read_manifest(
            None, log, parent
        )["files"]
        return {"files": files + ["mine"]}

    assert commit.commit_next(None, log, build) == 2
    assert seen == [None, 1]
    assert commit.read_manifest(None, log, 2) == {"files": ["rival", "mine"]}


def test_create_if_absent_is_exclusive(tmp_path):
    p = "file://" + str(tmp_path / "state" / "_lease")
    commit.create_if_absent(None, p, b"first")
    with pytest.raises(commit.CommitConflictError):
        commit.create_if_absent(None, p, b"second")
    assert commit.read_text(None, p) == "first"
    assert os.listdir(tmp_path / "state") == ["_lease"]


def test_swap_dir_and_recovery_from_each_crash_prefix(tmp_path):
    def table(name, content):
        d = tmp_path / name
        d.mkdir()
        (d / "part-0").write_text(content)
        return str(d)

    live, pending = str(tmp_path / "t"), str(tmp_path / "t__pending")
    old = live + ".__old__"
    table("t", "v1")
    table("t__pending", "v2")
    commit.swap_dir(None, live, pending)
    assert (tmp_path / "t" / "part-0").read_text() == "v2"
    assert not os.path.exists(pending) and not os.path.exists(old)

    # crash after the live copy was renamed aside
    os.rename(live, old)
    table("t__pending", "v3")
    commit.recover_swap(None, live, pending)
    assert (tmp_path / "t" / "part-0").read_text() == "v3"
    assert not os.path.exists(old) and not os.path.exists(pending)

    # crash before the old copy was deleted
    table("t.__old__", "v2")
    commit.recover_swap(None, live, pending)
    assert not os.path.exists(old)
    assert (tmp_path / "t" / "part-0").read_text() == "v3"

    # a pending copy next to an intact live table is left alone
    table("t__pending", "partial")
    commit.recover_swap(None, live, pending)
    assert (tmp_path / "t" / "part-0").read_text() == "v3"


def test_hadoop_branch_plumbing(spark, tmp_path, monkeypatch):
    """The non-local branch, forced onto Hadoop's local filesystem (its
    no-clobber guarantee needs HDFS, so only uncontended calls run)."""
    monkeypatch.setattr(commit, "_resolve", lambda s, p: (None, spark))
    root = "file:" + str(tmp_path / "h")
    commit.publish(None, root, 1, {"files": []})
    commit.publish(None, root, 1, {"n": 1}, prefix="batch-", replace=True)
    commit.publish(None, root, 1, {"n": 2}, prefix="batch-", replace=True)
    assert commit.read_manifest(None, root, 1, prefix="batch-") == {"n": 2}
    assert commit.versions(None, root) == [1]
    names = ["batch-00000001.json", "v00000001.json"]
    assert sorted(rel for rel, _ in commit.list_files(None, root)) == names
    commit.swap_dir(None, root + "2", root)
    assert commit.read_manifest(None, root + "2", 1) == {"files": []}
    assert not commit._exists(None, root)
    commit.delete(None, root + "2")
    assert not commit._exists(None, root + "2")
    assert commit.list_files(None, root + "2") == []


def test_concurrent_snapshot_appends_lose_no_rows(spark, tmp_path):
    """Two appends racing onto v1 from a barrier: distinct versions,
    and the latest snapshot holds every row — or a named conflict."""
    from flink_orc_sink_spark.sources.orc_sink import (
        snapshot_read,
        snapshot_write,
    )

    base = str(tmp_path / "snap")
    snapshot_write(spark.range(10).withColumn("v", F.lit(0)), base)
    barrier = threading.Barrier(2)
    got, errors = [], []

    def append(lo):
        df = spark.range(lo, lo + 10).withColumn("v", F.lit(lo))
        barrier.wait()
        try:
            got.append(snapshot_write(df, base, mode="append"))
        except commit.CommitConflictError as exc:
            errors.append(exc)

    threads = [threading.Thread(target=append, args=(lo,)) for lo in (10, 20)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(got) + len(errors) == 2
    assert len(set(got)) == len(got)
    latest = snapshot_read(spark, base)
    assert latest.count() == 10 + 10 * len(got)
    assert latest.select("id").distinct().count() == latest.count()


def test_pyds_batch_commit_never_replaces_a_taken_version(
    spark, tmp_path, monkeypatch
):
    """The version a batch commit computed is already taken when it
    publishes (here: its manifest listing is stale). It must take the
    next version or raise — never replace the live manifest."""
    import pyarrow as pa

    from flink_orc_sink_spark.sources.pyds_sink import (
        _BatchWriter,
        _write_task_file,
        read_manifest_orc,
        register_sink,
    )

    register_sink(spark)
    out = str(tmp_path / "t")
    spark.range(10).selectExpr("id", "id * 3 as v").coalesce(1).write.format(
        "manifest_orc_py"
    ).mode("append").save(out)
    mdir = os.path.join(out, "manifests")
    v1 = json.loads(open(os.path.join(mdir, "v00000001.json")).read())
    msg = _write_task_file(
        out,
        iter([pa.record_batch({"id": list(range(10, 15)),
                               "v": [i * 3 for i in range(10, 15)]})]),
    )

    real_listdir = os.listdir
    stale = []

    def listdir(p="."):
        names = real_listdir(p)
        if os.path.basename(str(p).rstrip("/")) == "manifests" and not stale:
            stale.append(p)  # first listing only: blind to v1
            return [n for n in names if not n.startswith("v")]
        return names

    monkeypatch.setattr(os, "listdir", listdir)
    try:
        _BatchWriter(out, overwrite=False).commit([msg])
        raised = False
    except FileExistsError:
        raised = True
    monkeypatch.undo()
    assert stale, "the commit never listed its manifests"
    assert json.loads(open(os.path.join(mdir, "v00000001.json")).read()) == v1
    ids = {r.id for r in read_manifest_orc(spark, out).collect()}
    if raised:
        assert ids == set(range(10))
    else:
        assert sorted(os.listdir(mdir)) == ["v00000001.json", "v00000002.json"]
        assert ids == set(range(15))


def test_pyds_overwrite_crash_never_tears_the_table(
    spark, tmp_path, monkeypatch
):
    """An overwrite commit that dies while retiring the old manifests
    leaves the old table or the new one visible, never a mix."""
    import pyarrow as pa

    from flink_orc_sink_spark.sources.pyds_sink import (
        _BatchWriter,
        _write_task_file,
        read_manifest_orc,
        register_sink,
    )

    register_sink(spark)
    out = str(tmp_path / "t")

    def ids():
        return {r.id for r in read_manifest_orc(spark, out).collect()}

    for lo in (0, 10):
        spark.range(lo, lo + 10).selectExpr("id", "id as v").coalesce(
            1
        ).write.format("manifest_orc_py").mode("append").save(out)
    msg = _write_task_file(
        out, iter([pa.record_batch({"id": [20, 21], "v": [20, 21]})])
    )
    real_unlink = os.unlink
    manifests_removed = []

    def unlink(p, *a, **kw):
        if os.path.basename(str(p)).startswith("v0"):
            manifests_removed.append(p)
            if len(manifests_removed) == 2:
                raise OSError("injected crash while retiring old manifests")
        return real_unlink(p, *a, **kw)

    monkeypatch.setattr(os, "unlink", unlink)
    with pytest.raises(OSError, match="injected crash"):
        _BatchWriter(out, overwrite=True).commit([msg])
    monkeypatch.undo()
    assert ids() in (set(range(20)), {20, 21})
    spark.range(30, 32).selectExpr("id", "id as v").coalesce(1).write.format(
        "manifest_orc_py"
    ).mode("append").save(out)
    assert ids() in (set(range(20)) | {30, 31}, {20, 21, 30, 31})


def test_compact_orc_crash_mid_swap_heals(spark, tmp_path, monkeypatch):
    """The swap dies after the live table was moved away and before
    the compacted copy took its place; the next compact_orc must
    finish the swap and return every row."""
    from flink_orc_sink_spark.sources.orc_sink import compact_orc, read_orc

    out = str(tmp_path / "tbl")
    for i in range(3):
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.mode(
            "append"
        ).orc(out)
    real_rename = os.rename

    def rename(src, dst, *a, **kw):
        if os.path.abspath(dst) == os.path.abspath(out):
            raise OSError("injected crash before the new copy lands")
        return real_rename(src, dst, *a, **kw)

    monkeypatch.setattr(os, "rename", rename)
    with pytest.raises(OSError, match="injected crash"):
        compact_orc(spark, out)
    monkeypatch.undo()
    assert not os.path.exists(out)
    assert compact_orc(spark, out) >= 1
    back = read_orc(spark, out)
    assert back.count() == 30
    assert back.select("id").distinct().count() == 30


def test_scheme_qualified_paths(spark, tmp_path, monkeypatch):
    """A ``file://`` URI base behaves like the plain path, and nothing
    lands in a stray relative ``file:`` directory. Stands in for
    ``hdfs:`` and ``s3a:`` base paths."""
    from flink_orc_sink_spark.sources.orc_sink import (
        compact_orc,
        read_orc,
        snapshot_diff,
        snapshot_expire,
        snapshot_read,
        snapshot_versions,
        snapshot_write,
    )

    monkeypatch.chdir(tmp_path)
    base = "file://" + str(tmp_path / "snap")
    snapshot_write(spark.range(10).withColumn("v", F.lit(1)), base)
    snapshot_write(spark.range(10, 15).withColumn("v", F.lit(2)), base)
    assert snapshot_versions(base) == [1, 2]
    assert snapshot_read(spark, base, 1).count() == 10
    assert snapshot_read(spark, base).count() == 15
    diff = snapshot_diff(spark, base, ["id"], 1, 2)
    assert {(r.change_type, r.id) for r in diff.collect()} == {
        ("insert", i) for i in range(10, 15)
    }
    stats = snapshot_expire(base, keep_last=1)
    assert stats["versions_expired"] == 1 and stats["files_deleted"] == 0
    assert snapshot_versions(base) == [2]
    assert snapshot_read(spark, base).count() == 15

    tbl = "file://" + str(tmp_path / "tbl")
    for i in range(3):
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.mode(
            "append"
        ).orc(tbl)
    assert compact_orc(spark, tbl) == 1
    assert read_orc(spark, tbl).count() == 30
    assert not os.path.exists(tmp_path / "file:")


# Calls that read or mutate a table path behind the Hadoop FileSystem's
# back. Table code goes through commit.py (or the session's Hadoop-FS
# helpers) instead.
_FORBIDDEN = {
    "os": {
        "replace", "rename", "renames", "remove", "unlink", "rmdir",
        "removedirs", "makedirs", "mkdir", "listdir", "scandir", "walk",
        "link", "open",
    },
    "os.path": {"exists", "isdir", "isfile", "getmtime", "getsize"},
    "shutil": {"rmtree", "move", "copy", "copy2", "copyfile", "copytree"},
    "glob": {"glob", "iglob"},
}
_ALLOWED = {
    ("sources/pyds_sink.py", "_write_task_file", "os.makedirs"):
        "executor-side task file: pyarrow writes it on an executor with no "
        "JVM, invisible until the driver's manifest names it",
}
_GUARDED = ("sources", "operators", "streaming", "lease.py")


def _dotted(node) -> str:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return f"{_dotted(node.value)}.{node.attr}"
    return ""


def _violations(rel: str, tree) -> list[str]:
    out = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            mods = [a.name for a in node.names] + [
                getattr(node, "module", None) or ""
            ]
            if "glob" in mods:
                out.append(f"{rel}:{node.lineno} imports glob")
        if isinstance(node, ast.Call):
            name = _dotted(node.func)
            mod, _, attr = name.rpartition(".")
            if (attr in _FORBIDDEN.get(mod, ()) or name == "open") and (
                rel, func, name
            ) not in _ALLOWED:
                out.append(f"{rel}:{node.lineno} {func}: {name}()")
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, "<module>")
    return out


def test_guard_no_bespoke_commit_code_outside_commit_module():
    """No table code outside commit.py renames, replaces, removes,
    lists or opens paths with os/shutil/glob."""
    files = []
    for g in _GUARDED:
        p = PKG / g
        files += [p] if p.is_file() else sorted(p.rglob("*.py"))
    found = []
    for f in files:
        rel = f.relative_to(PKG).as_posix()
        found += _violations(rel, ast.parse(f.read_text()))
    assert not found, "\n".join(found)
    # the guard itself bites
    bad = ast.parse("import os\ndef f(p):\n    os.replace(p, p)\n")
    assert _violations("sources/x.py", bad) == [
        "sources/x.py:3 f: os.replace()"
    ]
