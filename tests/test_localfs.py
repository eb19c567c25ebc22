"""The fork-free local filesystem (``flink_orc_sink_spark/localfs``).

Without libhadoop, Hadoop's ``RawLocalFileSystem`` forks ``chmod``,
``ls -ld`` and ``readlink``; the plugin does the same work through
``java.nio``. These tests hold it to the stock class in the same JVM
(statuses, modes, listing), check that checksums are still written and
verified, that ``get_spark`` wires it only into a JVM it launches, and
that the committed jar matches its sources.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import threading

import pytest
from py4j.protocol import Py4JJavaError

from flink_orc_sink_spark import session
from flink_orc_sink_spark.streaming import (
    read_committed_orc,
    stream_from_files,
    stream_write_orc,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import build_localfs_jar  # noqa: E402


def _raw_pair(spark):
    """(stock RawLocalFileSystem, plugin), initialised on the session's
    Hadoop configuration."""
    jvm = spark._jvm
    uri = jvm.java.net.URI("file:///")
    conf = spark._jsc.hadoopConfiguration()
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    nio = jvm.flinkorcsink.localfs.RawNioLocalFileSystem()
    for fs in (stock, nio):
        fs.initialize(uri, conf)
    return stock, nio


def _fields(st) -> dict:
    return {
        "len": st.getLen(),
        "dir": st.isDirectory(),
        "replication": st.getReplication(),
        "block": st.getBlockSize(),
        "mtime": st.getModificationTime(),
        "atime": st.getAccessTime(),
        "perm": st.getPermission().toShort(),
        "owner": st.getOwner(),
        "group": st.getGroup(),
        "path": st.getPath().toString(),
        "symlink": st.getSymlink().toString() if st.isSymlink() else None,
    }


def _java_error(call) -> str:
    with pytest.raises(Py4JJavaError) as err:
        call()
    return err.value.java_exception.getClass().getName()


def test_status_fields_match_stock(spark, tmp_path):
    stock, nio = _raw_pair(spark)
    P = spark._jvm.org.apache.hadoop.fs.Path
    (tmp_path / "f").write_bytes(b"x" * 1000)
    (tmp_path / "d").mkdir()
    os.chmod(tmp_path / "d", 0o1750)  # sticky bit and an odd mode
    os.symlink(tmp_path / "f", tmp_path / "link")
    os.symlink(tmp_path / "d", tmp_path / "dlink")
    os.symlink(tmp_path / "gone", tmp_path / "dangling")

    for name in ("f", "d", "link", "dlink"):
        for path in (str(tmp_path / name), "file://" + str(tmp_path / name)):
            p = P(path)
            assert _fields(nio.getFileStatus(p)) == _fields(stock.getFileStatus(p))
            assert _fields(nio.getFileLinkStatus(p)) == _fields(
                stock.getFileLinkStatus(p)
            ), path
            if name in ("f", "link"):  # a file lists as itself
                (listed,) = nio.listStatus(p)
                assert _fields(listed) == _fields(stock.listStatus(p)[0])
    link = _fields(nio.getFileLinkStatus(P(str(tmp_path / "link"))))
    assert link["symlink"] == "file:" + str(tmp_path / "f")
    assert nio.getLinkTarget(P(str(tmp_path / "link"))).toString() == str(
        tmp_path / "f"
    )
    dangling = P(str(tmp_path / "dangling"))
    assert _fields(nio.getFileLinkStatus(dangling)) == _fields(
        stock.getFileLinkStatus(dangling)
    )

    for missing in (tmp_path / "gone", tmp_path / "dangling"):
        for fs in (stock, nio):
            assert (
                _java_error(lambda: fs.getFileStatus(P(str(missing))))
                == "java.io.FileNotFoundException"
            )
    assert (
        _java_error(lambda: nio.listStatus(P(str(tmp_path / "gone"))))
        == "java.io.FileNotFoundException"
    )


def test_created_modes_match_stock(spark, tmp_path):
    stock, nio = _raw_pair(spark)
    P = spark._jvm.org.apache.hadoop.fs.Path
    for name, fs in (("stock", stock), ("nio", nio)):
        fs.mkdirs(P(str(tmp_path / name / "a" / "b")))
        out = fs.create(P(str(tmp_path / name / "a" / "b" / "f")))
        out.write(b"abc")
        out.close()
    for rel, mode in (("a", 0o755), ("a/b", 0o755), ("a/b/f", 0o644)):
        assert os.stat(tmp_path / "stock" / rel).st_mode & 0o7777 == mode
        assert os.stat(tmp_path / "nio" / rel).st_mode & 0o7777 == mode
    sticky = spark._jvm.org.apache.hadoop.fs.permission.FsPermission(0o1700)
    nio.setPermission(P(str(tmp_path / "nio" / "a")), sticky)
    assert os.stat(tmp_path / "nio" / "a").st_mode & 0o7777 == 0o1700


def test_list_status_skips_vanished_entries(spark, tmp_path):
    stock, nio = _raw_pair(spark)
    P = spark._jvm.org.apache.hadoop.fs.Path
    d = tmp_path / "d"
    d.mkdir()
    (d / "keep").write_bytes(b"1")
    # a name that lists but cannot be stat'ed: what a file deleted
    # between the listing and its stat looks like
    os.symlink(d / "gone", d / "dangling")
    for fs in (stock, nio):
        assert [st.getPath().getName() for st in fs.listStatus(P(str(d)))] == [
            "keep"
        ]

    # deleted after the listing: the plugin's status was read whole at
    # list time; the stock one forks `ls -ld` on first permission read
    (d / "late").write_bytes(b"2")
    listed = {st.getPath().getName(): st for st in nio.listStatus(P(str(d)))}
    os.remove(d / "late")
    assert listed["late"].getPermission().toShort() == 0o644

    # entries churning while the directory is listed
    stop = threading.Event()

    def churn():
        i = 0
        while not stop.is_set():
            f = d / f"churn-{i % 8}"
            f.write_bytes(b"x")
            os.remove(f)
            i += 1

    t = threading.Thread(target=churn)
    t.start()
    try:
        for _ in range(200):
            for st in nio.listStatus(P(str(d))):
                st.getPermission()
                st.getOwner()
    finally:
        stop.set()
        t.join()


def test_rename_matches_stock(spark, tmp_path):
    """pyspark's own ``file:`` FileSystem (Hive's ProxyLocalFileSystem)
    refuses to rename onto an existing file; the plugin keeps that."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    P = jvm.org.apache.hadoop.fs.Path
    stock = jvm.org.apache.hadoop.util.ReflectionUtils.newInstance(
        jvm.org.apache.hadoop.fs.FileSystem.getFileSystemClass("file", None), conf
    )
    stock.initialize(jvm.java.net.URI("file:///"), conf)
    nio = P("file:///").getFileSystem(conf)
    assert stock.getClass().getName() != nio.getClass().getName()
    for name, fs in (("stock", stock), ("nio", nio)):
        d = tmp_path / name
        for f in ("a", "b"):
            out = fs.create(P(str(d / f)))
            out.write(f.encode())
            out.close()
        assert not fs.rename(P(str(d / "a")), P(str(d / "b")))
        assert (d / "b").read_bytes() == b"b"
        assert fs.rename(P(str(d / "a")), P(str(d / "c")))
        assert sorted(os.listdir(d)) == [".b.crc", ".c.crc", "b", "c"]


def _stream_once(spark, root, ids):
    src = str(root / "in")
    spark.createDataFrame(
        [(i, f"u{i % 3}") for i in ids], "id long, user string"
    ).coalesce(1).write.mode("append").parquet(src)
    q = stream_write_orc(
        stream_from_files(spark, src, "id LONG, user STRING"),
        str(root / "out"),
        str(root / "ckpt"),
        partition_cols=["user"],
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)


def test_checksums_kept_and_verified(spark, tmp_path):
    _stream_once(spark, tmp_path, range(300))
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"

    def has_crc(path):
        return (path.parent / f".{path.name}.crc").is_file()

    parts = sorted(out.glob("user=*/part-*.orc"))
    assert len(parts) == 3 and all(has_crc(p) for p in parts)
    for log in (out / "_spark_metadata" / "0", ckpt / "offsets" / "0",
                ckpt / "commits" / "0"):
        assert log.is_file() and has_crc(log), log

    assert read_committed_orc(spark, str(out)).count() == 300
    part = parts[0]
    data = bytearray(part.read_bytes())
    data[len(data) // 2] ^= 0xFF
    part.write_bytes(bytes(data))
    spark.catalog.clearCache()
    with pytest.raises(Exception, match="ChecksumException"):
        read_committed_orc(spark, str(out)).collect()


def test_session_uses_the_plugin(spark, tmp_path):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path("file://" + str(tmp_path))
    assert (
        path.getFileSystem(conf).getClass().getName()
        == "flinkorcsink.localfs.NioLocalFileSystem"
    )
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(path.toUri(), conf)
    assert (
        fc.getDefaultFileSystem().getClass().getName()
        == "flinkorcsink.localfs.NioLocalFs"
    )
    assert session.LOCALFS_JAR in spark.sparkContext.getConf().get(
        "spark.driver.extraClassPath"
    ).split(os.pathsep)


def test_conf_wiring_rules(monkeypatch):
    """Wired only for a JVM this call launches with a local master; the
    caller's class path is extended and its own keys win."""
    monkeypatch.setattr(session.SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    jar = session.LOCALFS_JAR

    conf = session._with_localfs("local[4]", {"spark.driver.extraClassPath": "a.jar"})
    assert conf["spark.driver.extraClassPath"] == os.pathsep.join(["a.jar", jar])
    assert conf["spark.hadoop.fs.file.impl"] == session.LOCALFS_CONF[
        "spark.hadoop.fs.file.impl"
    ]
    assert session._with_localfs("local", {})["spark.driver.extraClassPath"] == jar
    own = {"spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem"}
    assert session._with_localfs("local[*]", own)["spark.hadoop.fs.file.impl"] == (
        "org.apache.hadoop.fs.LocalFileSystem"
    )
    for master in ("spark://host:7077", "local-cluster[2,1,1024]", "yarn"):
        assert session._with_localfs(master, own) == own

    monkeypatch.setattr(session.SparkContext, "_gateway", object())
    assert session._with_localfs("local[4]", own) == own


_RUNNING_JVM = """
import os, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from flink_orc_sink_spark.session import get_spark

def classes(spark):
    jvm, conf = spark._jvm, spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path("file://" + {out!r})
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(path.toUri(), conf)
    return [path.getFileSystem(conf).getClass().getName(),
            fc.getDefaultFileSystem().getClass().getName()]

plain = SparkSession.builder.master("local[1]").config(
    "spark.ui.enabled", "false").getOrCreate()
stock = classes(plain)
plain.stop()  # the JVM keeps running without the jar
spark = get_spark("t")
spark.range(10).write.orc({out!r})
print(stock == classes(spark), *classes(spark), spark.read.orc({out!r}).count())
spark.stop()
"""


def test_running_jvm_without_the_jar_stays_stock(tmp_path):
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="512m")
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    res = subprocess.run(
        [sys.executable, "-c",
         _RUNNING_JVM.format(repo=REPO, out=str(tmp_path / "o"))],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert "ClassNotFoundException" not in res.stderr
    same, fs_class, fc_class, rows = res.stdout.split()[-4:]
    assert (same, rows) == ("True", "10")
    assert not fs_class.startswith("flinkorcsink")
    assert fc_class == "org.apache.hadoop.fs.local.LocalFs"


@pytest.mark.skipif(shutil.which("javac") is None, reason="needs a JDK")
def test_committed_jar_matches_sources():
    """Rebuild with ``python tools/build_localfs_jar.py`` when this fails."""
    assert build_localfs_jar.compile_classes() == build_localfs_jar.jar_classes()
