"""Build the fork-free local filesystem jar from its Java sources.

    python tools/build_localfs_jar.py

Compiles ``flink_orc_sink_spark/localfs/*.java`` with ``javac --release
17`` against the ``hadoop-client-api`` jar bundled with pyspark, and
writes ``flink_orc_sink_spark/localfs/localfs.jar``, which
``session.get_spark`` puts on the driver class path. Run it after
editing a source; ``tests/test_localfs.py`` fails while the committed jar
is stale. The jar's entries carry a fixed timestamp, so a rebuild from
the same sources writes the same bytes.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC_DIR = os.path.join(ROOT, "flink_orc_sink_spark", "localfs")
JAR = os.path.join(SRC_DIR, "localfs.jar")


def hadoop_api_jar() -> str:
    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    (jar,) = glob.glob(os.path.join(jars, "hadoop-client-api-*.jar"))
    return jar


def compile_classes() -> dict[str, bytes]:
    """``{entry name: class bytes}`` compiled from the sources."""
    sources = sorted(glob.glob(os.path.join(SRC_DIR, "*.java")))
    with tempfile.TemporaryDirectory() as out:
        subprocess.run(
            ["javac", "--release", "17", "-nowarn", "-cp", hadoop_api_jar(),
             "-d", out, *sources],
            check=True,
        )
        classes = {}
        for path in glob.glob(os.path.join(out, "**", "*.class"), recursive=True):
            with open(path, "rb") as f:
                classes[os.path.relpath(path, out).replace(os.sep, "/")] = f.read()
    return classes


def write_jar(classes: dict[str, bytes], path: str = JAR) -> None:
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as jar:
        for name in sorted(classes):
            jar.writestr(zipfile.ZipInfo(name, (1980, 1, 1, 0, 0, 0)), classes[name])


def jar_classes(path: str = JAR) -> dict[str, bytes]:
    with zipfile.ZipFile(path) as jar:
        return {n: jar.read(n) for n in jar.namelist() if n.endswith(".class")}


if __name__ == "__main__":
    write_jar(compile_classes())
    print(os.path.relpath(JAR, ROOT), file=sys.stderr)
