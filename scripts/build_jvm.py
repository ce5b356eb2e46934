#!/usr/bin/env python3
"""Build the engine's JVM jar from ``realtimedatawarehouse_self_spark/jvm/src``.

    python scripts/build_jvm.py [--out PATH]

Compiles every ``.java`` file under the source tree with ``javac --release
17`` against the installed PySpark's ``jars/``, then writes the class files
into a jar in sorted order with one fixed entry timestamp, so the same
sources and compiler rebuild a byte-identical jar. ``--out`` defaults to the
committed jar, ``realtimedatawarehouse_self_spark/jvm/rtdw.jar``;
``tests/test_jvm_jar.py`` rebuilds elsewhere and compares.
"""

from __future__ import annotations

import argparse
import glob
import os
import subprocess
import tempfile
import zipfile

import pyspark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(ROOT, "realtimedatawarehouse_self_spark", "jvm")
SRC = os.path.join(JVM_DIR, "src")
JAR = os.path.join(JVM_DIR, "rtdw.jar")
# the earliest time a zip entry can hold; any fixed value would do
STAMP = (1980, 1, 1, 0, 0, 0)


def _files(root: str, ext: str) -> list[str]:
    return sorted(
        os.path.relpath(p, root)
        for p in glob.glob(os.path.join(root, "**", f"*{ext}"), recursive=True)
    )


def build(out: str = JAR) -> str:
    classpath = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    with tempfile.TemporaryDirectory(prefix="rtdw-javac-") as classes:
        subprocess.run(
            ["javac", "--release", "17", "-cp", classpath, "-d", classes]
            + [os.path.join(SRC, f) for f in _files(SRC, ".java")],
            check=True,
        )
        with zipfile.ZipFile(out, "w") as jar:
            for name in _files(classes, ".class"):
                info = zipfile.ZipInfo(name.replace(os.sep, "/"), STAMP)
                info.compress_type = zipfile.ZIP_DEFLATED
                info.external_attr = 0o644 << 16
                with open(os.path.join(classes, name), "rb") as fh:
                    jar.writestr(info, fh.read())
    return out


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", default=JAR)
    print(build(ap.parse_args().out))
