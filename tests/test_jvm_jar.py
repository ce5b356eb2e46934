"""The engine's JVM jar: built from the committed Java sources, and put on
the driver class path by ``session.get_spark``.

``scripts/build_jvm.py`` rebuilds the jar into a temporary directory; the
build is byte-reproducible, so any difference means a source under
``realtimedatawarehouse_self_spark/jvm/src`` was edited without running
``python scripts/build_jvm.py``."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import types

import pytest

from realtimedatawarehouse_self_spark import session
from tests.conftest import REPO_ROOT


@pytest.mark.skipif(shutil.which("javac") is None, reason="needs a JDK")
def test_committed_jar_equals_a_rebuild(tmp_path):
    out = tmp_path / "rtdw.jar"
    subprocess.run(
        [sys.executable, os.path.join(REPO_ROOT, "scripts", "build_jvm.py"),
         "--out", str(out)],
        check=True,
    )
    with open(session.JVM_JAR, "rb") as fh:
        assert out.read_bytes() == fh.read()


def test_get_spark_appends_the_jar_to_the_callers_class_path(monkeypatch):
    seen = {}

    class Builder:
        def appName(self, name):
            return self

        master = appName

        def config(self, key, value):
            seen[key] = value
            return self

        def getOrCreate(self):
            return types.SimpleNamespace(
                conf=types.SimpleNamespace(set=lambda k, v: None)
            )

    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=Builder()))
    session.get_spark()
    assert seen["spark.driver.extraClassPath"] == session.JVM_JAR
    session.get_spark(extra_conf={"spark.driver.extraClassPath": "extra.jar"})
    assert seen["spark.driver.extraClassPath"] == os.pathsep.join(
        ["extra.jar", session.JVM_JAR]
    )
