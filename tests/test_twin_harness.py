"""The streaming twins have ONE micro-batch harness.

In ``plans/streaming_twins.py`` only ``_MicroBatchStage`` may start a
streaming query (``writeStream``) or make a scratch directory
(``tempfile.mkdtemp``): every twin stages its input, runs its stream and
reads its result through it. A twin stages all its slices with one call
(``stage_by`` writes them in one partitioned write), so no staging call
sits in a loop. These checks walk the module's AST (no imports are run and
no Spark session starts), so a violation is reported by line. The stages'
scratch directories share one per-process root that is removed at exit
(checked in a child process, again without a Spark session). One Spark
test pins what ``stage_by`` writes.
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TWINS = os.path.join(
    REPO,
    "realtimedatawarehouse_self_spark",
    "plans",
    "streaming_twins.py",
)
HARNESS = "_MicroBatchStage"


def _harness_only_sites(tree: ast.AST) -> list[str]:
    """`writeStream` / `mkdtemp` uses outside the harness class."""
    inside = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ClassDef) and node.name == HARNESS:
            inside.update(id(n) for n in ast.walk(node))
    found = []
    for node in ast.walk(tree):
        if id(node) in inside:
            continue
        if isinstance(node, ast.Attribute) and node.attr in (
            "writeStream",
            "mkdtemp",
        ):
            found.append(f"line {node.lineno}: {node.attr}")
        elif isinstance(node, ast.ImportFrom) and any(
            a.name == "mkdtemp" for a in node.names
        ):
            found.append(f"line {node.lineno}: imports mkdtemp")
    return sorted(found)


def test_only_the_stage_starts_streams_or_makes_dirs():
    with open(TWINS) as f:
        tree = ast.parse(f.read(), filename=TWINS)
    assert _harness_only_sites(tree) == []


def test_the_check_sees_uses_outside_the_harness():
    src = (
        "class _MicroBatchStage:\n"
        "    def run(self, df):\n"
        "        return df.writeStream, tempfile.mkdtemp()\n"
        "def twin(df):\n"
        "    return df.writeStream.start(), tempfile.mkdtemp()\n"
        "from tempfile import mkdtemp\n"
    )
    assert _harness_only_sites(ast.parse(src)) == [
        "line 5: mkdtemp",
        "line 5: writeStream",
        "line 6: imports mkdtemp",
    ]


def _staging_calls_in_loops(tree: ast.AST) -> list[str]:
    """Calls of a ``_MicroBatchStage`` ``stage*`` method inside a loop."""
    staging = {
        f.name
        for node in ast.walk(tree)
        if isinstance(node, ast.ClassDef) and node.name == HARNESS
        for f in node.body
        if isinstance(f, ast.FunctionDef) and f.name.startswith("stage")
    }
    loops = (
        ast.For, ast.AsyncFor, ast.While,
        ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp,
    )
    found = set()
    for loop in ast.walk(tree):
        if not isinstance(loop, loops):
            continue
        for node in ast.walk(loop):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in staging
            ):
                found.add(f"line {node.lineno}: {node.func.attr}")
    return sorted(found)


def test_no_staging_call_in_a_loop():
    with open(TWINS) as f:
        tree = ast.parse(f.read(), filename=TWINS)
    assert _staging_calls_in_loops(tree) == []


def test_the_check_sees_staging_calls_in_loops():
    src = (
        "class _MicroBatchStage:\n"
        "    def stage_by(self, df, col):\n"
        "        pass\n"
        "def twin(stage, df):\n"
        "    stage.stage_by(df, 'slice')\n"
        "    for i in range(3):\n"
        "        stage.stage_by(df.filter(df.s == i), 's')\n"
        "    while df:\n"
        "        stage.stage_by(df, 's')\n"
        "    [stage.stage_by(d, 's') for d in df]\n"
        "    for i in range(3):\n"
        "        stage.run(df)\n"
    )
    assert _staging_calls_in_loops(ast.parse(src)) == [
        "line 10: stage_by",
        "line 7: stage_by",
        "line 9: stage_by",
    ]


def test_stage_by_writes_one_ordered_file_per_slice(spark):
    """Slice ``v`` becomes one parquet file at slot ``v``, mtimes in slot
    order; ``slots`` adds empty slices for missing lower values; an empty
    frame without ``slots`` stages nothing."""
    from realtimedatawarehouse_self_spark.plans.streaming_twins import (
        _MicroBatchStage,
    )

    def staged(stage):
        out = {}
        for d in sorted(os.listdir(stage.src)):
            files = [
                f for f in os.listdir(os.path.join(stage.src, d))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, (d, files)
            path = os.path.join(stage.src, d, files[0])
            rows = spark.read.parquet(path).collect()
            out[d] = (os.path.getmtime(path), sorted(r.x for r in rows))
        return out

    df = spark.createDataFrame(
        [(1, 2), (2, 0), (3, 2), (4, None)], "x int, v int"
    )
    stage = _MicroBatchStage("rtdw-test-")
    schema = stage.stage_by(df, "v")
    assert schema.fieldNames() == ["x"]
    got = staged(stage)
    assert list(got) == ["g00000", "g00002"]
    assert [rows for _, rows in got.values()] == [[2], [1, 3]]
    assert got["g00000"][0] < got["g00002"][0]

    stage = _MicroBatchStage("rtdw-test-")
    stage.stage_by(df, "v", slots=4)
    got = staged(stage)
    assert list(got) == ["g00000", "g00001", "g00002", "g00003"]
    assert [rows for _, rows in got.values()] == [[2], [], [1, 3], []]
    times = [t for t, _ in got.values()]
    assert times == sorted(times) and len(set(times)) == 4
    stage.stage_sentinel(df.select("x"))
    flush = [d for d in os.listdir(stage.src) if d.startswith("zz_flush")]
    assert flush == ["zz_flush00004"]

    stage = _MicroBatchStage("rtdw-test-")
    stage.stage_by(df.filter(F.lit(False)), "v")
    stage.stage_sentinel(df.select("x"))
    assert os.listdir(stage.src) == []
    assert stage.run_to_parquet(spark, stage.read_stream(spark, schema)).count() == 0


def test_stages_share_one_root_removed_at_exit():
    """Every stage directory sits under one per-process root, and the
    process removes that root when it exits."""
    script = (
        "from realtimedatawarehouse_self_spark.plans.streaming_twins import"
        " _MicroBatchStage as S\n"
        "a, b = S('rtdw-a-'), S('rtdw-b-')\n"
        "print(a.base); print(b.base); print(S._root)\n"
    )
    done = subprocess.run(
        [sys.executable, "-c", script],
        cwd=REPO,
        capture_output=True, text=True, check=True,
    )
    a, b, root = done.stdout.split()
    assert os.path.basename(root).startswith("rtdw-")
    assert os.path.dirname(a) == os.path.dirname(b) == root
    assert not os.path.exists(root)
