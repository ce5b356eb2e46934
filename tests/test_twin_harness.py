"""The streaming twins have ONE micro-batch harness.

In ``plans/streaming_twins.py`` only ``_MicroBatchStage`` may start a
streaming query (``writeStream``) or make a scratch directory
(``tempfile.mkdtemp``): every twin stages its input, runs its stream and
reads its result through it. The check walks the module's AST (no imports
are run and no Spark session starts), so a violation is reported by line.
The stages' scratch directories share one per-process root that is removed
at exit (checked in a child process, again without a Spark session).
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys

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
