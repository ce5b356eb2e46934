"""Import layering: the warehouse's layers build on each other one way.

    sources / functions / operators / session  ->  streaming  ->  plans

A lower layer must never import a higher one, not even from inside a
function body. The check walks every module's AST (no imports are run and
no Spark session starts), so a violation is reported by file and line.
"""

from __future__ import annotations

import ast
import os

PKG = "realtimedatawarehouse_self_spark"
PKG_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), PKG)

# first path component under the package -> layers it must not import
FORBIDDEN = {
    "sources": {"streaming", "plans"},
    "functions": {"streaming", "plans"},
    "operators": {"streaming", "plans"},
    "session.py": {"streaming", "plans"},
    "streaming": {"plans"},
}


def _imported_layers(node: ast.AST, package: list[str]) -> set[str]:
    """Top-level package layers (e.g. 'plans') that one import statement
    reaches, with relative imports resolved against ``package``."""
    if isinstance(node, ast.Import):
        targets = [alias.name.split(".") for alias in node.names]
    elif isinstance(node, ast.ImportFrom):
        base = node.module.split(".") if node.module else []
        if node.level:
            base = [PKG, *package[: len(package) - node.level + 1], *base]
        # `from pkg import plans` reaches the layer through the alias name
        targets = [base + [alias.name] for alias in node.names]
    else:
        return set()
    return {t[1] for t in targets if len(t) > 1 and t[0] == PKG}


def _violations() -> list[str]:
    found = []
    for root, _, files in os.walk(PKG_DIR):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG_DIR)
            banned = FORBIDDEN.get(rel.split(os.sep)[0])
            if not banned:
                continue
            package = rel.split(os.sep)[:-1]  # the module's own package
            with open(path) as f:
                tree = ast.parse(f.read(), filename=path)
            for node in ast.walk(tree):
                for layer in _imported_layers(node, package) & banned:
                    found.append(f"{rel}:{node.lineno} imports {layer}")
    return found


def test_lower_layers_do_not_import_higher_ones():
    assert _violations() == []


def test_relative_and_aliased_imports_are_resolved():
    """The resolver sees every spelling of an upward import."""
    cases = {
        "from realtimedatawarehouse_self_spark.plans.core import x": {"plans"},
        "from realtimedatawarehouse_self_spark import plans": {"plans"},
        "import realtimedatawarehouse_self_spark.streaming.sinks": {"streaming"},
        "from ..plans import core": {"plans"},
        "from . import sinks": {"streaming"},
        "from realtimedatawarehouse_self_spark.sources.tables import t": {"sources"},
    }
    for src, expected in cases.items():
        node = ast.parse(src).body[0]
        assert _imported_layers(node, ["streaming"]) == expected, src
