"""Import layering: the warehouse's layers build on each other one way.

    sources / functions / operators / session  ->  streaming  ->  plans

A lower layer must never import a higher one, not even from inside a
function body. The check walks every module's AST (no imports are run and
no Spark session starts), so a violation is reported by file and line.

The same walk keeps the lower layers free of dead code: every top-level
function and class there must be named by some Python file of the repo.
"""

from __future__ import annotations

import ast
import os

PKG = "realtimedatawarehouse_self_spark"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG_DIR = os.path.join(REPO, PKG)

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


# Lower layers whose every top-level def must be used somewhere in the repo;
# `plans` is exempt (its queries are reached through the registry dicts).
USED_LAYERS = ("sources", "functions", "operators", "streaming", "session.py")


def _unreferenced(modules: dict[str, ast.Module], guarded: list[str]) -> list[str]:
    """`file:line name` of each top-level def or class of a ``guarded``
    module that no module in ``modules`` uses as a name or an attribute."""
    named = {
        getattr(node, "id", None) or getattr(node, "attr", None)
        for tree in modules.values()
        for node in ast.walk(tree)
        if isinstance(node, (ast.Name, ast.Attribute))
    }
    return [
        f"{rel}:{node.lineno} {node.name}"
        for rel in guarded
        for node in modules[rel].body
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)) and node.name not in named
    ]


def test_lower_layer_defs_are_all_used():
    """Every .py file of the repo counts as a user; `plans/` at the repo
    root holds only dated plan dumps, and dot-dirs hold scratch."""
    modules = {}
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if d[0] not in "._" and (root, d) != (REPO, "plans")]
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as f:
                    modules[os.path.relpath(path, REPO)] = ast.parse(f.read(), path)
    guarded = [
        rel
        for rel in modules
        if rel.split(os.sep)[0] == PKG and rel.split(os.sep)[1] in USED_LAYERS
    ]
    assert guarded
    assert _unreferenced(modules, guarded) == []


def test_unreferenced_def_is_reported():
    """A def nothing names is flagged; a call, an attribute access or a
    decorator is a use, an import alone is not."""
    lib = (
        "def used(): pass\ndef via_attr(): pass\ndef deco(f): return f\n"
        "def dead(): pass\nclass Dead: pass\n"
    )
    app = (
        "import lib\nfrom lib import dead\n"
        "lib.used()\nf = lib.via_attr\n@lib.deco\ndef g(): pass\n"
    )
    modules = {"lib.py": ast.parse(lib), "app.py": ast.parse(app)}
    assert _unreferenced(modules, ["lib.py"]) == ["lib.py:4 dead", "lib.py:5 Dead"]
