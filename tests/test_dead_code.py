"""Dead-code guard: every top-level undecorated def/class in the package
must be used by some Python code in the repo (package, tests, scripts,
perfbench and the entry points). A name in a comment, docstring or
message does not count. Decorated definitions are skipped: the
decorator registers them."""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "us_accidents_bigdata_pipeline_spark"
SOURCES = (PACKAGE, "tests", "scripts", "perfbench", "bench.py", "__spark_entry__.py")


def _py_files(root: str) -> list[str]:
    if root.endswith(".py"):
        return [root]
    out = []
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(".")]  # scratch dirs
        out += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return out


# calls that look an attribute up by a string name: the builtins (and
# ``monkeypatch.setattr``) and the benchmark tracer's ``wrap``/``patch``
BY_NAME = {"setattr", "getattr", "hasattr", "delattr", "wrap", "patch"}


def _uses(tree: ast.AST) -> set[str]:
    """Names, attributes and imported names, plus identifier strings
    passed to a by-name lookup (``monkeypatch.setattr(module, "name",
    ...)``). Any other string, such as a sink or column name, is not a
    use."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name.rsplit(".", 1)[-1])
        elif isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name in BY_NAME:
                out |= {
                    a.value
                    for a in node.args
                    if isinstance(a, ast.Constant)
                    and isinstance(a.value, str)
                    and a.value.isidentifier()
                }
    return out


def test_no_unused_top_level_definitions():
    used = set()
    defined = []
    for root in SOURCES:
        for path in _py_files(os.path.join(REPO, root)):
            with open(path) as f:
                tree = ast.parse(f.read())
            used |= _uses(tree)
            rel = os.path.relpath(path, REPO)
            if rel.startswith(PACKAGE + os.sep):
                defined += [
                    (rel, node.name)
                    for node in tree.body
                    if isinstance(
                        node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                    )
                    and not node.decorator_list
                ]
    assert [f"{rel}::{name}" for rel, name in defined if name not in used] == []
