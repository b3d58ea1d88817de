"""No unused module-level imports in the package or its tests.

An AST scan: every name a module binds with a top-level ``import`` must
be read somewhere in that module. Exempt are the re-exports of
``__init__.py`` files, ``from __future__`` imports and, in the tests,
names that appear as a function's argument (pytest fixtures imported so
that a test can request them)."""

from __future__ import annotations

import ast
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOTS = ("olap_project_spark", "tests")


def _modules():
    for root in ROOTS:
        for d, _dirs, files in os.walk(os.path.join(REPO, root)):
            for f in sorted(files):
                if f.endswith(".py") and f != "__init__.py":
                    yield os.path.relpath(os.path.join(d, f), REPO)


def _top_level_imports(tree: ast.Module):
    """(bound name, line) of each import in the module body, including
    the bodies of top-level ``if`` blocks."""
    todo = list(tree.body)
    while todo:
        node = todo.pop(0)
        if isinstance(node, ast.If):
            todo += node.body + node.orelse
        elif isinstance(node, ast.Import):
            for a in node.names:
                yield (a.asname or a.name.split(".")[0]), node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                if a.name != "*":
                    yield (a.asname or a.name), node.lineno


def _read_names(tree: ast.Module, fixtures: bool) -> set[str]:
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif fixtures and isinstance(node, ast.arg):
            names.add(node.arg)
    return names


def _unused(source: str, fixtures: bool) -> list[tuple[str, int]]:
    """(name, line) of each module-level import ``source`` never reads."""
    tree = ast.parse(source)
    read = _read_names(tree, fixtures)
    return [(n, line) for n, line in _top_level_imports(tree) if n not in read]


def test_no_unused_module_level_imports():
    unused = []
    for rel in _modules():
        with open(os.path.join(REPO, rel)) as f:
            found = _unused(f.read(), fixtures=rel.startswith("tests"))
        unused += [f"{rel}:{line} {name}" for name, line in found]
    assert unused == []


@pytest.mark.parametrize(
    "source, unused",
    [
        ("import json\n", ["json"]),
        ("import os.path\nos.sep\n", []),
        ("from a import b as c\nb = 1\n", ["c"]),
        ("from __future__ import annotations\n", []),
        ("if x:\n    import json\n", ["json"]),
        ("from a import spark\ndef test_x(spark): ...\n", []),
    ],
)
def test_scan_finds_what_it_should(source, unused):
    assert [name for name, _line in _unused(source, fixtures=True)] == unused
