"""No code that only tests reach: every ``kgkit`` module must be
imported, directly or transitively, from a non-test entry point.

The graph is read from the source with ``ast``, so it takes in
function-local imports as well as module-level ones.  The roots are the
CLI, the Spark entry point, the query suite, the job and tool scripts
and the benchmark driver (not its smoke test).

``DEFERRED`` names the two modules still reached only by tests whose
deletion is left to a later change (ROADMAP direction 7).  The check is
exact: a module that goes unreachable fails it, and so does a deferred
module that gains a caller or is deleted without leaving the list.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT_GLOBS = [
    "kgkit/cli.py",
    "kgkit/__main__.py",
    "__spark_entry__.py",
    "bench.py",
    "jobs/*.py",
    "tools/*.py",
    "perfbench/*.py",
]

DEFERRED = [
    "kgkit/functions/tags.py",
    "kgkit/ner_core/label_alignment.py",
]


def _roots():
    for pattern in ROOT_GLOBS:
        for path in sorted(glob.glob(os.path.join(REPO, pattern))):
            if not os.path.basename(path).startswith("test_"):
                yield path


def _module_file(name: str, here: str):
    """The repo file that ``import name`` loads from a script in
    ``here`` (scripts import their siblings by bare name), or None for
    a module outside the repo."""
    for base in (REPO, here):
        stem = os.path.join(base, *name.split("."))
        for path in (stem + ".py", os.path.join(stem, "__init__.py")):
            if os.path.isfile(path):
                return path
    return None


def _imported_names(path: str):
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            # ``from pkg import mod`` imports the module pkg.mod
            names = [node.module] + [f"{node.module}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            parts = name.split(".")
            # importing a.b.c runs a/__init__ and a/b/__init__ too
            for i in range(1, len(parts) + 1):
                yield ".".join(parts[:i])


def reachable() -> set:
    seen, todo = set(), list(_roots())
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        here = os.path.dirname(path)
        for name in _imported_names(path):
            target = _module_file(name, here)
            if target is not None and target not in seen:
                todo.append(target)
    return seen


def test_every_kgkit_module_is_reachable_from_a_non_test_root():
    live = reachable()
    modules = [
        p for p in glob.glob(os.path.join(REPO, "kgkit", "**", "*.py"), recursive=True)
        if os.path.basename(p) != "__init__.py"
    ]
    assert modules
    orphans = sorted(os.path.relpath(p, REPO) for p in modules if p not in live)
    assert orphans == DEFERRED, f"reached only by tests: {orphans}"
