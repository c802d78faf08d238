"""No code that only tests reach.

Modules: every ``kgkit`` module must be imported, directly or
transitively, from a non-test entry point.  The graph is read from the
source with ``ast``, so it takes in function-local imports as well as
module-level ones.  The roots are the CLI, the Spark entry point, the
query suite, the job and tool scripts and the benchmark driver (not its
smoke test).

Definitions: every public top-level function or class of a live
``kgkit`` module must be referenced from a live file (a root or a
reachable module), by a ``Name``, an ``Attribute`` or a
``from ... import`` name outside the definition's own body.  Names are
matched bare, so a reference through any module or alias counts.

``KEPT`` names the unreferenced definitions that stay, each with its
reason.  The check is exact: an entry that gains a caller or is deleted
fails it, like a new unreferenced definition does.
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

_TWIN = "pure-Python twin or spec that tests compare the production operator against"
KEPT = {
    "kgkit/operators/lm_quality.py::score_text_py": _TWIN,
    "kgkit/operators/lm_quality.py::train_bigram_lm": _TWIN,
    "kgkit/operators/quality_clf.py::train_quality_clf_py": _TWIN,
    "kgkit/operators/urls.py::canonicalize_url": _TWIN,
    "kgkit/sources/rdf.py::ntriples_line_py": _TWIN,
    "kgkit/sources/rdf.py::parse_ntriples_line": _TWIN,
    "kgkit/operators/bgp.py::bgp_to_sql": _TWIN,
    "kgkit/sources/pages.py::latest_pages": _TWIN,
    "kgkit/sources/warc.py::warc_pages_stream": _TWIN,
    "kgkit/ner_core/trained.py::assert_oracle_bounds": _TWIN,
    "kgkit/metrics/ner_metrics.py::ner_metrics":
        "reference-parity API that the nerblackbox truth tables call",
    "kgkit/metrics/ner_metrics.py::metrics_fanout":
        "reference-shaped A9 dict API that metrics_fanout_df is tested against",
    "kgkit/operators/triples.py::write_triples": "the north rule's Iceberg sink",
    "kgkit/sources/catalog.py::resolve_table": "the north rule's Iceberg source",
}


def _roots():
    for pattern in ROOT_GLOBS:
        for path in sorted(glob.glob(os.path.join(REPO, pattern))):
            if not os.path.basename(path).startswith("test_"):
                yield path


def _parse(path: str):
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), filename=path)


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


def _imported_names(tree):
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
        for name in _imported_names(_parse(path)):
            target = _module_file(name, here)
            if target is not None and target not in seen:
                todo.append(target)
    return seen


def _referenced(node, here: str):
    """The names ``node`` references: loads and stores of a ``Name``,
    an ``Attribute``'s attr, and ``from m import x``'s x unless m.x is
    a repo module (importing a module references no definition)."""
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            yield sub.id
        elif isinstance(sub, ast.Attribute):
            yield sub.attr
        elif isinstance(sub, ast.ImportFrom) and sub.level == 0:
            for a in sub.names:
                if _module_file(f"{sub.module}.{a.name}", here) is None:
                    yield a.name


def unreferenced_definitions(live: set) -> list:
    """``path::name`` of every public top-level function or class of a
    live ``kgkit`` module that no live file references outside the
    definition's own body."""
    # name -> the (path, top-level definition) spans that reference it
    refs: dict = {}
    defs = []
    for path in sorted(live):
        rel = os.path.relpath(path, REPO)
        tree, here = _parse(path), os.path.dirname(path)
        for top in tree.body:
            owner = None
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                owner = top.name
                if rel.startswith("kgkit/") and not top.name.startswith("_"):
                    defs.append((rel, top.name))
            for name in _referenced(top, here):
                refs.setdefault(name, set()).add((rel, owner))
    return sorted(
        f"{rel}::{name}" for rel, name in defs
        if not (refs.get(name, set()) - {(rel, name)})
    )


def test_every_kgkit_module_is_reachable_from_a_non_test_root():
    live = reachable()
    modules = [
        p for p in glob.glob(os.path.join(REPO, "kgkit", "**", "*.py"), recursive=True)
        if os.path.basename(p) != "__init__.py"
    ]
    assert modules
    orphans = sorted(os.path.relpath(p, REPO) for p in modules if p not in live)
    assert orphans == [], f"reached only by tests: {orphans}"


def test_every_public_kgkit_definition_is_referenced_or_kept():
    found = unreferenced_definitions(reachable())
    assert found == sorted(KEPT), (
        f"referenced only by tests: {sorted(set(found) - set(KEPT))}; "
        f"KEPT entries no longer unreferenced: {sorted(set(KEPT) - set(found))}"
    )
