"""The package holds the dedup system: every module of `fuzzycat_spark` is in
the import closure of the product entry points, except the corpus-prep
modules that ROADMAP.md lists for deletion and the test corpus generator.
Nothing outlives its code either: every committed fixture is read by some
test or program file, and every fixture maker writes a committed fixture.

AST-only: no module is imported and no Spark session starts. Imports inside
functions count (the product imports strategy code lazily). A name imported
from a package `__init__` resolves to the module that defines it, so a
re-export alone does not put a module in the closure; the `__init__` of a
package is in the closure whenever one of its modules is.
"""

from __future__ import annotations

import ast
from pathlib import Path

from _paths import ROOT
PKG = "fuzzycat_spark"

ENTRY_POINTS = (
    "fuzzycat_spark/operators/dedup.py",
    "fuzzycat_spark/operators/verify_metadata.py",
    "fuzzycat_spark/streaming/dedup_stream.py",
    "fuzzycat_spark/streaming/assignments.py",
    "fuzzycat_spark/streaming/compaction.py",
    "jobs/dedup_job.py",
    "jobs/stream_dedup_job.py",
    *sorted(str(p.relative_to(ROOT)) for p in (ROOT / "perfbench").glob("*.py")),
)

# outside the closure: the corpus-prep modules (ROADMAP.md open item
# "Delete the 15 corpus-prep modules") and the synthetic corpus generator
# of the tests and tools; a deletion of any of them shrinks this list
OUTSIDE = {
    f"{PKG}.functions.{m}" for m in ("encoding", "pii", "repetition", "webfilters")
} | {
    f"{PKG}.operators.{m}"
    for m in (
        "classify", "domains", "lines", "mixing", "retrieval", "robots",
        "sharding", "sitemap", "sketch", "spans", "stats",
    )
} | {f"{PKG}.sources.synth"}


def _path(module: str) -> Path | None:
    base = ROOT / module.replace(".", "/")
    if (base / "__init__.py").is_file():
        return base / "__init__.py"
    if base.with_suffix(".py").is_file():
        return base.with_suffix(".py")
    return None


def _name(path: Path) -> str:
    rel = path.relative_to(ROOT).with_suffix("")
    parts = rel.parts[:-1] if rel.name == "__init__" else rel.parts
    return ".".join(parts)


def _tree(module: str) -> ast.Module:
    return ast.parse(_path(module).read_text())


def _is_package(module: str) -> bool:
    p = _path(module)
    return p is not None and p.name == "__init__.py"


def _defining_module(package: str, name: str) -> str:
    """The module that defines `name` as the `__init__` of `package`
    exposes it: follows its `from X import name` re-exports."""
    for node in _tree(package).body:
        if isinstance(node, ast.ImportFrom) and node.module:
            for alias in node.names:
                if (alias.asname or alias.name) == name:
                    if _is_package(node.module):
                        return _resolve(node.module, alias.name)
                    return node.module
    return package


def _resolve(module: str, name: str) -> str:
    """The module that `from module import name` reaches."""
    if not _is_package(module):
        return module
    if _path(f"{module}.{name}") is not None:
        return f"{module}.{name}"
    return _defining_module(module, name)


def _imports(path: Path) -> set[str]:
    """The package modules that the file at `path` imports, anywhere in it."""
    out = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            out |= {a.name for a in node.names if a.name.split(".")[0] == PKG}
        elif isinstance(node, ast.ImportFrom) and node.module:
            if node.module.split(".")[0] == PKG:
                out |= {_resolve(node.module, a.name) for a in node.names}
    return out


def _closure() -> set[str]:
    seen: set[str] = set()
    todo = set().union(*(_imports(ROOT / e) for e in ENTRY_POINTS))
    todo |= {_name(ROOT / e) for e in ENTRY_POINTS if e.startswith(PKG)}
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        parts = mod.split(".")
        # importing a module runs the __init__ of every enclosing package,
        # but only the names asked for count, so __init__ imports are not
        # followed here
        seen |= {".".join(parts[:i]) for i in range(1, len(parts))}
        if not _is_package(mod):
            todo |= _imports(_path(mod)) - seen
    return seen


def test_modules_outside_the_closure_are_the_listed_corpus_prep_ones():
    modules = {_name(p) for p in (ROOT / PKG).rglob("*.py")}
    outside = modules - _closure()
    assert outside == OUTSIDE


def test_no_orphan_fixtures_or_fixture_makers():
    fixtures = {p.name for p in (ROOT / "fixtures").iterdir() if p.is_file()}
    # only source files count: a stale .pyc of a deleted test still holds
    # the names it read
    readers = " ".join(
        p.read_text()
        for d in ("tests", "perfbench", "jobs", PKG)
        for p in (ROOT / d).rglob("*.py")
    )
    assert {f for f in fixtures if f not in readers} == set()
    makers = {
        p.name: p.read_text() for p in (ROOT / "tools").glob("make_*.py")
    }
    assert {
        m for m, src in makers.items() if not any(f in src for f in fixtures)
    } == set()
