"""Reachability and import-closure guard for the package.

(a) Every package module must be reachable by an AST import walk from the
    system's entry points: the driver contract, the bench, the benchmark,
    the tools and the reference-parity modules.  Imports inside functions
    count, and a name imported from a package is resolved to the submodule
    that defines it.
(b) Importing the EXstream pipeline, or the online scorer, must load only
    the modules that module uses: its own module-level imports, followed
    transitively, plus the package ``__init__`` files Python executes on
    the way.  A package init that re-exports its submodules breaks this,
    because it loads every submodule for every importer.

No Spark session is started: (a) parses source, (b) runs a plain import in
a subprocess.
"""

from __future__ import annotations

import ast
import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PKG = "exstream_implementation_spark"
PKG_DIR = ROOT / PKG

# Entry points inside the package: the reference-parity modules and the
# public starters of the online explain path (the paper's online setting,
# driven by tests/test_streaming.py; the benchmark drives online_scorer).
# Everything else in the package must be reached from these or from the
# scripts outside it.
PACKAGE_ENTRIES = (
    "__main__",
    "diagnostics",
    "reporting",
    "streaming.explain_trigger",
    "streaming.unbounded",
    "streaming.welford",
)


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in PKG_DIR.rglob("*.py"):
        parts = list(path.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        mods[".".join(parts)] = path
    return mods


MODULES = _package_modules()


def _is_package(mod: str) -> bool:
    return MODULES.get(mod, Path()).name == "__init__.py"


def _ancestors(mod: str) -> list[str]:
    parts = mod.split(".")
    return [".".join(parts[:i]) for i in range(1, len(parts))]


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _module_level(tree: ast.Module):
    """Nodes that run at import time: everything outside function bodies."""
    stack = list(tree.body)
    while stack:
        node = stack.pop()
        yield node
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            continue
        stack.extend(ast.iter_child_nodes(node))


def _reexports(pkg: str) -> dict[str, str]:
    """Names a package ``__init__`` binds with ``from X import name``."""
    out = {}
    for node in _parse(MODULES[pkg]).body:
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            for alias in node.names:
                out[alias.asname or alias.name] = _resolve(node.module, alias.name)
    return out


def _resolve(module: str, name: str) -> str:
    """The package module that ``from module import name`` depends on."""
    if f"{module}.{name}" in MODULES:
        return f"{module}.{name}"
    if _is_package(module):
        target = _reexports(module).get(name)
        if target is not None:
            return target
    return module


def _imports(path: Path, *, lazy: bool, names: bool = True) -> set[str]:
    """Package modules imported by the file at ``path``.

    ``lazy=True`` also counts imports inside function bodies.
    ``names=False`` counts only imports that bind a module (``import m``,
    ``from pkg import submodule``), not names re-exported from one.
    """
    tree = _parse(path)
    nodes = ast.walk(tree) if lazy else _module_level(tree)
    here = None
    if path.is_relative_to(PKG_DIR):
        here = ".".join(path.relative_to(ROOT).with_suffix("").parts)
    found = set()
    for node in nodes:
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names if a.name in MODULES)
        elif isinstance(node, ast.ImportFrom):
            module = node.module or ""
            if node.level:
                base = here.split(".")[: -node.level]
                module = ".".join(base + ([module] if module else []))
            if module.split(".")[0] != PKG:
                continue
            for alias in node.names:
                if names or f"{module}.{alias.name}" in MODULES:
                    found.add(_resolve(module, alias.name))
    return {m for m in found if m in MODULES}


def _closure(roots, *, lazy: bool) -> set[str]:
    """Package modules loaded by importing ``roots`` (names or file paths).

    Importing a module also executes its ancestor package inits.  What an
    init imports as a module runs with it; a name it re-exports from a
    submodule is only counted for importers that take that name (see
    ``_resolve``), so a re-exporting init does not pull in every submodule.
    """
    seen: set[str] = set()
    stack: list[tuple[str, bool]] = []
    for root in roots:
        if isinstance(root, Path):
            stack.extend((m, True) for m in _imports(root, lazy=lazy))
        else:
            stack.append((root, True))
    expanded: set[tuple[str, bool]] = set()
    while stack:
        mod, names = stack.pop()
        if (mod, names) in expanded or (mod, True) in expanded:
            continue
        expanded.add((mod, names))
        seen.add(mod)
        stack.extend(
            (m, True) for m in _imports(MODULES[mod], lazy=lazy, names=names)
        )
        stack.extend((anc, False) for anc in _ancestors(mod))
    return seen


def _entry_points() -> list:
    scripts = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    scripts += sorted((ROOT / "exbench").glob("*.py"))
    scripts += sorted((ROOT / "tools").glob("*.py"))
    return scripts + [f"{PKG}.{m}" for m in PACKAGE_ENTRIES]


# Modules no entry point reaches that are still kept, each with its own
# tests, until a later change deletes them with those tests.  The list must
# stay exact: a module here that an entry point reaches, or that is gone,
# fails the guard as well.
RETAINED_UNREACHED = frozenset(
    f"{PKG}.{m}"
    for m in (
        "operators.bpe",
        "operators.pca",
        "operators.profile",
        "operators.snapshots",
    )
)


def test_every_package_module_is_reachable():
    reached = _closure(_entry_points(), lazy=True)
    unreachable = set(MODULES) - reached
    assert not sorted(unreachable - RETAINED_UNREACHED), (
        "package modules no entry point imports: "
        f"{sorted(unreachable - RETAINED_UNREACHED)}"
    )
    assert unreachable == RETAINED_UNREACHED, (
        "stale RETAINED_UNREACHED entries: "
        f"{sorted(RETAINED_UNREACHED - unreachable)}"
    )


CODECS = ("adpcm", "gif", "jpeg", "mp4", "multimodal", "webp")


@pytest.mark.parametrize(
    "target", [f"{PKG}.pipeline", f"{PKG}.streaming.online_scorer"]
)
def test_import_loads_only_its_closure(target):
    closure = _closure([target], lazy=False)
    code = (
        "import importlib, json, sys\n"
        f"importlib.import_module({target!r})\n"
        f"print(json.dumps(sorted(m for m in sys.modules if m.split('.')[0] == {PKG!r})))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True,
        text=True, check=True,
    )
    loaded = set(json.loads(out.stdout))
    assert target in loaded
    assert not loaded - closure, (
        f"{target} loads modules outside its import closure: "
        f"{sorted(loaded - closure)}"
    )
    assert not {m for m in loaded if m.startswith(f"{PKG}.plans.")}
    assert not {f"{PKG}.operators.{c}" for c in CODECS} & loaded
