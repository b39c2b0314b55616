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
    because it loads every submodule for every importer.  Neither may load
    ``pyspark.ml``.
(c) Every top-level function and class must be reached by an AST name walk
    from the same entry points, or be one of the ``RETAINED_TEST_ONLY``
    definitions that only tests reach; and every top-level definition,
    constants included, must be named by some file.

No Spark session is started: (a) and (c) parse source, (b) runs a plain
import in a subprocess.
"""

from __future__ import annotations

import ast
import functools
import json
import re
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


@functools.cache
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


def _from_module(node: ast.ImportFrom, path: Path) -> str:
    """The absolute module name of a ``from ... import`` in ``path``."""
    module = node.module or ""
    if node.level:
        here = path.relative_to(ROOT).with_suffix("").parts
        module = ".".join(list(here[: -node.level]) + ([module] if module else []))
    return module


def _walk_except(tree: ast.Module, skip: frozenset[str]):
    """``ast.walk`` minus the top-level definitions named in ``skip``."""
    for node in tree.body:
        if getattr(node, "name", None) not in skip:
            yield from ast.walk(node)


def _imports(
    path: Path, *, lazy: bool, names: bool = True,
    skip: frozenset[str] = frozenset(),
) -> set[str]:
    """Package modules imported by the file at ``path``.

    ``lazy=True`` also counts imports inside function bodies, except in the
    top-level definitions named in ``skip``.
    ``names=False`` counts only imports that bind a module (``import m``,
    ``from pkg import submodule``), not names re-exported from one.
    """
    tree = _parse(path)
    nodes = _walk_except(tree, skip) if lazy else _module_level(tree)
    found = set()
    for node in nodes:
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names if a.name in MODULES)
        elif isinstance(node, ast.ImportFrom):
            module = _from_module(node, path)
            if module.split(".")[0] != PKG:
                continue
            for alias in node.names:
                if names or f"{module}.{alias.name}" in MODULES:
                    found.add(_resolve(module, alias.name))
    return {m for m in found if m in MODULES}


def _closure(roots, *, lazy: bool, system: bool = False) -> set[str]:
    """Package modules loaded by importing ``roots`` (names or file paths).

    Importing a module also executes its ancestor package inits.  What an
    init imports as a module runs with it; a name it re-exports from a
    submodule is only counted for importers that take that name (see
    ``_resolve``), so a re-exporting init does not pull in every submodule.
    ``system=True`` ignores the lazy imports inside ``RETAINED_TEST_ONLY``
    definitions: what only they import, only tests reach.
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
        skip = frozenset(
            d.removeprefix(f"{mod}.") for d in RETAINED_TEST_ONLY
            if system and d.rpartition(".")[0] == mod
        )
        stack.extend(
            (m, True)
            for m in _imports(MODULES[mod], lazy=lazy, names=names, skip=skip)
        )
        stack.extend((anc, False) for anc in _ancestors(mod))
    return seen


def _entry_points() -> list:
    scripts = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    scripts += sorted((ROOT / "exbench").glob("*.py"))
    scripts += sorted((ROOT / "tools").glob("*.py"))
    return scripts + [f"{PKG}.{m}" for m in PACKAGE_ENTRIES]


# Package modules that only RETAINED_TEST_ONLY definitions import, each kept
# with its tests until a change deletes both.  Exact, like that list.
RETAINED_UNREACHED = frozenset(
    # only plans.windows.events_tumbling_window imports it (ROADMAP item 2)
    f"{PKG}.{mod}" for mod in ("streaming.features",)
)


def test_every_package_module_is_reachable():
    reached = _closure(_entry_points(), lazy=True)
    assert reached == set(MODULES), (
        f"package modules no entry point imports: {sorted(set(MODULES) - reached)}"
    )
    test_only = set(MODULES) - _closure(_entry_points(), lazy=True, system=True)
    assert test_only <= RETAINED_UNREACHED, (
        "package modules only RETAINED_TEST_ONLY definitions import: "
        f"{sorted(test_only - RETAINED_UNREACHED)}"
    )
    assert RETAINED_UNREACHED <= test_only, (
        f"stale RETAINED_UNREACHED entries: {sorted(RETAINED_UNREACHED - test_only)}"
    )


CODECS = ("jpeg", "multimodal")


@pytest.mark.parametrize(
    "target", [f"{PKG}.pipeline", f"{PKG}.streaming.online_scorer"]
)
def test_import_loads_only_its_closure(target):
    closure = _closure([target], lazy=False)
    code = (
        "import importlib, json, sys\n"
        f"importlib.import_module({target!r})\n"
        f"print(json.dumps(sorted(m for m in sys.modules if m.split('.')[0] in ({PKG!r}, 'pyspark'))))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True,
        text=True, check=True,
    )
    modules = json.loads(out.stdout)
    # MLlib is nowhere on these paths: C2 is SQL plus driver arithmetic
    assert "pyspark.ml" not in modules
    loaded = {m for m in modules if m.split(".")[0] == PKG}
    assert target in loaded
    assert not loaded - closure, (
        f"{target} loads modules outside its import closure: "
        f"{sorted(loaded - closure)}"
    )
    assert not {m for m in loaded if m.startswith(f"{PKG}.plans.")}
    assert not {f"{PKG}.operators.{c}" for c in CODECS} & loaded


# --- (c) top-level definitions -------------------------------------------------

# Functions and classes that only tests reach, each kept with its tests until
# a change deletes both.  The list must stay exact: an entry that an entry
# point reaches, that no test names, or that is gone fails the guard too.
RETAINED_TEST_ONLY = frozenset(
    f"{PKG}.{mod}.{name}"
    for mod, names in (
        # reads Spark's storage status for the cache-scope tests
        ("cache", "persisted_rdd_count"),
        # two-op image and audio chains: references for the fused
        # *_payload_stats the catalog runs
        ("operators.multimodal",
         "attach_audio_payload attach_image_payload audio_stats image_stats"),
        # exact brute-force top-k the ANN recall gate compares against
        ("plans.similarity", "ann_topk_cosine"),
        # the streaming source and windowed features wait for a trigger
        # workload that drives them (ROADMAP item 2)
        ("plans.windows", "events_tumbling_window"),
        ("streaming.features", "windowed_features"),
        ("streaming.source", "events_stream"),
        # the online C6 reducer's batch reference
        ("streaming.stateful", "batch_segmentation_entropy_reference"),
    )
    for name in names.split()
)

TEST_FILES = sorted((ROOT / "tests").rglob("*.py")) + sorted(
    (ROOT / "exbench" / "tests").rglob("*.py")
)
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_IDENTIFIER = re.compile(r"[A-Za-z_][\w.]*")


def _definitions(mod: str) -> dict[str, ast.stmt]:
    """Top-level functions, classes and assigned names of ``mod``."""
    out = {}
    for node in _parse(MODULES[mod]).body:
        if isinstance(node, _DEFS):
            out[node.name] = node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            out.update((t.id, node) for t in targets if isinstance(t, ast.Name))
    return out


DEFINITIONS = {mod: _definitions(mod) for mod in MODULES}
BY_NAME: dict[str, set[tuple[str, str]]] = {}
for _mod, _defs in DEFINITIONS.items():
    for _name in _defs:
        BY_NAME.setdefault(_name, set()).add((_mod, _name))


@functools.cache
def _bindings(path: Path) -> dict[str, str | tuple[str, str]]:
    """What the package imports of ``path`` bind, lazy ones included: a
    name maps to a package module, or to the (module, name) it imports."""
    out: dict[str, str | tuple[str, str]] = {}
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG:
                    out[a.asname or PKG] = a.name if a.asname else PKG
        elif isinstance(node, ast.ImportFrom):
            module = _from_module(node, path)
            if module.split(".")[0] == PKG:
                for a in node.names:
                    sub = f"{module}.{a.name}"
                    out[a.asname or a.name] = sub if sub in MODULES else (module, a.name)
    return out


def _definition(mod: str, name: str, seen: frozenset = frozenset()):
    """The (module, name) that ``mod.name`` is, through re-exports."""
    if name in DEFINITIONS.get(mod, ()):
        return (mod, name)
    target = _bindings(MODULES[mod]).get(name) if mod in MODULES else None
    if isinstance(target, tuple) and target not in seen:
        return _definition(*target, seen | {target})
    return None


def _attribute(node: ast.Attribute, binds: dict) -> set[tuple[str, str]]:
    chain = []
    while isinstance(node, ast.Attribute):
        chain.append(node.attr)
        node = node.value
    target = binds.get(node.id) if isinstance(node, ast.Name) else None
    if not isinstance(target, str):
        # an attribute of a value: any definition of that name counts
        return BY_NAME.get(chain[0], set())
    for attr in reversed(chain):
        if f"{target}.{attr}" in MODULES:
            target = f"{target}.{attr}"
            continue
        found = _definition(target, attr)
        return {found} if found else set()
    return set()


def _named(node: ast.AST, path: Path, mod: str | None) -> set[tuple[str, str]]:
    """Definitions the code under ``node`` names.  ``mod`` is the package
    module ``path`` defines, if any.  A string that reads as a (dotted)
    identifier names every definition called like one of its parts, which
    covers lookups by name such as ``getattr`` and monkey-patching."""
    binds = _bindings(path)
    own = DEFINITIONS.get(mod, {})
    found = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            target = (mod, n.id) if n.id in own else binds.get(n.id)
            if isinstance(target, tuple):
                found.add(_definition(*target))
        elif isinstance(n, ast.Attribute):
            found |= _attribute(n, binds)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if _IDENTIFIER.fullmatch(n.value):
                for part in n.value.split("."):
                    found |= BY_NAME.get(part, set())
    found.discard(None)
    return found


def _is_query(node: ast.stmt) -> bool:
    for deco in getattr(node, "decorator_list", ()):
        fn = deco.func if isinstance(deco, ast.Call) else deco
        if getattr(fn, "id", getattr(fn, "attr", None)) == "query":
            return True
    return False


def _reached(scripts) -> set[tuple[str, str]]:
    """Fix point of the definitions named from the roots: the ``scripts``,
    every definition of a ``PACKAGE_ENTRIES`` module (``run_unbounded_scorer``,
    ``start_online_explainer``, ``rf_feature_importances``,
    ``summary_from_sinks``, ...), the ``@query`` catalog and the import-time
    statements of every module."""
    work: set[tuple[str, str]] = set()
    for path in scripts:
        work |= _named(_parse(path), path, None)
    for mod, defs in DEFINITIONS.items():
        entry = mod.removeprefix(f"{PKG}.") in PACKAGE_ENTRIES
        work |= {(mod, name) for name, node in defs.items() if entry or _is_query(node)}
        for node in _parse(MODULES[mod]).body:
            if not isinstance(node, (ast.Import, ast.ImportFrom)) and node not in defs.values():
                work |= _named(node, MODULES[mod], mod)
    reached: set[tuple[str, str]] = set()
    while work:
        mod, name = work.pop()
        if (mod, name) not in reached:
            reached.add((mod, name))
            work |= _named(DEFINITIONS[mod][name], MODULES[mod], mod) - reached
    return reached


def _qualified(defs) -> set[str]:
    return {f"{mod}.{name}" for mod, name in defs}


def test_every_definition_is_reached():
    scripts = [p for p in _entry_points() if isinstance(p, Path)]
    system = _reached(scripts)
    named = _reached(scripts + TEST_FILES)
    every = {(m, n) for m, defs in DEFINITIONS.items() for n in defs}
    unnamed = _qualified(every - named) - {f"{PKG}.__version__"}
    assert not unnamed, f"definitions no file names: {sorted(unnamed)}"
    callables = {d for d in every if isinstance(DEFINITIONS[d[0]][d[1]], _DEFS)}
    unreached = _qualified(callables - system)
    assert unreached <= RETAINED_TEST_ONLY, (
        "functions or classes no entry point reaches: "
        f"{sorted(unreached - RETAINED_TEST_ONLY)}"
    )
    assert RETAINED_TEST_ONLY <= unreached, (
        f"stale RETAINED_TEST_ONLY entries: {sorted(RETAINED_TEST_ONLY - unreached)}"
    )
