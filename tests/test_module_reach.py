"""Every package module is reached from an entry point.

A static walk over ``import`` / ``from ... import`` statements (any depth,
so function-level imports count) starting from the repo's entry points:
the ``run`` CLI, the driver contract ``__spark_entry__.py``, ``bench.py``,
``bench_extra.py`` and ``perfbench/*.py``. Nothing is imported; a module
that only tests import fails here, by name.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "docling_ibm_models_spark"

ENTRY_FILES = [
    ROOT / PKG / "run.py",
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    ROOT / "bench_extra.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
]

# Kept without a caller, and walked like an entry point. compaction: per-chunk
# dynamic-partition commits leave small files under doc_text/, and ROADMAP
# keeps this module for a future `run compact` subcommand over them.
UNREACHED_ALLOWED = {f"{PKG}.pipeline.compaction"}


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in sorted((ROOT / PKG).rglob("*.py")):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imported_names(path: Path, modules: dict[str, Path]) -> set[str]:
    """Dotted names ``path`` may import: modules, their parent packages,
    and for ``from X import Y`` both X and X.Y (Y may be a submodule)."""
    package = path.relative_to(ROOT).parts[:-1]
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package[: len(package) - node.level + 1]
                base_name = ".".join([*base, *([node.module] if node.module else [])])
            else:
                base_name = node.module
            names.add(base_name)
            names.update(f"{base_name}.{alias.name}" for alias in node.names)
    out = set()
    for name in names:
        parts = name.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out & modules.keys()


def _unreached() -> list[str]:
    modules = _package_modules()
    todo = [*ENTRY_FILES, *(modules[m] for m in UNREACHED_ALLOWED)]
    reached = {name for name, path in modules.items() if path in todo}
    while todo:
        for name in _imported_names(todo.pop(), modules) - reached:
            reached.add(name)
            todo.append(modules[name])
    return sorted(modules.keys() - reached - UNREACHED_ALLOWED)


def test_every_package_module_is_reached_from_an_entry_point():
    unreached = _unreached()
    assert not unreached, (
        f"{len(unreached)} package modules are reached by no entry point "
        f"(run, __spark_entry__, bench, bench_extra, perfbench): {unreached}"
    )


def test_walk_follows_function_level_and_from_imports():
    # bench.py imports pipeline.extract inside a function; perfbench/ledger.py
    # uses `from docling_ibm_models_spark.pipeline import extract, lineage`.
    modules = _package_modules()
    names = _imported_names(ROOT / "bench.py", modules)
    assert f"{PKG}.pipeline.extract" in names and PKG in names
    names = _imported_names(ROOT / "perfbench" / "ledger.py", modules)
    assert {f"{PKG}.pipeline.extract", f"{PKG}.pipeline.lineage"} <= names
