"""Every package module and every top-level function and class is reached
from an entry point.

Two static walks start from the repo's entry points: the ``run`` CLI, the
driver contract ``__spark_entry__.py``, ``bench.py``, ``bench_extra.py`` and
``perfbench/*.py``. Nothing is imported.

- Modules: the walk follows ``import`` / ``from ... import`` statements at
  any depth, so function-level imports count.
- Top-level names: the walk also counts the module-level code of every
  package module (the ``@register(...)`` decorators put all queries there).
  A top-level function or class is reached when a reached body uses its name
  as a ``Name``, an ``Attribute``, an import alias or an exact string
  constant; its body is then walked too, until nothing new is reached. A
  matching name always counts as a use, so the walk can keep dead code but
  never reports live code.

Anything only tests reach fails here, by name, unless ``ALLOWED`` lists it
with its reason.
"""

from __future__ import annotations

import ast
from collections import defaultdict
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

# Top-level names kept without a caller, each walked like an entry point.
ALLOWED = {
    f"{PKG}.functions.html_extract._scan_blocks_dispatch": (
        "the only reference the inline block scanner is tested against; the kernel is frozen"
    ),
    f"{PKG}.functions.html_extract._scan_events": (
        "the event tokenizer under _scan_blocks_dispatch, the scanner tests' reference"
    ),
    f"{PKG}.plans.queries._bpe_fuse": "the reference _bpe_fold_py is property-tested against",
    f"{PKG}.plans.queries.invalidate": "the documented _T_CACHE invalidation contract",
    f"{PKG}.operators.otsl_ops.html_to_otsl": (
        "builds the OTSL tags of tests/seeded_inputs.random_prediction"
    ),
    f"{PKG}.operators.otsl_ops.OtslTable": "the return type of html_to_otsl",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in sorted((ROOT / PKG).rglob("*.py")):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _imported_names(path: Path, modules: dict[str, Path]) -> set[str]:
    """Dotted names ``path`` may import: modules, their parent packages,
    and for ``from X import Y`` both X and X.Y (Y may be a submodule)."""
    package = path.relative_to(ROOT).parts[:-1]
    names: set[str] = set()
    for node in ast.walk(_parse(path)):
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


def _unreached_modules() -> list[str]:
    modules = _package_modules()
    todo = list(ENTRY_FILES)
    reached = {name for name, path in modules.items() if path in todo}
    while todo:
        for name in _imported_names(todo.pop(), modules) - reached:
            reached.add(name)
            todo.append(modules[name])
    return sorted(modules.keys() - reached)


def _used_names(node: ast.AST) -> set[str]:
    """Every name ``node`` may use: identifiers, attribute names, the last
    part of imported names and string constants."""
    used = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            used.add(n.id)
        elif isinstance(n, ast.Attribute):
            used.add(n.attr)
        elif isinstance(n, ast.alias):
            used.add(n.name.rpartition(".")[2])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            used.add(n.value)
    return used


def _top_level_defs() -> dict[str, ast.AST]:
    """``module.name`` → node of each top-level function and class."""
    return {
        f"{mod}.{node.name}": node
        for mod, path in _package_modules().items()
        for node in _parse(path).body
        if isinstance(node, _DEFS)
    }


def _unreached_names(allowed: set[str]) -> dict[str, int]:
    """Unreached top-level names (``module.name`` → line), walking the
    ``allowed`` names like entry points."""
    defs = _top_level_defs()
    by_name = defaultdict(list)
    for qual in defs:
        by_name[qual.rpartition(".")[2]].append(qual)
    todo: list[ast.AST] = [_parse(path) for path in ENTRY_FILES]
    for path in _package_modules().values():
        for node in _parse(path).body:
            if not isinstance(node, _DEFS):
                todo.append(node)
            else:
                todo.extend(node.decorator_list)
    # A def decorated by a call (``@register(name, oracle)``) is handed to
    # whatever the decorator does with it.
    reached = {q for q, n in defs.items() if any(isinstance(d, ast.Call) for d in n.decorator_list)}
    reached |= allowed
    todo.extend(defs[q] for q in reached if q in defs)
    while todo:
        for name in _used_names(todo.pop()):
            for qual in by_name.get(name, ()):
                if qual not in reached:
                    reached.add(qual)
                    todo.append(defs[qual])
    return {q: n.lineno for q, n in defs.items() if q not in reached}


def test_every_package_module_is_reached_from_an_entry_point():
    unreached = _unreached_modules()
    assert not unreached, (
        f"{len(unreached)} package modules are reached by no entry point "
        f"(run, __spark_entry__, bench, bench_extra, perfbench): {unreached}"
    )


def test_every_top_level_name_is_reached_from_an_entry_point():
    unreached = _unreached_names(set(ALLOWED))
    assert not unreached, (
        f"{len(unreached)} top-level functions/classes are reached by no entry point "
        "(run, __spark_entry__, bench, bench_extra, perfbench); delete them or add "
        f"them to ALLOWED with a reason: {[f'{q}:{line}' for q, line in unreached.items()]}"
    )


def test_allowed_names_exist_and_are_still_unreached():
    defs = _top_level_defs()
    assert all(reason.strip() for reason in ALLOWED.values())
    missing = sorted(set(ALLOWED) - defs.keys())
    assert not missing, f"ALLOWED names no longer defined: {missing}"
    reached = sorted(set(ALLOWED) - _unreached_names(set()).keys())
    assert not reached, f"ALLOWED names now reached from an entry point, drop them: {reached}"


def test_walk_follows_function_level_and_from_imports():
    # bench.py imports pipeline.extract inside a function; perfbench/ledger.py
    # uses `from docling_ibm_models_spark.pipeline import extract, lineage`.
    modules = _package_modules()
    names = _imported_names(ROOT / "bench.py", modules)
    assert f"{PKG}.pipeline.extract" in names and PKG in names
    names = _imported_names(ROOT / "perfbench" / "ledger.py", modules)
    assert {f"{PKG}.pipeline.extract", f"{PKG}.pipeline.lineage"} <= names
    # Name level: ledger.py calls `extract.extract_doc_text` (an attribute)
    # and wraps `lineage.committed_partitions` by its string name.
    used = _used_names(_parse(ROOT / "perfbench" / "ledger.py"))
    assert {"extract_doc_text", "committed_partitions"} <= used
