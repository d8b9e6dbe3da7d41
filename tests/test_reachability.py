"""Every module under ``fhir_etl_spark/`` is reached from an entry point.

A pure-``ast`` import walk (no Spark, no imports executed) starts at the
CLI, the pipelines, the query registry, the driver contract
(``__spark_entry__.py``), ``bench.py`` and the benchmark's ``perfbench/``
scripts, and follows every ``import`` / ``from … import`` — including
imports inside functions. Importing ``a.b.c`` also runs ``a`` and
``a.b``'s ``__init__``, so parents count as reached. A module no entry
point reaches is code only its own tests use: delete it with its tests,
or give it a caller.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "fhir_etl_spark"


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _module_path(name: str) -> Path | None:
    base = ROOT.joinpath(*name.split("."))
    for cand in (base / "__init__.py", base.with_suffix(".py")):
        if cand.is_file():
            return cand
    return None


def _imported_names(path: Path) -> set[str]:
    """Dotted names a file may import: each ``import x`` target, each
    ``from x import`` base, and ``x.y`` for every ``from x import y``
    (``y`` may be a submodule). The package uses absolute imports only."""
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return names


def _roots() -> list[Path]:
    pkg = ROOT / PKG
    return [
        pkg / "cli.py",
        *sorted((pkg / "pipelines").glob("*.py")),
        pkg / "queries" / "__init__.py",
        ROOT / "__spark_entry__.py",
        ROOT / "bench.py",
        *sorted((ROOT / "perfbench").glob("*.py")),
    ]


def reached_modules() -> set[str]:
    roots = _roots()
    reached = {_module_name(p) for p in roots if p.is_relative_to(ROOT / PKG)}
    todo = list(roots)
    while todo:
        for name in _imported_names(todo.pop()):
            parts = name.split(".")
            if parts[0] != PKG:
                continue
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                target = _module_path(mod)
                if target is not None and mod not in reached:
                    reached.add(mod)
                    todo.append(target)
    return reached


def test_every_package_module_is_reached_from_an_entry_point():
    modules = {_module_name(p) for p in (ROOT / PKG).rglob("*.py")}
    unreached = sorted(modules - reached_modules())
    assert not unreached, (
        f"{len(unreached)} module(s) under {PKG}/ are reached by no CLI verb, "
        "pipeline, registered query, __spark_entry__.py, bench.py or "
        "perfbench/ script:\n  " + "\n  ".join(unreached)
    )
