"""Every module and every top-level function, class or constant under
``fhir_etl_spark/`` is reached from an entry point.

Pure ``ast``, no Spark, no imports executed. The entry points are the CLI,
the pipelines, the query registry, the driver contract
(``__spark_entry__.py``), ``bench.py`` and the benchmark's ``perfbench/``
scripts.

- **Modules.** An import walk from the entry files follows every
  ``import`` / ``from … import``, including imports inside functions.
  Importing ``a.b.c`` also runs ``a`` and ``a.b``'s ``__init__``, so
  parents count as reached.
- **Functions, classes and constants.** A constant is a module-level
  assignment to a name; dunders such as ``__all__`` are exempt. A name walk
  over the reached modules starts at their module-level code (decorators,
  default values and the values assigned to constants included), every def
  and constant in the entry files, every ``@query``-registered def, and
  every string constant in ``perfbench/`` (its tracer looks functions up
  by name). Each name or attribute it meets reaches every top-level def or
  constant of that name; a reached def's body is walked in turn.

What neither walk reaches is code only its own tests use: delete it with
its tests, or give it a caller. The one exception is an independent
reference model that a test checks the program against; it is listed in
``REFERENCE_MODELS`` with that test, and what its body uses counts as
reached.
"""

from __future__ import annotations

import ast
import functools
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "fhir_etl_spark"

# unreached def → the test that compares the program against it
REFERENCE_MODELS = {
    "fhir_uuid5_udf": "tests/test_identity.py::test_sql_udf_cpython_tripartite",
    "fold_py": "tests/test_unicode_fold.py::test_spark_matches_python_reference",
    "snapshot_history": "tests/test_versioned.py::test_time_travel",
    "structural_roundtrip": "tests/test_cli_schemas.py::test_structural_roundtrip_on_pipeline_output",
    "dc_only_pixel": "tests/test_multimodal.py::test_jpeg_constant_tiles_match_closed_form",
    "luma_histogram": "tests/test_multimodal.py::test_gif_frame_luma_histograms_matches_composition",
    "jpeg_dimensions": "tests/test_multimodal.py::test_jpeg_roundtrip_error_bounded",
}

_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


@functools.cache
def _tree(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


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
    for node in ast.walk(_tree(path)):
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


@functools.cache
def reached_modules() -> frozenset[str]:
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
    return frozenset(reached)


def _names(node: ast.AST) -> set[str]:
    """Every identifier ``node`` loads: bare names and attribute names."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "query"
        for d in getattr(node, "decorator_list", ())
    )


def _defined_names(node: ast.AST) -> list[str]:
    """The names a top-level statement defines: a def's or class's name, or
    the non-dunder names a plain or annotated assignment binds."""
    if isinstance(node, _DEF):
        return [node.name]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign) and node.value is not None:
        targets = [node.target]
    else:
        return []
    names = [
        n.id for t in targets for n in ast.walk(t)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
    ]
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


def _import_time(node: ast.AST) -> list[ast.AST]:
    """The parts of a top-level def or constant that run when its module is
    imported."""
    if not isinstance(node, _DEF):
        return [node.value]
    parts = list(node.decorator_list)
    if isinstance(node, ast.ClassDef):
        return parts + node.bases + [k.value for k in node.keywords]
    return parts + node.args.defaults + [d for d in node.args.kw_defaults if d]


@functools.cache
def unreached_defs() -> tuple[str, ...]:
    """``module::name`` of every top-level def, class or constant in a
    reached package module that the name walk does not reach."""
    entries = set(_roots())
    files = entries | {_module_path(m) for m in reached_modules()}
    defs: dict[str, list[tuple[Path, ast.AST]]] = {}
    todo: list[ast.AST] = []
    seen: set[int] = set()
    strings: set[str] = set()
    for path in files:
        tree = _tree(path)
        for node in tree.body:
            names = _defined_names(node)
            if not names:
                todo.append(node)
                continue
            for name in names:
                defs.setdefault(name, []).append((path, node))
            if path in entries or _registered(node):
                todo.append(node)
                seen.add(id(node))
            else:
                todo.extend(_import_time(node))
        if path.parent.name == "perfbench":
            strings.update(
                n.value for n in ast.walk(tree)
                if isinstance(n, ast.Constant) and isinstance(n.value, str)
            )

    def reach(names):
        for name in names:
            for _, node in defs.get(name, ()):
                if id(node) not in seen:
                    seen.add(id(node))
                    todo.append(node)

    reach(strings)
    # a reference model stays unreached, but what it uses is kept with it
    todo.extend(node for name in REFERENCE_MODELS for _, node in defs.get(name, ()))
    while todo:
        reach(_names(todo.pop()))
    return tuple(sorted(
        f"{_module_name(path)}::{name}"
        for name, found in defs.items()
        for path, node in found
        if id(node) not in seen and path.is_relative_to(ROOT / PKG)
    ))


def test_every_package_module_is_reached_from_an_entry_point():
    modules = {_module_name(p) for p in (ROOT / PKG).rglob("*.py")}
    unreached = sorted(modules - reached_modules())
    assert not unreached, (
        f"{len(unreached)} module(s) under {PKG}/ are reached by no CLI verb, "
        "pipeline, registered query, __spark_entry__.py, bench.py or "
        "perfbench/ script:\n  " + "\n  ".join(unreached)
    )


def test_every_top_level_def_is_reached_or_a_reference_model():
    unreached = [d for d in unreached_defs() if d.split("::")[1] not in REFERENCE_MODELS]
    assert not unreached, (
        f"{len(unreached)} top-level def(s) or constant(s) under {PKG}/ are "
        "reached from no entry point (delete them with their tests, or list an "
        "independent reference model in REFERENCE_MODELS):\n  "
        + "\n  ".join(unreached)
    )


def test_reference_models_are_unreached_and_used_by_their_test():
    unreached = {d.split("::")[1] for d in unreached_defs()}
    for name, test in REFERENCE_MODELS.items():
        assert name in unreached, f"{name} is reached now: drop it from REFERENCE_MODELS"
        path, test_name = test.split("::")
        (fn,) = [
            n for n in _tree(ROOT / path).body
            if isinstance(n, ast.FunctionDef) and n.name == test_name
        ]
        assert name in _names(fn), f"{test} does not use {name}"
