"""Every package module is reachable from the served surface.

A stdlib-``ast`` walk follows every import, lazy ones inside functions
included, from the roots the engine is used through: the driver
contract, the bench and its registry, the HTTP API, the run DAGs, the
serving layer and the end-to-end benchmark. A module only a test
imports is dead weight; a module the walk cannot reach must be one of
the paper components listed below, which are kept on purpose until
they are wired in. The served modules that turn driver rows into a
frame must do it through ``session.local_frame``.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "bigdatasmallprice_spark"

ROOTS = (
    "__spark_entry__",
    "bench",
    f"{PKG}.registry",
    f"{PKG}.queries",
    f"{PKG}.api",
    f"{PKG}.runs",
    f"{PKG}.serving",
    *sorted(f"e2ebench.{p.stem}" for p in (REPO / "e2ebench").glob("*.py")),
)

# Paper components no served path imports yet, each with its reason.
UNWIRED = {
    f"{PKG}.scheduler": "the pipeline's daily refresh cadence (Airflow analog)",
    f"{PKG}.operators.rollup": "incrementally refreshed continuous aggregates",
    f"{PKG}.sources.bafu": "BAFU hydrology collector parser",
    f"{PKG}.sources.tolerant": "dead-letter routing for malformed collector records",
}

# Served modules that hand rows they hold on the driver to Spark do so
# through session.local_frame (an Arrow local relation, no Python
# worker); a createDataFrame or parallelize call there needs a reason.
LOCAL_ROWS_MODULES = tuple(f"{PKG}.{m}" for m in ("ingest", "modelstore", "serving", "api", "export"))
PICKLED_ROWS_ALLOWED = {
    (f"{PKG}.modelstore", "load_word_vectors"): "word2vec vectors are model-sized, up to millions of rows",
}


def _path(module: str) -> Path | None:
    base = REPO.joinpath(*module.split("."))
    for p in (base / "__init__.py", base.with_suffix(".py")):
        if p.is_file():
            return p
    return None


def _imports(path: Path) -> set[str]:
    """Repo modules the file at ``path`` imports, with their parent
    packages. The package uses absolute imports only."""
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    found = set()
    for name in names:
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if _path(prefix) is not None:
                found.add(prefix)
    return found


def _reachable() -> set[str]:
    seen: set[str] = set()
    todo = list(ROOTS)
    while todo:
        module = todo.pop()
        if module not in seen:
            seen.add(module)
            todo.extend(_imports(_path(module)) - seen)
    return seen


def _package_modules() -> set[str]:
    out = set()
    for p in (REPO / PKG).rglob("*.py"):
        parts = p.relative_to(REPO).with_suffix("").parts
        out.add(".".join(parts[:-1] if parts[-1] == "__init__" else parts))
    return out


def test_only_unwired_paper_components_are_unreachable():
    assert all(_path(r) is not None for r in ROOTS), ROOTS
    unreachable = _package_modules() - _reachable()
    assert unreachable == set(UNWIRED), sorted(unreachable ^ set(UNWIRED))


def _row_handoffs(module: str) -> set[tuple[str, str | None]]:
    """(module, innermost enclosing function) of every ``createDataFrame``
    or ``parallelize`` call in the module."""
    found: set[tuple[str, str | None]] = set()

    def visit(node: ast.AST, fn: str | None) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in ("createDataFrame", "parallelize")
            ):
                found.add((module, fn))
            visit(child, fn)

    visit(ast.parse(_path(module).read_text()), None)
    return found


def test_served_modules_hand_driver_rows_over_as_local_frames():
    found = set().union(*(_row_handoffs(m) for m in LOCAL_ROWS_MODULES))
    assert found == set(PICKLED_ROWS_ALLOWED), sorted(found ^ set(PICKLED_ROWS_ALLOWED), key=str)
