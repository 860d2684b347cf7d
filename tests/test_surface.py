"""Every package module is reachable from the served surface.

A stdlib-``ast`` walk follows every import, lazy ones inside functions
included, from the roots the engine is used through: the driver
contract, the bench and its registry, the HTTP API, the run DAGs, the
serving layer and the end-to-end benchmark. A module only a test
imports is dead weight; a module the walk cannot reach must be one of
the paper components listed below, which are kept on purpose until
they are wired in.
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
