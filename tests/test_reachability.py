"""Every package module is reachable from an entry point.

The import graph is read from the AST only (nothing is imported, no Spark
session starts). The roots are the programs that run this package: the
query contract (``__spark_entry__.py``), the benchmark, the query bench
and the CLI. Imports inside function bodies count, because the package
imports lazily. A module that only tests import is unreached: delete it,
or wire it into an entry point.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "etl_python_sqlite_spark"
ROOTS = (
    "__spark_entry__.py",
    "perfbench/run.py",
    "bench.py",
    f"{PACKAGE}/__main__.py",
)
# module -> why it stays although no entry point imports it
UNREACHED_ALLOWED = {
    f"{PACKAGE}.streaming.pipeline": (
        "the ETL stream mirror over pipeline.load_frames (SURVEY §7 phase "
        "6); no entry point starts a stream"
    ),
}


def _module_file(name: str, search: tuple[Path, ...]) -> Path | None:
    parts = name.split(".")
    for base in search:
        for cand in (
            base.joinpath(*parts).with_suffix(".py"),
            base.joinpath(*parts, "__init__.py"),
        ):
            if cand.is_file():
                return cand
    return None


def _module_name(path: Path) -> str:
    rel = path.relative_to(REPO).with_suffix("")
    parts = list(rel.parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported_names(path: Path) -> set[str]:
    """Every module name an import statement anywhere in ``path`` names,
    with each ``from X import y`` also yielding ``X.y`` (y may be a
    submodule) and each dotted name its parent packages."""
    tree = ast.parse(path.read_text(), filename=str(path))
    here = _module_name(path).split(".")
    if path.name != "__init__.py":
        here = here[:-1]
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = here[: len(here) - node.level + 1]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            names.add(mod)
            names.update(f"{mod}.{a.name}" for a in node.names)
    out = set()
    for name in names:
        parts = name.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out


def reachable_modules() -> set[str]:
    # a root script's directory is on sys.path when it runs (perfbench's
    # helper modules); ``python -m`` puts only the working directory there
    scripts = [(REPO / r).parent for r in ROOTS if not r.startswith(PACKAGE)]
    search = tuple(dict.fromkeys([REPO, *scripts]))
    seen: set[Path] = set()
    todo = [REPO / r for r in ROOTS]
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for name in _imported_names(path):
            found = _module_file(name, search)
            if found is not None and found not in seen:
                todo.append(found)
    return {_module_name(p) for p in seen if p.is_relative_to(REPO / PACKAGE)}


def package_modules() -> set[str]:
    return {_module_name(p) for p in (REPO / PACKAGE).rglob("*.py")}


def test_every_package_module_is_reached_from_an_entry_point():
    # an allowed module's parent packages load with it
    allowed = {
        ".".join(name.split(".")[:i])
        for name in UNREACHED_ALLOWED
        for i in range(2, name.count(".") + 2)
    }
    unreached = package_modules() - reachable_modules() - allowed
    assert not unreached, (
        "package modules no entry point imports (delete them or wire them "
        f"into an entry point): {sorted(unreached)}"
    )


def test_allowed_exceptions_are_still_needed():
    for name, reason in UNREACHED_ALLOWED.items():
        assert name in package_modules(), f"{name} is gone; drop it ({reason})"
        assert name not in reachable_modules(), (
            f"{name} is now reached; drop its exception ({reason})"
        )
