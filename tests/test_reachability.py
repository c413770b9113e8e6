"""Every package module and function is reachable from an entry point.

The graphs are read from the AST only (nothing is imported, no Spark
session starts). The roots are the programs that run this package: the
query contract (``__spark_entry__.py``), the benchmark, the query bench
and the CLI. Imports inside function bodies count, because the package
imports lazily. A module that only tests import is unreached: delete it,
or wire it into an entry point.

Functions are checked by name, conservatively: a function, class or
method of a reached module is reached when live code names it — as a
name, an attribute, an identifier string (``getattr`` and perfbench's
wrapper list look names up that way) or the source of an ``import ...
as``. Live code is every root and helper script, each allowed unreached
module, each reached module's top-level statements, and the bodies of
reached functions. A function
that only tests call is unreached: delete it, or call it from an entry
point.

Top-level assignments are checked the same way: a constant of a reached
module that no live code names is unreached, and so is one that only
tests read (move it into the test). Dunders (``__all__``) are exempt.
Last, every name an import binds must be read in the scope of the
import (the module, or the function a lazy import sits in); a re-export
says so with ``# noqa: F401``.
"""

from __future__ import annotations

import ast
import re
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
# function -> why it stays although no entry point calls it
UNCALLED_ALLOWED = {
    f"{PACKAGE}.operators.clustering._quantize_py": (
        "the CPython replay of the Spark quantizer that the k-means tests "
        "compare against"
    ),
    f"{PACKAGE}.operators.cache.release_all": (
        "frees every stage memo; it isolates the tests from each other"
    ),
    f"{PACKAGE}.pipeline.migrate_fact_if_needed": (
        "the legacy-fact migration (SURVEY S7) that ROADMAP item 4 "
        "extends to etl_runs"
    ),
}
_IDENTIFIER = re.compile(r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*")


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


def reached_files() -> set[Path]:
    """Every file the roots import, the roots included."""
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
    return seen


def reachable_modules() -> set[str]:
    return {_module_name(p) for p in reached_files() if p.is_relative_to(REPO / PACKAGE)}


def package_modules() -> set[str]:
    return {_module_name(p) for p in (REPO / PACKAGE).rglob("*.py")}


def _names_used(nodes) -> set[str]:
    """Every name the AST ``nodes`` may refer to a definition by."""
    out: set[str] = set()
    for node in nodes:
        for x in ast.walk(node):
            if isinstance(x, ast.Name):
                out.add(x.id)
            elif isinstance(x, ast.Attribute):
                out.add(x.attr)
            elif isinstance(x, ast.alias) and x.asname:
                out.add(x.name.split(".")[-1])
            elif (
                isinstance(x, ast.Constant)
                and isinstance(x.value, str)
                and _IDENTIFIER.fullmatch(x.value)
            ):
                out.update(x.value.split("."))
    return out


def _dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def _definitions(path: Path):
    """(qualified name, bare name, AST nodes a reach makes live) for each
    top-level function, class and assigned name of ``path`` and each
    method of its classes, and the module's other top-level statements.
    A class's own nodes are its bases, decorators, non-function
    statements and dunder methods (Python calls those implicitly)."""
    module = _module_name(path)
    defs, rest = [], []
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    for st in ast.parse(path.read_text(), filename=str(path)).body:
        if isinstance(st, funcs):
            defs.append((f"{module}.{st.name}", st.name, [st]))
        elif isinstance(st, ast.ClassDef):
            own = [*st.bases, *st.keywords, *st.decorator_list]
            for m in st.body:
                if isinstance(m, funcs) and not _dunder(m.name):
                    defs.append((f"{module}.{st.name}.{m.name}", m.name, [m]))
                else:
                    own.append(m)
            defs.append((f"{module}.{st.name}", st.name, own))
        elif isinstance(st, (ast.Assign, ast.AnnAssign)):
            targets = st.targets if isinstance(st, ast.Assign) else [st.target]
            names = [
                n.id
                for t in targets
                for n in ast.walk(t)
                if isinstance(n, ast.Name) and not _dunder(n.id)
            ]
            defs += [(f"{module}.{n}", n, [st]) for n in names]
            if not names:
                rest.append(st)
        else:
            rest.append(st)
    return defs, rest


def unreached_definitions() -> set[str]:
    """Qualified names of the definitions in reached package modules that
    no live code names. An allowed function's body is live: what it
    needs stays."""
    package = REPO / PACKAGE
    allowed_files = {_module_file(name, (REPO,)) for name in UNREACHED_ALLOWED}
    live, defs = [], []
    for path in reached_files() | allowed_files:
        if path.is_relative_to(package) and path not in allowed_files:
            found, rest = _definitions(path)
            defs += found
            live += rest
        else:
            live.append(ast.parse(path.read_text(), filename=str(path)))
    used = _names_used(live)
    for qual, _, nodes in defs:
        if qual in UNCALLED_ALLOWED:
            used |= _names_used(nodes)
    pending = defs
    while True:
        reached = [d for d in pending if d[1] in used]
        if not reached:
            return {qual for qual, _, _ in pending}
        pending = [d for d in pending if d[1] not in used]
        for _, _, nodes in reached:
            used |= _names_used(nodes)


def _own_nodes(scope):
    """The nodes of ``scope`` outside the functions nested in it."""
    todo = list(ast.iter_child_nodes(scope))
    while todo:
        node = todo.pop()
        yield node
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            todo.extend(ast.iter_child_nodes(node))


def unread_imports() -> set[str]:
    """``scope.name`` for each name an import in a package module binds
    that its scope never reads. A read is a loaded name or an
    identifier string (``__all__``) anywhere in the scope, nested
    functions included."""
    out = set()
    for path in (REPO / PACKAGE).rglob("*.py"):
        src = path.read_text()
        lines = src.splitlines()
        tree = ast.parse(src, filename=str(path))
        module = _module_name(path)
        scopes = [(module, tree)] + [
            (f"{module}.{f.name}", f)
            for f in ast.walk(tree)
            if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for qual, scope in scopes:
            reads = {
                x.id
                for x in ast.walk(scope)
                if isinstance(x, ast.Name) and isinstance(x.ctx, ast.Load)
            } | {
                part
                for x in ast.walk(scope)
                if isinstance(x, ast.Constant)
                and isinstance(x.value, str)
                and _IDENTIFIER.fullmatch(x.value)
                for part in x.value.split(".")
            }
            for st in _own_nodes(scope):
                if not isinstance(st, (ast.Import, ast.ImportFrom)):
                    continue
                if isinstance(st, ast.ImportFrom) and st.module == "__future__":
                    continue
                for a in st.names:
                    bound = a.asname or (
                        a.name.split(".")[0] if isinstance(st, ast.Import) else a.name
                    )
                    noqa = any(
                        "noqa: F401" in lines[n - 1] for n in (st.lineno, a.lineno)
                    )
                    exempt = bound == "*" or _dunder(bound) or noqa
                    if not exempt and bound not in reads:
                        out.add(f"{qual}.{bound}")
    return out


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


def _package_assignments() -> set[str]:
    return {
        qual
        for path in (REPO / PACKAGE).rglob("*.py")
        for qual, _, nodes in _definitions(path)[0]
        if isinstance(nodes[0], (ast.Assign, ast.AnnAssign))
    }


def test_every_package_function_is_reached_from_an_entry_point():
    unreached = unreached_definitions() - _package_assignments() - set(UNCALLED_ALLOWED)
    assert not unreached, (
        "package functions no entry point reaches (delete them or call "
        f"them from an entry point): {sorted(unreached)}"
    )


def test_every_package_constant_is_named_by_live_code():
    unreached = unreached_definitions() & _package_assignments()
    assert not unreached, (
        "module-level names no entry point reads (delete them, or move "
        f"them into the test that reads them): {sorted(unreached)}"
    )


def test_every_imported_name_is_read():
    unread = unread_imports()
    assert not unread, (
        "imported names their scope never reads (delete the import, or "
        f"mark a re-export '# noqa: F401'): {sorted(unread)}"
    )


def test_allowed_exceptions_are_still_needed():
    for name, reason in UNREACHED_ALLOWED.items():
        assert name in package_modules(), f"{name} is gone; drop it ({reason})"
        assert name not in reachable_modules(), (
            f"{name} is now reached; drop its exception ({reason})"
        )
    defined = {
        qual
        for path in (REPO / PACKAGE).rglob("*.py")
        for qual, _, _ in _definitions(path)[0]
    }
    uncalled = unreached_definitions()
    for name, reason in UNCALLED_ALLOWED.items():
        assert name in defined, f"{name} is gone; drop it ({reason})"
        assert name in uncalled, (
            f"{name} is now reached; drop its exception ({reason})"
        )
