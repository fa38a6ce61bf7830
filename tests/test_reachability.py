"""Every library module, and every top-level function and class in it, is
reached from code that is not a test.

Modules: a static walk over ``import`` / ``from`` statements (function
bodies included: ``incremental_update`` imports ``sources.merge`` lazily)
from the driver entry ``__spark_entry__.py`` and the submit jobs
``jobs/*.py``. Definitions: a top-level ``def`` / ``class`` counts as
reached when a non-test source refers to its name outside its own body, or
when ``@query`` registers it. Code only tests reach is dead and is
deleted (or, when it is a test's reference implementation, moved into
that test), not kept for coverage.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "btc_blockchain_scanner_spark"
# the single-threaded reference the tests and the benchmark check against
ALLOWED = {f"{PKG}.kg.oracle"}


def _module_file(name: str) -> Path | None:
    base = ROOT.joinpath(*name.split("."))
    for f in (base.with_suffix(".py"), base / "__init__.py"):
        if f.is_file():
            return f
    return None


def _imports(name: str, path: Path) -> set[str]:
    """Package modules a file imports, with the packages above them."""
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            found |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.rsplit(".", node.level - 1)[0]
                base = f"{anchor}.{base}" if base else anchor
            found.add(base)
            # ``from pkg import mod`` reaches pkg.mod when it is a module
            found |= {f"{base}.{a.name}" for a in node.names}
    out = set()
    for mod in found:
        parts = mod.split(".")
        out |= {".".join(parts[:i]) for i in range(1, len(parts) + 1)}
    return {m for m in out if m.split(".")[0] == PKG and _module_file(m)}


def reached() -> set[str]:
    todo = [("__spark_entry__", ROOT / "__spark_entry__.py")]
    todo += [(f"jobs.{p.stem}", p) for p in sorted((ROOT / "jobs").glob("*.py"))]
    seen: set[str] = set()
    while todo:
        name, path = todo.pop()
        for mod in _imports(name, path) - seen:
            seen.add(mod)
            todo.append((mod, _module_file(mod)))
    return seen


def test_every_library_module_is_reached():
    modules = set()
    for f in (ROOT / PKG).rglob("*.py"):
        rel = f.relative_to(ROOT).with_suffix("")
        parts = rel.parts[:-1] if rel.name == "__init__" else rel.parts
        modules.add(".".join(parts))
    assert modules - reached() - ALLOWED == set()


def _sources() -> list[Path]:
    """The non-test Python files: package, jobs, driver entry, perfbench,
    tools and the root bench scripts."""
    files = sorted((ROOT / PKG).rglob("*.py")) + [ROOT / "__spark_entry__.py"]
    for d in ("jobs", "perfbench", "tools"):
        files += sorted((ROOT / d).glob("*.py"))
    return files + sorted(ROOT.glob("bench*.py"))


def _registered(node: ast.AST) -> bool:
    """Decorated ``@query(...)``: reached through the query registry."""
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", getattr(d.func, "attr", None)) == "query"
        for d in node.decorator_list
    )


def unreached_definitions() -> set[str]:
    """``module.name`` of each top-level function or class of the package
    that no non-test source refers to outside the definition itself."""
    defs, refs = [], {}
    allowed = {ROOT.joinpath(*m.split(".")).with_suffix(".py") for m in ALLOWED}
    for f in _sources():
        tree = ast.parse(f.read_text())
        if f.is_relative_to(ROOT / PKG) and f not in allowed:
            defs += [
                (f, n)
                for n in tree.body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not _registered(n)
            ]
        for n in ast.walk(tree):
            name = (
                n.id if isinstance(n, ast.Name)
                else n.attr if isinstance(n, ast.Attribute)
                else n.name.rpartition(".")[2] if isinstance(n, ast.alias)
                else None
            )
            if name:
                refs.setdefault(name, []).append((f, n.lineno))
    return {
        ".".join(f.relative_to(ROOT).with_suffix("").parts) + f".{d.name}"
        for f, d in defs
        if all(rf == f and d.lineno <= line <= d.end_lineno for rf, line in refs.get(d.name, []))
    }


def test_every_library_definition_is_reached():
    assert unreached_definitions() == set()
