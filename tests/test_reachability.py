"""Every package module is reached from an entry point (queries, job, bench,
tools) — a module only its own tests import is dead code."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = "log_parser_cli_spark"


def _module_file(name: str) -> pathlib.Path | None:
    base = ROOT.joinpath(*name.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def _imports(path: pathlib.Path) -> set[str]:
    """Package modules imported anywhere in ``path``, function bodies included;
    ``from pkg.mod import name`` counts ``pkg.mod.name`` when it is a module."""
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return {n for n in names if n.split(".")[0] == PKG and _module_file(n)}


def test_every_package_module_is_reached_from_an_entry_point():
    entries = [ROOT / "__spark_entry__.py", ROOT / "bench.py", *sorted((ROOT / "tools").glob("*.py"))]
    todo = set().union(*(_imports(p) for p in entries)) | {f"{PKG}.jobs"}
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        parts = name.split(".")
        todo |= _imports(_module_file(name)) | {".".join(parts[:i]) for i in range(1, len(parts))}
    modules = {
        ".".join(p.relative_to(ROOT).with_suffix("").parts).removesuffix(".__init__")
        for p in (ROOT / PKG).rglob("*.py")
        if p.read_text().strip()
    }
    assert sorted(modules - seen) == []
