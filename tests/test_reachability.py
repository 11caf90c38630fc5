"""Every package module is reached from an entry point (queries, job, bench,
tools), and every top-level package function is referenced from one — a
module or function only its own tests use is dead code."""

import ast
import pathlib
import re

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


#: Functions only tests call, on purpose: the pure-Python twins tests compare
#: against.
TEST_ONLY = {
    f"{PKG}.oracle.oracle_match",
    f"{PKG}.oracle.oracle_counts",
}

ENTRIES = [ROOT / "__spark_entry__.py", ROOT / "bench.py", *sorted((ROOT / "tools").glob("*.py"))]


def _reached_modules() -> set[str]:
    todo = set().union(*(_imports(p) for p in ENTRIES)) | {f"{PKG}.jobs"}
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        parts = name.split(".")
        todo |= _imports(_module_file(name)) | {".".join(parts[:i]) for i in range(1, len(parts))}
    return seen


def _module_name(path: pathlib.Path) -> str:
    return ".".join(path.relative_to(ROOT).with_suffix("").parts).removesuffix(".__init__")


def _referenced_names(tree: ast.Module) -> set[str]:
    """Names a module refers to (Name, Attribute, import alias); a top-level
    function's references to itself do not count."""

    def refs(node: ast.AST) -> set[str]:
        out: set[str] = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add(n.name.rsplit(".", 1)[-1])
        return out

    names: set[str] = set()
    for stmt in tree.body:
        own = {stmt.name} if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)) else set()
        names |= refs(stmt) - own
    return names


def test_every_package_module_is_reached_from_an_entry_point():
    modules = {_module_name(p) for p in (ROOT / PKG).rglob("*.py") if p.read_text().strip()}
    assert sorted(modules - _reached_modules()) == []


def test_every_package_function_is_referenced_from_an_entry_point():
    """References count from the entries, the modules they reach and the
    benchmark harness (``perfbench``), never from tests or a function's own
    body."""
    files = [
        *ENTRIES,
        *sorted((ROOT / "perfbench").glob("*.py")),
        *(_module_file(m) for m in sorted(_reached_modules())),
    ]
    referenced = set().union(*(_referenced_names(ast.parse(p.read_text())) for p in files))
    unreferenced = {
        f"{_module_name(p)}.{stmt.name}"
        for p in (ROOT / PKG).rglob("*.py")
        for stmt in ast.parse(p.read_text()).body
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)) and stmt.name not in referenced
    }
    assert sorted(unreferenced - TEST_ONLY) == []


#: Defaulted parameters no caller passes, on purpose: input seams only tests
#: set, and hot-bucket guards that are off by default.
UNPASSED_OPTIONS = {
    f"{PKG}.plans.pipeline.run_pipeline.seq_df": "input seam: tests route a prepared sequence frame",
    f"{PKG}.plans.checkpoint.source_digest.pkg_dir": "input seam: tests digest a copied package",
    f"{PKG}.extras.similarity.centroids_from_parquet._io_stats": "input seam: tests read row-group counts",
    f"{PKG}.extras.dedup.simhash_candidates.max_bucket": "hot-bucket guard, a safety bound",
    f"{PKG}.extras.similarity.rhp_candidates.max_bucket": "hot-bucket guard, a safety bound",
}


def test_every_option_is_passed_by_a_caller():
    """Each defaulted parameter of a module-level function in ``extras/``,
    ``operators/``, ``plans/`` and ``entry_impl.py`` is passed, by keyword or by position, by a
    call in the package, ``tools/``, ``perfbench/``, ``bench.py`` or
    ``__spark_entry__.py``; one no caller varies is a constant. Calls
    resolve by name."""
    files = [
        *(ROOT / PKG).rglob("*.py"),
        *(ROOT / "tools").glob("*.py"),
        *(ROOT / "perfbench").glob("*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]
    calls: dict[str, list[ast.Call]] = {}
    for path in files:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                calls.setdefault(name, []).append(node)

    def passes(call: ast.Call, index: int | None, name: str) -> bool:
        if any(kw.arg in (name, None) for kw in call.keywords):
            return True
        starred = any(isinstance(a, ast.Starred) for a in call.args)
        return index is not None and (len(call.args) > index or starred)

    scanned = [
        *(p for sub in ("extras", "operators", "plans") for p in sorted((ROOT / PKG / sub).glob("*.py"))),
        ROOT / PKG / "entry_impl.py",
    ]
    unpassed = set()
    for path in scanned:
        for fn in ast.parse(path.read_text()).body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            positional = fn.args.posonlyargs + fn.args.args
            first = len(positional) - len(fn.args.defaults)
            options = [(i, a.arg) for i, a in enumerate(positional) if i >= first]
            options += [
                (None, a.arg)
                for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
                if d is not None
            ]
            unpassed |= {
                f"{_module_name(path)}.{fn.name}.{name}"
                for i, name in options
                if not any(passes(c, i, name) for c in calls.get(fn.name, []))
            }
    # both ways: an allow-listed option a caller now passes leaves the list
    assert sorted(unpassed ^ UNPASSED_OPTIONS.keys()) == []


def test_one_regex_executor():
    """Only the matcher's kernel calls Arrow's regex kernels, and no package
    module runs a pattern on Java's regex dialect (Spark ``rlike`` or
    ``regexp_like``, or a ``to_jvm_pattern`` spelling for them): either is a
    second executor. ``regexp_extract`` over an events field reads no head
    or template pattern."""
    kernels = {"extract_regex", "match_substring_regex"}
    jvm = re.compile(r"(?i)\b(?:rlike|regexp_like|to_jvm_pattern)\b")
    files = {_module_name(p): p.read_text() for p in (ROOT / PKG).rglob("*.py")}
    callers = {m for m, text in files.items() if kernels & _referenced_names(ast.parse(text))}
    assert callers <= {f"{PKG}.operators.matcher"}
    assert {m: jvm.findall(text) for m, text in files.items() if jvm.search(text)} == {}


def test_every_pipeline_read_names_its_schema():
    """No ``plans/``, ``streaming/`` or ``operators/`` module reads parquet
    without a schema: each table has one reader, under the schema its writer
    recorded, so no read runs a schema-inference job."""
    found = {
        str(p.relative_to(ROOT)): text.count(".read.parquet(")
        for sub in ("plans", "streaming", "operators")
        for p in sorted((ROOT / PKG / sub).glob("*.py"))
        if ".read.parquet(" in (text := p.read_text())
    }
    assert found == {}
