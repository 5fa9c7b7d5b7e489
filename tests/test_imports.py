"""Dangling-import guard: every `blogparser_spark` import in the repo's
Python files resolves, including the function-level lazy imports (queries,
job, tests) that would otherwise fail only when their code path runs, and
so does every attribute read through a name bound to a package module
(`tl.append` after `from blogparser_spark.operators import tablelog as
tl`).

Static: the files are parsed with `ast` and modules are located with
`importlib.util.find_spec`; no SparkSession starts.
"""

from __future__ import annotations

import ast
import functools
import importlib.util
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "blogparser_spark"
SCANNED_DIRS = ("blogparser_spark", "tests", "tools", "perfbench")


def _py_files(root: Path) -> list[Path]:
    files = [root / "__spark_entry__.py"]
    for d in SCANNED_DIRS:
        files += sorted((root / d).rglob("*.py"))
    return [f for f in files if f.is_file()]


def _package_imports(path: Path) -> list[tuple[str, str | None, int]]:
    """(module, imported name or None, line) for every `blogparser_spark`
    import in `path`, at any nesting depth."""
    out: list[tuple[str, str | None, int]] = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out += [
                (a.name, None, node.lineno)
                for a in node.names
                if a.name.split(".")[0] == PKG
            ]
        elif (
            isinstance(node, ast.ImportFrom)
            and node.level == 0
            and (node.module or "").split(".")[0] == PKG
        ):
            out += [(node.module, a.name, node.lineno) for a in node.names]
    return out


@functools.cache
def _module_level_names(source: str) -> set[str]:
    """Names bound by the module's top-level defs, classes, assignments and
    imports."""
    names: set[str] = set()
    for node in ast.parse(source).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names |= {
                n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)
            }
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names |= {(a.asname or a.name).split(".")[0] for a in node.names}
    return names


@functools.cache
def _find_spec(module: str):
    try:
        return importlib.util.find_spec(module)
    except ModuleNotFoundError:  # a parent package is missing
        return None


def _is_package_module(module: str) -> bool:
    """Is `module` a module of the package (not a name inside one)?"""
    parent, _, _ = module.rpartition(".")
    if parent:
        spec = _find_spec(parent)
        if spec is None or spec.submodule_search_locations is None:
            return False
    return _find_spec(module) is not None


def _has(module: str, name: str) -> bool:
    """`name` is a submodule or a module-level name of `module`."""
    if _is_package_module(f"{module}.{name}"):
        return True
    return name in _module_level_names(Path(_find_spec(module).origin).read_text())


def _module_aliases(tree: ast.AST) -> dict[str, str]:
    """Name → `blogparser_spark` module for every import in the file that
    binds a module, at any nesting depth. A name bound to two different
    modules in one file is left out: which one an attribute read sees
    depends on scope."""
    bound: dict[str, set[str]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG:
                    name = a.asname or PKG
                    bound.setdefault(name, set()).add(a.name if a.asname else PKG)
        elif (
            isinstance(node, ast.ImportFrom)
            and node.level == 0
            and (node.module or "").split(".")[0] == PKG
        ):
            for a in node.names:
                if _is_package_module(f"{node.module}.{a.name}"):
                    bound.setdefault(a.asname or a.name, set()).add(
                        f"{node.module}.{a.name}"
                    )
    return {name: m for name, (m, *more) in bound.items() if not more}


def _module_attributes(tree: ast.AST) -> list[tuple[ast.Attribute, str]]:
    """(node, module) for every `alias.attr` whose `alias` is bound to a
    package module; `a.b.c` is followed while each step is a submodule."""
    aliases = _module_aliases(tree)

    def module_of(node) -> str | None:
        if isinstance(node, ast.Name):
            return aliases.get(node.id)
        if isinstance(node, ast.Attribute):
            m = module_of(node.value)
            if m is not None and _is_package_module(f"{m}.{node.attr}"):
                return f"{m}.{node.attr}"
        return None

    return [
        (node, module)
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and (module := module_of(node.value)) is not None
    ]


def _unresolved(files: list[Path]) -> list[str]:
    bad = []
    for path in files:
        for module, name, line in _package_imports(path):
            where = f"{path}:{line}"
            if _find_spec(module) is None:
                bad.append(f"{where}: no module {module}")
            elif name not in (None, "*") and not _has(module, name):
                bad.append(f"{where}: {module} has no {name}")
        tree = ast.parse(path.read_text(), str(path))
        for node, module in _module_attributes(tree):
            if not node.attr.startswith("__") and not _has(module, node.attr):
                bad.append(f"{path}:{node.lineno}: {module} has no {node.attr}")
    return bad


def test_every_package_import_resolves():
    files = _py_files(REPO)
    assert len(files) > 20
    assert _unresolved(files) == []


def test_guard_sees_lazy_imports():
    # queries.py's _prepare imports `shipping` inside the function body
    found = _package_imports(REPO / "blogparser_spark" / "queries.py")
    assert ("blogparser_spark.shipping", "ensure_shipped") in {
        (m, n) for m, n, _ in found
    }


def test_guard_sees_module_attributes():
    # queries.py binds `tl` to tablelog inside many function bodies
    tree = ast.parse((REPO / "blogparser_spark" / "queries.py").read_text())
    found = _module_attributes(tree)
    assert ("blogparser_spark.operators.tablelog", "append") in {
        (m, n.attr) for n, m in found
    }
    files = _py_files(REPO)
    assert sum(len(_module_attributes(ast.parse(f.read_text()))) for f in files) > 500


def test_guard_flags_missing_module_submodule_and_name(tmp_path):
    (tmp_path / "tools").mkdir()
    (tmp_path / "__spark_entry__.py").write_text("")
    (tmp_path / "tools" / "t.py").write_text(
        "import blogparser_spark.nope\n"
        "def f():\n"
        "    from blogparser_spark.nope.sub import x\n"
        "    from blogparser_spark.operators import no_such_module\n"
        "    from blogparser_spark.operators.parse import no_such_name\n"
        "    from blogparser_spark.operators.parse import parse_stage\n"
        "    from blogparser_spark.operators import tablelog as tl\n"
        "    tl.append, tl.no_such_fn\n"
    )
    bad = _unresolved(_py_files(tmp_path))
    assert [b.split(": ", 1)[1] for b in bad] == [
        "no module blogparser_spark.nope",
        "no module blogparser_spark.nope.sub",
        "blogparser_spark.operators has no no_such_module",
        "blogparser_spark.operators.parse has no no_such_name",
        "blogparser_spark.operators.tablelog has no no_such_fn",
    ]
