"""Dangling-import guard: every `blogparser_spark` import in the repo's
Python files resolves, including the function-level lazy imports (queries,
job, tests) that would otherwise fail only when their code path runs.

Static: the files are parsed with `ast` and modules are located with
`importlib.util.find_spec`; no SparkSession starts.
"""

from __future__ import annotations

import ast
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


def _find_spec(module: str):
    try:
        return importlib.util.find_spec(module)
    except ModuleNotFoundError:  # a parent package is missing
        return None


def _unresolved(files: list[Path]) -> list[str]:
    bad = []
    for path in files:
        for module, name, line in _package_imports(path):
            where = f"{path}:{line}"
            spec = _find_spec(module)
            if spec is None:
                bad.append(f"{where}: no module {module}")
                continue
            if name is None or name == "*":
                continue
            # `from pkg import x`: x is a submodule or a module-level name
            if spec.submodule_search_locations is not None and (
                _find_spec(f"{module}.{name}") is not None
            ):
                continue
            if name not in _module_level_names(Path(spec.origin).read_text()):
                bad.append(f"{where}: {module} has no {name}")
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
    )
    bad = _unresolved(_py_files(tmp_path))
    assert [b.split(": ", 1)[1] for b in bad] == [
        "no module blogparser_spark.nope",
        "no module blogparser_spark.nope.sub",
        "blogparser_spark.operators has no no_such_module",
        "blogparser_spark.operators.parse has no no_such_name",
    ]
