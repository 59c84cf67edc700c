"""Every import in the tree resolves, without running any of it.

Parses each ``.py`` file of the package, ``scripts/``, ``tests/``,
``perfbench/`` and the repo root, and checks every import statement,
including those inside functions, which an import-time check never
reaches. A module resolves against the file's own directory (scripts
are run as ``python scripts/x.py``), the repo root, or the installed
packages. A ``from m import name`` whose ``m`` is a repo module must
also find ``name`` there, as a submodule or a top-level binding.
Imports guarded by ``try: ... except ImportError`` are optional and
exempt. Pure Python: no Spark session.
"""

from __future__ import annotations

import ast
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
TREES = ("open_rust_timeseries_db_spark", "scripts", "tests", "perfbench")
OPTIONAL = {"ImportError", "ModuleNotFoundError"}


def _sources() -> list[Path]:
    files = sorted(ROOT.glob("*.py"))
    for tree in TREES:
        files += sorted(
            p for p in (ROOT / tree).rglob("*.py") if "__pycache__" not in p.parts
        )
    return files


def _catches_import_error(handler: ast.ExceptHandler) -> bool:
    t = handler.type
    names = t.elts if isinstance(t, ast.Tuple) else [t]
    return any(isinstance(n, ast.Name) and n.id in OPTIONAL for n in names)


def _imports(tree: ast.AST):
    """Yield every Import/ImportFrom node not under an ImportError guard."""
    guarded: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Try) and any(
            _catches_import_error(h) for h in node.handlers
        ):
            for stmt in node.body:
                guarded.update(id(n) for n in ast.walk(stmt))
    for node in ast.walk(tree):
        if isinstance(node, (ast.Import, ast.ImportFrom)) and id(node) not in guarded:
            yield node


def _local_path(base: Path, parts: list[str]) -> Path | None:
    """The file or package directory ``parts`` names under ``base``."""
    path = base
    for part in parts:
        if (path / part).is_dir():  # a package, or a namespace package
            path = path / part
        elif (path / f"{part}.py").is_file():
            path = path / f"{part}.py"
        else:
            return None
    return path


def _bindings(path: Path) -> set[str] | None:
    """Top-level names a local module binds (None: any name may exist)."""
    init = path / "__init__.py" if path.is_dir() else path
    if not init.is_file():
        return set()
    names: set[str] = set()
    stack = list(ast.parse(init.read_text()).body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if node.name == "__getattr__":
                return None
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                if alias.name == "*":
                    return None
                names.add(alias.asname or alias.name.split(".")[0])
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
        elif isinstance(node, (ast.If, ast.Try, ast.With, ast.For, ast.While)):
            for field in ("body", "orelse", "finalbody", "handlers"):
                stack.extend(getattr(node, field, []))
        elif isinstance(node, ast.ExceptHandler):
            stack.extend(node.body)
    return names


def _installed(module: str) -> bool:
    try:
        return importlib.util.find_spec(module) is not None
    except ModuleNotFoundError:  # a parent package is missing
        return False


def _unresolved(src: Path, node: ast.Import | ast.ImportFrom) -> list[str]:
    if isinstance(node, ast.Import):
        modules = [(a.name, []) for a in node.names]
    else:
        modules = [(node.module or "", [a.name for a in node.names])]
    relative = isinstance(node, ast.ImportFrom) and node.level > 0
    bases = [src.parents[node.level - 1]] if relative else [src.parent, ROOT]
    bad = []
    for module, names in modules:
        parts = module.split(".") if module else []
        local = next(
            (p for b in bases if (p := _local_path(b, parts)) is not None), None
        )
        if local is None:
            if relative or not _installed(module):
                bad.append(module or ".")
            continue
        bound = _bindings(local)
        for name in names:
            if name == "*" or bound is None or name in bound:
                continue
            if not (local.is_dir() and _local_path(local, [name])):
                bad.append(f"{module}.{name}")
    return bad


def test_every_import_resolves():
    checked, unresolved = 0, []
    for src in _sources():
        for node in _imports(ast.parse(src.read_text(), filename=str(src))):
            checked += 1
            unresolved += [
                f"{src.relative_to(ROOT)}:{node.lineno}: {name}"
                for name in _unresolved(src, node)
            ]
    assert checked > 500, f"only {checked} imports found; is the walk broken?"
    assert not unresolved, "unresolved imports:\n" + "\n".join(unresolved)
