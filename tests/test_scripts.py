"""Scripts guard: nothing in the test suite runs scripts/*.py, so a
syntax error or an import of a deleted sibling script would only show
when someone next runs it by hand. Every script must compile, and every
module it imports must resolve: installed, in the package, or a file in
scripts/ (or tests/, which some probes put on their path)."""

from __future__ import annotations

import ast
import importlib.util
import py_compile
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = sorted((ROOT / "scripts").glob("*.py"))
LOCAL_DIRS = (ROOT / "scripts", ROOT / "tests", ROOT)


def _imported_modules(path: Path) -> set[str]:
    mods: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            mods.update(a.name.split(".")[0] for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            mods.add(node.module.split(".")[0])
    return mods


def _resolves(mod: str) -> bool:
    if any((d / f"{mod}.py").is_file() or (d / mod / "__init__.py").is_file() for d in LOCAL_DIRS):
        return True
    return mod in sys.builtin_module_names or importlib.util.find_spec(mod) is not None


def test_scripts_compile(tmp_path):
    assert SCRIPTS
    for path in SCRIPTS:
        py_compile.compile(str(path), cfile=str(tmp_path / "out.pyc"), doraise=True)


def test_script_imports_resolve():
    dangling = {
        path.name: missing
        for path in SCRIPTS
        if (missing := sorted(m for m in _imported_modules(path) if not _resolves(m)))
    }
    assert not dangling, f"scripts import modules that do not exist: {dangling}"
