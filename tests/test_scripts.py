"""Scripts guard: a syntax error or an import of a deleted sibling script
would only show when someone next runs it by hand. Every script must
compile, and every module it imports must resolve: installed, in the
package, or a file in scripts/ (or tests/, which some probes put on their
path). The planted-truth runner's exact rungs also run here, at smoke
scale. A dead-name guard keeps every top-level name of the package in
use, no program hard-codes its local core count, and QUERIES.md is what
the catalog generator writes from the registry."""

from __future__ import annotations

import ast
import importlib.util
import json
import py_compile
import re
import sys
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "healthcare_aihw_etl_pipeline_spark"
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


def _load_script(name: str):
    spec = importlib.util.spec_from_file_location(name, ROOT / "scripts" / f"{name}.py")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_query_catalog_matches_registry():
    catalog = _load_script("gen_query_catalog")
    assert (ROOT / "QUERIES.md").read_text() == catalog.render(), (
        "QUERIES.md is stale: run python scripts/gen_query_catalog.py"
    )


def test_planted_truth_exact_rungs_pass_at_smoke(spark, tmp_path):
    runner = _load_script("planted_truth")
    out = tmp_path / "planted.json"
    argv = [
        "--scale", "smoke",
        "--rungs", "triangles,golden,clusters,jaccard,keepbest,dupspan",
        "--root", str(tmp_path / "corpora"),
        "--out", str(out),
    ]
    assert runner.main(argv, spark=spark) == 0
    section = json.loads(out.read_text())["smoke"]
    passed = {
        "triangles": section["triangles"]["match"],
        "golden_record": section["golden_record"]["match"],
        "dedup_transitive_clusters": section["dedup_transitive_clusters"]["ok"],
        "jaccard_pair_similarity": section["jaccard_pair_similarity"]["ok"],
        "embedding_cluster_keep_best": section["embedding_cluster_keep_best"]["ok"],
        "dup_span": section["dup_span"]["exact_top20_match"],
    }
    assert all(passed.values()), passed


def _top_level_names(path: Path):
    for node in ast.parse(path.read_text(), str(path)).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name
        elif isinstance(node, ast.Assign):
            yield from (t.id for t in node.targets if isinstance(t, ast.Name))
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            yield node.target.id


def test_no_dead_top_level_names():
    """Every top-level def, class or constant of the package is named
    somewhere in the package, tests/, scripts/ or bench.py besides its
    own definition (word-boundary match, so a name that several modules
    define needs more mentions than definitions). ``__all__`` and
    ``__version__`` are read by protocol, not by name."""
    pkg = sorted(PACKAGE.rglob("*.py"))
    corpus = [*pkg, *(ROOT / "tests").glob("*.py"), *SCRIPTS, ROOT / "bench.py"]
    words = Counter(re.findall(r"\w+", "\n".join(p.read_text() for p in corpus)))
    defs = Counter(name for path in pkg for name in _top_level_names(path))
    dead = sorted(
        n for n, k in defs.items() if words[n] <= k and n not in ("__all__", "__version__")
    )
    assert not dead, f"top-level names referenced nowhere: {dead}"


def _docstrings(tree: ast.AST):
    scopes = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
    for node in ast.walk(tree):
        if isinstance(node, scopes) and ast.get_docstring(node) is not None:
            yield node.body[0].value


def test_no_hardcoded_local_master():
    """Local parallelism comes from ``session.local_cpus()``: no string
    literal in the package, scripts/ or bench.py names a fixed
    ``local[<digits>]`` master. Docstrings and comments that cite a
    measurement's host are exempt."""
    fixed = re.compile(r"local\[\d+\]")
    hits = []
    for path in [*PACKAGE.rglob("*.py"), *SCRIPTS, ROOT / "bench.py"]:
        tree = ast.parse(path.read_text(), str(path))
        docs = {id(node) for node in _docstrings(tree)}
        hits += [
            f"{path.relative_to(ROOT)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docs
            and fixed.search(node.value)
        ]
    assert not hits, f"hard-coded local[N] masters: {hits}"


def _is_table_rows(node: ast.AST) -> bool:
    return isinstance(node, ast.Call) and "table_rows" in (
        getattr(node.func, "id", None),
        getattr(node.func, "attr", None),
    )


def _is_size_read(node: ast.AST) -> bool:
    """A ``table_rows(...)`` footer read or a DataFrame ``.count()``."""
    return _is_table_rows(node) or (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "count"
        and not node.args
    )


def _hand_rolled_gates(tree: ast.AST):
    """Lines holding a size gate written out by hand: a ``.limit(<expr>
    + 1)`` probe, or an order comparison involving a ``table_rows(...)``
    or ``.count()`` result (called inline or bound to a name in the
    same function)."""
    scopes = [tree, *(n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef))]
    for scope in scopes:
        sizes = {
            t.id
            for n in ast.walk(scope)
            if isinstance(n, ast.Assign) and _is_size_read(n.value)
            for t in n.targets
            if isinstance(t, ast.Name)
        }
        for n in ast.walk(scope):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "limit"
                and n.args
                and isinstance(n.args[0], ast.BinOp)
                and isinstance(n.args[0].op, ast.Add)
                and 1 in {getattr(a, "value", None) for a in (n.args[0].left, n.args[0].right)}
            ):
                yield n.lineno
            elif isinstance(n, ast.Compare) and any(
                isinstance(op, (ast.Lt, ast.LtE, ast.Gt, ast.GtE)) for op in n.ops
            ):
                if any(
                    _is_size_read(x) or (isinstance(x, ast.Name) and x.id in sizes)
                    for o in [n.left, *n.comparators]
                    for x in ast.walk(o)
                ):
                    yield n.lineno


def test_size_gates_go_through_gates_module():
    """Every driver-vs-distributed size choice reads its size through
    ``operators/gates.py`` (``at_most`` / ``collect_at_most``), so the
    ceilings stay listable from one place: no other package module
    writes its own ``limit(C + 1)`` probe or compares a footer row
    count or a ``.count()`` result with a ceiling."""
    gates = PACKAGE / "operators" / "gates.py"
    hits = sorted(
        f"{path.relative_to(ROOT)}:{line}"
        for path in PACKAGE.rglob("*.py")
        if path != gates
        for line in set(_hand_rolled_gates(ast.parse(path.read_text())))
    )
    assert not hits, f"hand-rolled size gates (use operators.gates): {hits}"
