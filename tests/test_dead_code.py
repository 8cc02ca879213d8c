"""Dead-code guard (Spark-free): every top-level function, class and
UPPER_CASE constant of ``pdf_extractor_spark/`` must be referenced
somewhere in the project. A reference is a load ``Name``, an ``Attribute``
or an import alias in any file under ``pdf_extractor_spark/``, ``scripts/``,
``tests/`` or ``perfbench/``, or in ``bench.py`` or ``__spark_entry__.py``.
A definition that nothing names is a second path nobody runs."""
import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "pdf_extractor_spark"
REFERENCE_DIRS = ("pdf_extractor_spark", "scripts", "tests", "perfbench")
REFERENCE_FILES = ("bench.py", "__spark_entry__.py")
_CONSTANT = re.compile(r"_*[A-Z][A-Z0-9_]*")


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(encoding="utf-8"), filename=str(path))


def _definitions(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Name) and _CONSTANT.fullmatch(t.id):
                    yield t.id


def _references(tree: ast.Module):
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.alias):
            yield node.name.rsplit(".", 1)[-1]


def test_no_unreferenced_definitions():
    files = [p for d in REFERENCE_DIRS for p in sorted((ROOT / d).rglob("*.py"))]
    files += [ROOT / f for f in REFERENCE_FILES]
    trees = {p: _parse(p) for p in files}
    referenced = {name for tree in trees.values() for name in _references(tree)}
    dead = sorted(
        f"{p.relative_to(ROOT)}:{name}"
        for p, tree in trees.items() if PACKAGE in p.parents
        for name in _definitions(tree) if name not in referenced
    )
    assert not dead, "unreferenced definitions:\n" + "\n".join(dead)
