"""Store-protocol guard (Spark-free): ``plans/fsio.py`` is the only module
of ``pdf_extractor_spark/`` that touches the Hadoop FileSystem API or
prunes a versioned snapshot. Every other module reads and writes its
store through ``fsio.read_latest``, ``fsio.publish`` and
``fsio.parquet_files``, so the commit rule has one implementation."""
import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "pdf_extractor_spark"
FSIO = PACKAGE / "plans" / "fsio.py"
FORBIDDEN = {"prune_versions_below", "getFileSystem", "hadoopConfiguration"}
HADOOP = "org.apache.hadoop"


def _dotted(node: ast.Attribute) -> str:
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if isinstance(node, ast.Name):
        parts.append(node.id)
    return ".".join(reversed(parts))


def _violations(tree: ast.Module):
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and node.id in FORBIDDEN:
            yield node.id
        elif isinstance(node, ast.Attribute):
            if node.attr in FORBIDDEN:
                yield node.attr
            elif node.attr == "hadoop" and f".{_dotted(node)}".endswith(
                f".{HADOOP}"
            ):
                yield HADOOP
        elif isinstance(node, ast.alias):
            if node.name.rsplit(".", 1)[-1] in FORBIDDEN:
                yield node.name


def test_only_fsio_touches_the_store_protocol():
    bad = sorted(
        {
            f"{path.relative_to(ROOT)}:{name}"
            for path in PACKAGE.rglob("*.py")
            if path != FSIO
            for name in _violations(ast.parse(path.read_text(encoding="utf-8")))
        }
    )
    assert not bad, "store protocol outside plans/fsio.py:\n" + "\n".join(bad)
