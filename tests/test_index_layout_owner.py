"""One reader of index state: outside index/{layout,reader,build,
tombstones}.py no module builds an index artifact's path or imports
`load_stats` from query.engine. Every other module reads an index
through `index.reader` (IndexReader, load_stats), and `index.layout`
alone maps an artifact name to a path. A static scan of the package
source: no Spark session."""

from __future__ import annotations

import ast
from pathlib import Path

import data_prepper_spark

ROOT = Path(data_prepper_spark.__file__).parent
OWNERS = {f"index/{m}.py" for m in ("layout", "reader", "build", "tombstones")}
ARTIFACTS = {"stats.json", "dictionary", "blocks", "tombstones", "convmap",
             "manifest"}
PATH_CALLS = {"os.path.join", "layout.resolve", "resolve", "open"}


def _dotted(node: ast.AST) -> str:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return f"{_dotted(node.value)}.{node.attr}"
    return ""


def _sites(tree: ast.AST) -> list[tuple[int, str]]:
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and _dotted(node.func) in PATH_CALLS:
            for arg in node.args:
                if isinstance(arg, ast.Constant) and arg.value in ARTIFACTS:
                    out.append((node.lineno,
                                f"{_dotted(node.func)}(..., {arg.value!r})"))
        elif isinstance(node, ast.ImportFrom) and (
                node.module or "").endswith("query.engine"):
            if any(a.name == "load_stats" for a in node.names):
                out.append((node.lineno, "load_stats from query.engine"))
        elif isinstance(node, ast.Attribute) and node.attr == "load_stats" \
                and _dotted(node.value).endswith("engine"):
            out.append((node.lineno, f"{_dotted(node)}"))
    return sorted(out)


def test_only_the_reader_reads_index_state():
    found = []
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        if rel in OWNERS:
            continue
        for line, what in _sites(ast.parse(path.read_text(), rel)):
            found.append(f"{rel}:{line}: {what}")
    assert not found, (
        "index state read outside index/reader.py (open an IndexReader or "
        "call index.reader.load_stats):\n" + "\n".join(found))


def test_the_scan_sees_each_kind_of_site():
    """The scan itself: each pattern it guards against is found."""
    src = (
        "import os\n"
        "from data_prepper_spark.index import layout\n"
        "from data_prepper_spark.query.engine import load_stats\n"
        "open(os.path.join(d, 'stats.json'))\n"
        "layout.resolve(d, 'dictionary')\n"
        "engine.load_stats(d)\n"
        "os.path.join(d, 'fields.json')\n"
    )
    assert [line for line, _ in _sites(ast.parse(src))] == [3, 4, 5, 6]
