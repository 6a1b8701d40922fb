"""One kernel input: only `engine.scatter` knows how an execution site
builds it. Outside that function no module in query/ runs a grouped or
cogrouped Python kernel (`applyInPandas`, `applyInArrow`, `cogroup`),
and none reads a `queries` column: a kernel gets the query map as
{term: [entry dict]}, never as a per-row column. `prep.qmap_df_dist`
builds that column for the distributed batch, whose join `scatter`
turns back into the dicts. A static scan of the package source: no
Spark session."""

from __future__ import annotations

import ast
from pathlib import Path

import data_prepper_spark

QUERY = Path(data_prepper_spark.__file__).parent / "query"
OWNERS = {("engine.py", "scatter"), ("prep.py", "qmap_df_dist")}
KERNEL_CALLS = {"applyInPandas", "applyInArrow", "cogroup"}


def _sites(tree: ast.AST) -> list[tuple[str, int, str]]:
    """(top-level function, line, what) of every kernel call and every
    read of a "queries" column: a subscript or a call argument."""
    out = []
    for top in tree.body:
        name = getattr(top, "name", "")
        for node in ast.walk(top):
            if isinstance(node, ast.Call):
                func = node.func
                if isinstance(func, ast.Attribute) and func.attr in KERNEL_CALLS:
                    out.append((name, node.lineno, f".{func.attr}(...)"))
                if any(isinstance(a, ast.Constant) and a.value == "queries"
                       for a in node.args):
                    out.append((name, node.lineno, 'call(..., "queries")'))
            elif isinstance(node, ast.Subscript) and isinstance(
                    node.slice, ast.Constant) and node.slice.value == "queries":
                out.append((name, node.lineno, '[..."queries"]'))
    return sorted(out, key=lambda s: s[1])


def test_only_scatter_builds_the_kernel_input():
    found = []
    for path in sorted(QUERY.glob("*.py")):
        for func, line, what in _sites(ast.parse(path.read_text(), path.name)):
            if (path.name, func) not in OWNERS:
                found.append(f"query/{path.name}:{line}: {what} in {func}")
    assert not found, (
        "a kernel site or a per-row `queries` column outside "
        "engine.scatter (a kernel takes (table, entries, dfs)):\n"
        + "\n".join(found))


def test_the_scan_sees_each_kind_of_site():
    """The scan itself: each pattern it guards against is found, and
    attributed to the function it sits in."""
    src = (
        "def kernel(pdf):\n"
        "    return pdf['queries']\n"
        "def plan(df):\n"
        "    df.groupBy('shard').applyInPandas(f, s)\n"
        "    df.groupBy('shard').applyInArrow(f, s)\n"
        "    a.cogroup(b)\n"
        "    return F.col('queries'), t.column('queries')\n"
        "x = {'queries': 1}\n"
    )
    assert [(f, line) for f, line, _ in _sites(ast.parse(src))] == [
        ("kernel", 2), ("plan", 4), ("plan", 5), ("plan", 6), ("plan", 7),
        ("plan", 7)]
