"""Partitioned writes have one seam: ``layouts.partitioned_writer``.

A writer that calls ``DataFrameWriter.partitionBy`` itself picks its own
shuffle (or none) before the write, and with it the task and file count
of its layout. This walks every module of the package and fails on a
``.partitionBy(`` call outside ``layouts.py`` whose receiver chain does
not start at ``Window`` (window specs are not writes).
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "nilm_data_framework_spark"


def _chain_root(node: ast.AST) -> ast.AST:
    """The innermost receiver of an ``a.b(...).c`` chain."""
    while isinstance(node, (ast.Attribute, ast.Call, ast.Subscript)):
        node = node.func if isinstance(node, ast.Call) else node.value
    return node


def _writer_partition_calls(path: Path) -> list[int]:
    tree = ast.parse(path.read_text(), filename=str(path))
    lines = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "partitionBy"
        ):
            root = _chain_root(node.func.value)
            if not (isinstance(root, ast.Name) and root.id == "Window"):
                lines.append(node.lineno)
    return lines


def test_only_layouts_partitions_a_write():
    bad = [
        f"{path.relative_to(PACKAGE.parent)}:{line}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.name != "layouts.py" or path.parent != PACKAGE
        for line in _writer_partition_calls(path)
    ]
    assert not bad, "partition the write through layouts.partitioned_writer:\n" + "\n".join(bad)
    # the walk must see the seam itself (it cannot pass by matching nothing)
    assert _writer_partition_calls(PACKAGE / "layouts.py")
