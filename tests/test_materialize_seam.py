"""Frames are materialised in one place: ``materialize.py``.

A checkpoint or persist placed elsewhere brings back its own rules for who
releases what it holds, and hides its segment from the plan guards (they
read the segments ``materialize.recording`` collects). This walks every
module of the package and fails on a ``.localCheckpoint(``,
``.checkpoint(``, ``.persist(``, ``.cache(`` or ``.unpersist(`` call
outside ``materialize.py``.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "nilm_data_framework_spark"
SEAM = PACKAGE / "materialize.py"
MATERIALISING = {"localCheckpoint", "checkpoint", "persist", "cache", "unpersist"}


def _materialising_calls(path: Path) -> list[tuple[int, str]]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        (node.lineno, node.func.attr)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in MATERIALISING
    ]


def test_only_the_seam_materialises_a_frame():
    bad = [
        f"{path.relative_to(PACKAGE.parent)}:{line} .{attr}("
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != SEAM
        for line, attr in _materialising_calls(path)
    ]
    assert not bad, "materialise through nilm_data_framework_spark.materialize:\n" + "\n".join(bad)
    # the walk must see the seam itself (it cannot pass by matching nothing)
    assert {attr for _, attr in _materialising_calls(SEAM)} == {
        "localCheckpoint",
        "persist",
        "unpersist",
    }
