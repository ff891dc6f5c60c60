"""Every (module, attribute) the traced benchmark run wraps must exist.

perfbench/run.py looks its ``_WRAPS`` targets up with getattr at run
time, so a renamed or deleted function would only fail inside a traced
run. The tuple is read from the source with ``ast`` — the benchmark
module is neither imported nor edited here.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

RUN_PY = Path(__file__).resolve().parents[1] / "perfbench" / "run.py"


def _wraps() -> list[tuple]:
    tree = ast.parse(RUN_PY.read_text())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "_WRAPS" for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError("_WRAPS not found in perfbench/run.py")


def test_perfbench_wraps_resolve():
    wraps = _wraps()
    assert wraps
    for mod, attr, *_ in wraps:
        assert callable(getattr(importlib.import_module(mod), attr, None)), f"{mod}.{attr}"
