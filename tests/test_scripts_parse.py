"""Every script outside the package and the tests at least parses: an
unterminated string in a tool is otherwise found only when someone runs
it. ``ast.parse`` compiles nothing and writes no ``__pycache__``."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = sorted(
    [*(ROOT / "tools").glob("*.py"), ROOT / "bench.py", ROOT / "__spark_entry__.py"]
)


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: str(p.relative_to(ROOT)))
def test_script_parses(path):
    ast.parse(path.read_text(), filename=str(path))
