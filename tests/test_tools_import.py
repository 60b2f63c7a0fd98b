"""Every ``tools/*.py`` script imports cleanly.

The tools run only under ``if __name__ == "__main__"``; importing one
resolves its imports from the package, so a moved or renamed module
fails here instead of the next time someone runs the tool.
"""

from __future__ import annotations

import importlib.util
import pathlib

import pytest

TOOLS = sorted((pathlib.Path(__file__).resolve().parent.parent / "tools").glob("*.py"))


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.stem)
def test_tool_imports(path):
    spec = importlib.util.spec_from_file_location(f"_tool_{path.stem}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
