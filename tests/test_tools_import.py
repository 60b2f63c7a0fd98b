"""Every ``tools/*.py`` script imports cleanly.

The tools run only under ``if __name__ == "__main__"``; importing one
resolves its imports from the package, so a moved or renamed module
fails here instead of the next time someone runs the tool.
``tools/time_queries.py`` also resolves its ``--only`` names before it
starts a JVM.
"""

from __future__ import annotations

import importlib.util
import pathlib
import sys

import pytest

TOOLS_DIR = pathlib.Path(__file__).resolve().parent.parent / "tools"
TOOLS = sorted(TOOLS_DIR.glob("*.py"))


def _load(path):
    spec = importlib.util.spec_from_file_location(f"_tool_{path.stem}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.stem)
def test_tool_imports(path):
    _load(path)


def test_time_queries_rejects_unknown_name_before_spark(monkeypatch):
    module = _load(TOOLS_DIR / "time_queries.py")
    monkeypatch.setattr(module, "get_spark", lambda *a, **k: pytest.fail("JVM started"))
    monkeypatch.setattr(
        sys, "argv", ["time_queries.py", "--only", "g02_connected_components,no_such_query"]
    )
    with pytest.raises(SystemExit, match="no_such_query"):
        module.main()


def test_time_queries_resolves_bench_twins():
    module = _load(TOOLS_DIR / "time_queries.py")
    fns = module._query_fns(["d06_near_dup_groups_xxh", "g02_connected_components"])
    assert list(fns) == ["d06_near_dup_groups_xxh", "g02_connected_components"]
