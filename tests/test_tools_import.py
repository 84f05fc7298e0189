"""Every ``tools/*.py`` script imports cleanly against the current engine.
The scripts keep their work behind ``__main__`` guards, so an import runs
nothing; it resolves every module-level name they take from the engine,
so a rename that breaks a tool fails here instead of at its next run."""

from __future__ import annotations

import importlib
import pathlib

import pytest

TOOLS = sorted(
    p.stem for p in (pathlib.Path(__file__).parents[1] / "tools").glob("*.py")
)


def test_tools_found():
    assert len(TOOLS) > 10


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports(name):
    importlib.import_module(f"tools.{name}")
