"""Every module under tools/ imports cleanly, so a tool that no test
runs still fails the suite when a helper it calls moves or is renamed."""

from __future__ import annotations

import importlib
import os
import sys

import pytest

TOOLS = os.path.join(os.path.dirname(__file__), "..", "tools")
sys.path.insert(0, TOOLS)


@pytest.mark.parametrize(
    "module",
    sorted(f[:-3] for f in os.listdir(TOOLS) if f.endswith(".py")),
)
def test_tool_imports(module):
    importlib.import_module(module)
