"""Every script in tools/ imports cleanly against the current engine
API, so a renamed or deleted engine function fails here rather than the
next time someone runs the script. Each script's work sits behind its
``__main__`` guard, so importing runs none of it."""

from __future__ import annotations

import glob
import importlib.util
import os

import pytest

TOOLS = sorted(
    glob.glob(os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "*.py"))
)


def test_tools_found():
    assert TOOLS


@pytest.mark.parametrize("path", TOOLS, ids=os.path.basename)
def test_tool_imports(path):
    name = os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(f"tools_{name}", path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
