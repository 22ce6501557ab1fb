"""Every ``tools/*.py`` imports by path without running its ``main``: a
tool that imports a deleted or renamed sibling fails here, not on the day
someone runs it."""

import glob
import importlib.util
import os
import sys

import pytest

TOOLS = sorted(glob.glob(os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools", "*.py")))


@pytest.mark.parametrize("path", TOOLS, ids=os.path.basename)
def test_tool_imports(path, monkeypatch):
    monkeypatch.setattr(sys, "path", list(sys.path))  # tools prepend the repo root
    name = "_tool_" + os.path.basename(path)[:-3]
    spec = importlib.util.spec_from_file_location(name, path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert callable(getattr(module, "main", None)), f"{path} has no main()"
