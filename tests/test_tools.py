"""The measurement tools import without a Spark session.

Each tool reaches its shared harness as ``tools._harness``, so the
import has to work both when a tool is loaded by file path and when a
test imports it as a package module.
"""

from __future__ import annotations

import glob
import importlib.util
import os
import sys

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


@pytest.mark.parametrize(
    "path",
    sorted(p for p in glob.glob(os.path.join(TOOLS, "*.py"))
           if not os.path.basename(p).startswith("_")),
    ids=os.path.basename,
)
def test_tool_loads_by_path_and_defines_main(path, monkeypatch):
    monkeypatch.setattr(sys, "path", list(sys.path))  # tools prepend the repo root
    name = "tool_" + os.path.basename(path)[: -len(".py")]
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(mod.main)


def test_tool_imports_as_package_module():
    # tests/test_ext26.py imports this tool as a package module;
    # tests/test_properties.py loads xlsx_scalebench by path, as above
    from tools.boilerplate_scalebench import weighted_pagerank_int_reference

    assert weighted_pagerank_int_reference({(0, 1): 1}, iters=1)
