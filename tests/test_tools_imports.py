"""Every engine name a ``tools/*.py`` script imports, and every engine
function a traced perfbench run wraps, still exists.

The tools run only by hand, and CI never runs perfbench with ``--trace 1``,
so an engine function deleted or renamed without updating them would
otherwise surface only at the next manual run.  The tools check parses each
script (no Spark session starts), imports every
``from european_emissions_data_warehouse_spark... import name`` module,
top-level or inside a function, and looks the name up on it.  The perfbench
check runs ``perfbench/run.py::install_wrappers`` with a tracer that only
looks each wrapped name up."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import os

import pytest

_PKG = "european_emissions_data_warehouse_spark"
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_TOOLS = os.path.join(_REPO, "tools")


def _engine_imports(path: str) -> list[tuple[int, str, str]]:
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    return [
        (node.lineno, node.module, alias.name)
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and node.level == 0
        and node.module
        and (node.module == _PKG or node.module.startswith(_PKG + "."))
        for alias in node.names
    ]


@pytest.mark.parametrize(
    "tool",
    sorted(
        f
        for f in os.listdir(_TOOLS)
        if f.endswith(".py") and _engine_imports(os.path.join(_TOOLS, f))
    ),
)
def test_tool_engine_imports_resolve(tool):
    missing = [
        f"line {lineno}: {module}.{name}"
        for lineno, module, name in _engine_imports(os.path.join(_TOOLS, tool))
        if not hasattr(importlib.import_module(module), name)
    ]
    assert not missing, f"tools/{tool} imports names the engine no longer has: {missing}"


def test_perfbench_traced_names_exist():
    spec = importlib.util.spec_from_file_location(
        "perfbench_run", os.path.join(_REPO, "perfbench", "run.py")
    )
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    wrapped = []

    class LookupTracer:
        def wrap(self, owner, attr, name, rebind_prefix=None):
            getattr(owner, attr)
            wrapped.append(name)

    run.install_wrappers(LookupTracer())
    assert "snapshots.last_applied_batch" in wrapped
