"""Every ``from dragnet_spark… import …`` / ``from tools… import …`` in
``tools/*.py`` and ``bench.py`` resolves.

The soak and bench tools import library names inside functions (so a
tool's ``--help`` stays cheap), and no test runs those functions: a
renamed or deleted library name would only surface the next time
someone runs the soak. This walks each file's AST instead — no tool
is executed and no Spark session starts; only the imported modules
are loaded."""

import ast
import importlib
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PACKAGES = ("dragnet_spark", "tools")


def _files():
    tools = os.path.join(ROOT, "tools")
    names = sorted(f for f in os.listdir(tools) if f.endswith(".py"))
    return [os.path.join(tools, f) for f in names] + [
        os.path.join(ROOT, "bench.py")
    ]


def _ours(module: str | None) -> bool:
    return module is not None and module.split(".")[0] in _PACKAGES


def _unresolved(path: str) -> list[str]:
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    bad = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and _ours(
            node.module
        ):
            try:
                mod = importlib.import_module(node.module)
            except ImportError as e:
                bad.append(f"{node.lineno}: {node.module}: {e}")
                continue
            for alias in node.names:
                if alias.name == "*" or hasattr(mod, alias.name):
                    continue
                try:  # `from pkg import submodule`
                    importlib.import_module(f"{node.module}.{alias.name}")
                except ImportError:
                    bad.append(f"{node.lineno}: {node.module}.{alias.name}")
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if _ours(alias.name):
                    try:
                        importlib.import_module(alias.name)
                    except ImportError as e:
                        bad.append(f"{node.lineno}: {alias.name}: {e}")
    return bad


def test_tool_files_are_found():
    found = {os.path.relpath(p, ROOT) for p in _files() if os.path.exists(p)}
    assert {"bench.py", "tools/bench_octave.py",
            "tools/check_correctness.py"} <= found


@pytest.mark.parametrize(
    "path", _files(), ids=lambda p: os.path.relpath(p, ROOT)
)
def test_tool_imports_resolve(path):
    assert _unresolved(path) == []
