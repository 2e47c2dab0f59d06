"""Every ``gus_spark`` import in ``tools/*.py``, ``perfbench/*.py``,
``bench.py`` and ``__spark_entry__.py`` resolves.

These scripts import library helpers lazily, inside their functions, so
importing a script would not notice a helper the library deleted or
renamed. This walks each script's AST instead and resolves every
``from gus_spark... import name`` (and ``import gus_spark...``) it
finds. No Spark session is started.
"""

import ast
import importlib
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
TOOLS = sorted((ROOT / "tools").glob("*.py"))
#: the benchmark harness and the Spark entry points
ENTRY_POINTS = [ROOT / "bench.py", ROOT / "__spark_entry__.py"] + sorted(
    (ROOT / "perfbench").glob("*.py")
)


def _gus_imports(path: pathlib.Path):
    """(module, name) for each gus_spark import in ``path``; name is
    None for a plain ``import gus_spark.x``."""
    tree = ast.parse(path.read_text(encoding="utf-8"))
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            if (node.module or "").split(".")[0] == "gus_spark":
                for alias in node.names:
                    yield node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "gus_spark":
                    yield alias.name, None


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name is None or hasattr(mod, name):
        return True
    try:  # ``from package import submodule``
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return False
    return True


def _missing(path: pathlib.Path) -> list[str]:
    return [
        f"{module}:{name}"
        for module, name in _gus_imports(path)
        if not _resolves(module, name)
    ]


def test_tools_exist():
    assert TOOLS, "no tools/*.py found"


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.name)
def test_tool_imports_resolve(path):
    missing = _missing(path)
    assert not missing, f"{path.name} imports missing names: {missing}"


@pytest.mark.parametrize(
    "path", ENTRY_POINTS, ids=lambda p: p.relative_to(ROOT).as_posix()
)
def test_entry_point_imports_resolve(path):
    missing = _missing(path)
    assert not missing, f"{path.name} imports missing names: {missing}"
