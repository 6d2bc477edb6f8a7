"""The standalone scripts under ``tools/`` have no other coverage: check that
each one byte-compiles and that its repo-local imports (``tools/`` siblings
and ``census_data_pipeline_spark`` modules and names) still resolve."""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest

_TOOLS = Path(__file__).resolve().parent.parent / "tools"
_PACKAGE = "census_data_pipeline_spark"


def _top_level_names(path: Path) -> set[str]:
    names = set()
    for node in ast.parse(path.read_text(), str(path)).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names |= {n.id for t in targets for n in ast.walk(t)
                      if isinstance(n, ast.Name)}
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names |= {(a.asname or a.name).split(".")[0] for a in node.names}
    return names


def _module_exists(module: str) -> bool:
    try:
        return importlib.util.find_spec(module) is not None
    except ModuleNotFoundError:  # a missing parent package
        return False


def _package_name_exists(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    return hasattr(mod, name) or _module_exists(f"{module}.{name}")


def _unresolved_imports(path: Path) -> list[str]:
    bad = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            pairs = [(a.name, None) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            pairs = [(node.module, a.name) for a in node.names]
        else:
            continue
        for module, name in pairs:
            top = module.split(".")[0]
            sibling = _TOOLS / f"{top}.py"
            if top == _PACKAGE:
                if not _module_exists(module):
                    bad.append(module)
                elif name is not None and not _package_name_exists(module, name):
                    bad.append(f"{module}.{name}")
            elif sibling.exists():
                if name is not None and name not in _top_level_names(sibling):
                    bad.append(f"{module}.{name}")
            elif not _module_exists(top):
                bad.append(module)  # neither a sibling nor an installed module
    return bad


@pytest.mark.parametrize(
    "script", sorted(p.name for p in _TOOLS.glob("*.py")))
def test_tool_compiles_and_imports_resolve(script):
    path = _TOOLS / script
    compile(path.read_text(), str(path), "exec")
    assert _unresolved_imports(path) == [], (
        f"tools/{script} imports something that no longer exists")
