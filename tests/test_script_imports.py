"""Every package name the operational scripts use must resolve.

`scripts/*.py` and `bench.py` run outside the test suite, so deleting
or renaming an operator used to leave them broken until someone ran
them. This test parses them (no Spark session, no script executed) and
checks two forms against the imported package:

- ``from <package>... import name`` — ``name`` is an attribute or a
  submodule of the named module;
- ``alias.name`` — where ``alias`` is bound to a package module by an
  import anywhere in the file, ``name`` is an attribute of it (followed
  through attribute chains while they stay on package modules).
"""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os
import types

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "dynamics_365_to_bigquery_spark_etl_pipeline_spark"
FILES = sorted(glob.glob(os.path.join(REPO, "scripts", "*.py"))) + [
    os.path.join(REPO, "bench.py")
]


def _in_package(module: str) -> bool:
    return module == PACKAGE or module.startswith(PACKAGE + ".")


def _member(module: types.ModuleType, name: str):
    """``module.name``, importing it as a submodule if need be; None
    when it does not resolve."""
    if hasattr(module, name):
        return getattr(module, name)
    full = f"{module.__name__}.{name}"
    if hasattr(module, "__path__") and importlib.util.find_spec(full):
        return importlib.import_module(full)
    return None


def _unresolved(path: str) -> list[str]:
    tree = ast.parse(open(path).read(), path)
    missing: list[str] = []
    bound: dict[str, types.ModuleType] = {}  # local alias -> package module
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and _in_package(
            node.module or ""
        ):
            module = importlib.import_module(node.module)
            for alias in node.names:
                obj = _member(module, alias.name)
                if obj is None:
                    missing.append(f"{node.lineno}: {node.module}.{alias.name}")
                elif isinstance(obj, types.ModuleType):
                    bound[alias.asname or alias.name] = obj
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if _in_package(alias.name):
                    module = importlib.import_module(alias.name)
                    if alias.asname:
                        bound[alias.asname] = module
                    else:  # `import a.b.c` binds `a`
                        bound[PACKAGE] = importlib.import_module(PACKAGE)

    def resolve(expr):
        """The package module ``expr`` names, else None."""
        if isinstance(expr, ast.Name):
            return bound.get(expr.id)
        if isinstance(expr, ast.Attribute):
            base = resolve(expr.value)
            if base is not None:
                obj = _member(base, expr.attr)
                if isinstance(obj, types.ModuleType):
                    return obj
        return None

    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute):
            base = resolve(node.value)
            if base is not None and _member(base, node.attr) is None:
                missing.append(f"{node.lineno}: {base.__name__}.{node.attr}")
    return missing


def test_script_package_names_resolve():
    missing = [
        f"{os.path.relpath(path, REPO)}:{name}"
        for path in FILES
        for name in _unresolved(path)
    ]
    assert missing == []
