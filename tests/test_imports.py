"""Every module of the package imports, and so does every package
import inside a function body: a module left importing a deleted one
fails here, not in the first run that reaches it."""

from __future__ import annotations

import ast
import importlib
import pkgutil
from pathlib import Path

import platform_etl_literature_spark

PKG = "platform_etl_literature_spark"


def _package_modules() -> list[str]:
    return [
        m.name
        for m in pkgutil.walk_packages(
            platform_etl_literature_spark.__path__, prefix=f"{PKG}."
        )
    ]


def _resolve(module: str, attr: str | None = None) -> None:
    mod = importlib.import_module(module)
    if attr is not None and not hasattr(mod, attr):
        importlib.import_module(f"{module}.{attr}")


def test_every_package_module_imports():
    names = _package_modules()
    assert f"{PKG}.main" in names
    for name in names:
        mod = importlib.import_module(name)
        # deferred imports run only when their function does
        for node in ast.walk(ast.parse(Path(mod.__file__).read_text())):
            if isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.startswith(PKG):
                        _resolve(alias.name)
            elif isinstance(node, ast.ImportFrom):
                if not (node.module or "").startswith(PKG):
                    continue
                for alias in node.names:
                    _resolve(node.module, alias.name)
