"""bench.py, tools/, scripts/, examples/ and perfbench/ are run by hand,
never imported by a test, so a renamed or deleted engine name — or a
removed keyword argument — would break them silently. Parse each one
and check every name it takes from the package, and every keyword it
passes to a package callable."""

from __future__ import annotations

import ast
import importlib
import inspect
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PKG = "firmable_aus_etl_spark"
FILES = sorted(
    [
        ROOT / "bench.py",
        *ROOT.glob("tools/*.py"),
        *ROOT.glob("scripts/*.py"),
        *ROOT.glob("examples/*.py"),
        *ROOT.glob("perfbench/*.py"),
    ]
)


def _resolve(module: str, name: str):
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    return importlib.import_module(f"{module}.{name}")


def _callee(func: ast.expr, aliases: dict[str, object]):
    """The package object a call's func names directly (``f(...)`` or
    ``alias.f(...)``), or None."""
    if isinstance(func, ast.Name):
        return aliases.get(func.id)
    if (
        isinstance(func, ast.Attribute)
        and isinstance(func.value, ast.Name)
        and func.value.id in aliases
    ):
        return getattr(aliases[func.value.id], func.attr, None)
    return None


def _stale_keywords(call: ast.Call, target: object) -> list[str]:
    if not callable(target):
        return []
    try:
        params = inspect.signature(target).parameters
    except (TypeError, ValueError):
        return []
    if any(p.kind is p.VAR_KEYWORD for p in params.values()):
        return []
    return [
        f"{getattr(target, '__name__', target)}({kw.arg}=) (line {call.lineno})"
        for kw in call.keywords
        if kw.arg is not None and kw.arg not in params
    ]


def _missing_names(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), str(path))
    aliases: dict[str, object] = {}
    missing = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(PKG) and a.asname:
                    aliases[a.asname] = importlib.import_module(a.name)
        elif isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG):
            for a in node.names:
                try:
                    aliases[a.asname or a.name] = _resolve(node.module, a.name)
                except ImportError:
                    missing.append(f"{node.module}.{a.name}")
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.ctx, ast.Load)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
            and not hasattr(aliases[node.value.id], node.attr)
        ):
            missing.append(f"{node.value.id}.{node.attr} (line {node.lineno})")
        elif isinstance(node, ast.Call):
            missing += _stale_keywords(node, _callee(node.func, aliases))
    return missing


@pytest.mark.parametrize("path", FILES, ids=lambda p: str(p.relative_to(ROOT)))
def test_hand_run_files_use_existing_engine_names(path):
    assert _missing_names(path) == []
