"""bench.py, tools/ and scripts/ are run by hand, never imported by a
test, so a renamed or deleted engine name would break them silently.
Parse each one and check every name it takes from the package."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PKG = "firmable_aus_etl_spark"
FILES = sorted(
    [ROOT / "bench.py", *ROOT.glob("tools/*.py"), *ROOT.glob("scripts/*.py")]
)


def _resolve(module: str, name: str):
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    return importlib.import_module(f"{module}.{name}")


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
    return missing


@pytest.mark.parametrize("path", FILES, ids=lambda p: str(p.relative_to(ROOT)))
def test_hand_run_files_use_existing_engine_names(path):
    assert _missing_names(path) == []
