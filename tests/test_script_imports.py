"""The scripts and benchmark harness import package names that exist.

``scripts/*.py``, ``bench.py``, ``__spark_entry__.py`` and ``perfbench/*.py``
run outside the test suite, so a package name they import can be deleted
without any test noticing. Their source is read with ``ast``, never executed;
every ``from kafka_cdc_hudi_spark... import name`` (function-level ones too)
must resolve to a module attribute or a submodule.
"""

import ast
import importlib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SOURCES = [
    *sorted(ROOT.glob("scripts/*.py")),
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    *sorted(ROOT.glob("perfbench/*.py")),
]


def _resolves(mod: str, name: str) -> bool:
    if hasattr(importlib.import_module(mod), name):
        return True
    try:
        importlib.import_module(f"{mod}.{name}")
    except ModuleNotFoundError:
        return False
    return True


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: str(p.relative_to(ROOT)))
def test_package_imports_resolve(path):
    imports = [
        (node.lineno, node.module, alias.name)
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.ImportFrom)
        and (node.module or "").split(".")[0] == "kafka_cdc_hudi_spark"
        for alias in node.names
    ]
    broken = [f"{path.name}:{ln}: from {m} import {n}" for ln, m, n in imports if not _resolves(m, n)]
    assert not broken, "\n".join(broken)
