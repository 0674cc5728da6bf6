"""The registry's module list covers every operator module that registers
queries: a module missing from `registry.MODULES` would drop its queries
silently."""

from __future__ import annotations

import ast
from pathlib import Path

from debezium_cdc_kafka_spark import registry

OPERATORS = Path(registry.__file__).parent / "operators"


def _calls_registrar(path: Path) -> bool:
    return any(
        isinstance(n, ast.Call) and isinstance(n.func, ast.Name) and n.func.id == "registrar"
        for n in ast.walk(ast.parse(path.read_text()))
    )


def test_every_registering_module_is_listed():
    registering = {p.stem for p in OPERATORS.glob("*.py") if _calls_registrar(p)}
    assert registering == set(registry.MODULES)
    assert len(registry.MODULES) == len(set(registry.MODULES))
