"""Every EngineConfig field must be read somewhere in the engine.

A field that no code reads is a knob that silently does nothing; a
default-off mode that no workload runs goes with its code. The check is
syntactic: some ``<expr>.<field>`` attribute load in the package or in
``__spark_entry__.py`` (``self.<field>`` in config.py properties
counts). Comments, docstrings and ``replace(cfg, field=...)`` keywords
do not.
"""

from __future__ import annotations

import ast
import dataclasses
from pathlib import Path

from mediaduplicatefinder_spark.config import EngineConfig

ROOT = Path(__file__).resolve().parent.parent


def _attribute_loads() -> set[str]:
    files = [*sorted((ROOT / "mediaduplicatefinder_spark").rglob("*.py")),
             ROOT / "__spark_entry__.py"]
    names: set[str] = set()
    for path in files:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                names.add(node.attr)
    return names


def test_every_config_field_is_read():
    reads = _attribute_loads()
    unread = [f.name for f in dataclasses.fields(EngineConfig) if f.name not in reads]
    assert unread == [], f"EngineConfig fields that nothing reads: {unread}"
