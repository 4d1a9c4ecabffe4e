"""The driver contract module, loaded from its file path the way the
driver loads it: every oracle names a query, and ``entry`` returns
rows."""

from __future__ import annotations

import importlib.util
from pathlib import Path

ENTRY = Path(__file__).resolve().parent.parent / "__spark_entry__.py"


def test_entry_module(spark):
    spec = importlib.util.spec_from_file_location("spark_entry", ENTRY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    names, oracles = mod.queries(), mod.oracle_sql()
    assert set(oracles) <= set(names)
    assert all(isinstance(sql, str) and sql.strip() for sql in oracles.values())
    assert "harmonic_relevance" in oracles
    assert mod.entry(spark).take(1)
