"""End-to-end oracle parity: every suite query vs its DuckDB oracle at
sf0.001 — the local replica of the driver's correctness gate."""

from __future__ import annotations

import duckdb
import pytest

from platform_etl_literature_spark.suite import SUITE
from tools.check_parity import TABLES, canon


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", list(SUITE))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    spec = SUITE[name]
    spdf = spec.fn(spark, sf_dir).toPandas()
    if spec.oracle is None:
        assert len(spdf) > 0
        return
    odf = duck.execute(spec.oracle).fetchdf()
    assert len(spdf) == len(odf), f"rowcount {len(spdf)} != {len(odf)}"
    assert sorted(spdf.columns) == sorted(odf.columns)
    assert canon(spdf) == canon(odf)
