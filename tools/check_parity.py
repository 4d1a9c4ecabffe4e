"""Local replica of the driver's correctness gate: run every suite
query on Spark and its oracle on DuckDB, compare row count + schema +
order-insensitive values.

Usage: python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from platform_etl_literature_spark.session import build_session
from platform_etl_literature_spark.suite import SUITE

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df, float_dp=6):
    """Canonicalize a pandas frame: sort columns by name, stringify,
    sort rows."""
    import pandas as pd

    if len(df) == 0:
        return []
    df = df[sorted(df.columns)]
    out = pd.DataFrame()
    for c in df.columns:
        s = df[c]
        if s.dtype.kind == "f":
            s = s.round(float_dp).map(lambda v: f"{v:.6f}" if pd.notna(v) else "NULL")
        else:
            s = s.map(lambda v: "NULL" if v is None else str(v))
        out[c] = s
    rows = sorted(out.apply(lambda r: "|".join(r.values), axis=1).tolist())
    return rows


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = build_session("parity-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    failures = []
    for name, spec in SUITE.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {str(e)[:500]}")
            continue
        if spec.oracle is None:
            print(f"ok   {name}: rows-only, {len(spdf)} rows ({time.time()-t0:.1f}s)")
            if len(spdf) == 0:
                print(f"WARN {name}: zero rows")
            continue
        try:
            odf = con.execute(spec.oracle).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {str(e)[:500]}")
            continue
        if len(spdf) != len(odf):
            failures.append(name)
            print(f"FAIL {name}: rowcount spark={len(spdf)} duckdb={len(odf)}")
            continue
        if sorted(spdf.columns) != sorted(odf.columns):
            failures.append(name)
            print(
                f"FAIL {name}: columns spark={sorted(spdf.columns)} duckdb={sorted(odf.columns)}"
            )
            continue
        a, b = canon(spdf), canon(odf)
        if a != b:
            failures.append(name)
            ndiff = sum(1 for x, y in zip(a, b) if x != y)
            print(f"FAIL {name}: values differ ({ndiff}/{len(a)} rows)")
            for x, y in list(zip(a, b))[:2000]:
                if x != y:
                    print(f"  spark : {x[:200]}")
                    print(f"  duckdb: {y[:200]}")
                    break
        else:
            print(f"ok   {name}: {len(spdf)} rows match ({time.time()-t0:.1f}s)")
            if len(spdf) == 0:
                print(f"WARN {name}: zero rows")
    print(f"\n{len(failures)} failures: {failures}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
