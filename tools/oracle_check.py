#!/usr/bin/env python
"""Spot-check named catalog queries against their DuckDB oracles —
the driver_emulator comparison (row count + sorted schema + value
hash) scoped to a comma-separated subset, for fast iteration while
optimizing. Same vanilla session discipline as the emulator. When
rows and schema match but the hash does not, the first rows of both
sides are printed.

Usage: python tools/oracle_check.py q1,q2,... [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.driver_emulator import oracle_con, value_hash, vanilla_spark  # noqa: E402


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    names = [s.strip() for s in sys.argv[1].split(",") if s.strip()]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    from convoy_spark.queries import ORACLES, QUERIES

    spark = vanilla_spark("oracle-check")
    con = oracle_con(sf_dir)
    rc = 0
    for name in names:
        if name not in QUERIES:
            print(f"{name}: FAIL not in catalog")
            rc = 1
            continue
        spdf = QUERIES[name](spark, sf_dir).toPandas()
        if name not in ORACLES:
            print(f"{name}: rows_only rows={len(spdf)}")
            continue
        opdf = con.execute(ORACLES[name]).fetchdf()
        ok_rows = len(spdf) == len(opdf)
        ok_schema = sorted(spdf.columns) == sorted(opdf.columns)
        ok_hash = value_hash(spdf) == value_hash(opdf)
        ok = ok_rows and ok_schema and ok_hash
        print(
            f"{name}: {'PASS' if ok else 'FAIL'} "
            f"rows={len(spdf)}/{len(opdf)} rows_match={ok_rows} "
            f"schema_match={ok_schema} hash_match={ok_hash}"
        )
        if not ok_schema:
            print(f"  spark {sorted(spdf.columns)}\n  duckdb {sorted(opdf.columns)}")
        elif ok_rows and not ok_hash:
            cols = sorted(spdf.columns)
            print(spdf[cols].sort_values(cols).head(5))
            print(opdf[cols].sort_values(cols).head(5))
        rc |= not ok
    spark.stop()
    return rc


if __name__ == "__main__":
    sys.exit(main())
