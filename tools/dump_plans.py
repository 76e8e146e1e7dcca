#!/usr/bin/env python
"""Dump `.explain("formatted")` for named catalog queries to files —
the plans/r{N}/<query>_{before,after}.txt evidence the optimization
rounds commit. Ids that differ from run to run are replaced by ``N``
(``operators.scale.normalize_plan``), so dumps of two checkouts
``diff`` clean unless their plans differ.

Usage: python tools/dump_plans.py <out_dir> <suffix> q1,q2,... [sf_dir]
Writes <out_dir>/<query>_<suffix>.txt per query.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    if len(sys.argv) < 4:
        print(__doc__, file=sys.stderr)
        return 2
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = [s.strip() for s in sys.argv[3].split(",") if s.strip()]
    sf_dir = sys.argv[4] if len(sys.argv) > 4 else "/root/testdata/sf0.1"
    os.makedirs(out_dir, exist_ok=True)

    from convoy_spark.session import get_spark

    spark = get_spark("plan-dump", data_dir=sf_dir)
    from convoy_spark.operators.scale import explain_str, normalize_plan
    from convoy_spark.queries import QUERIES

    for name in names:
        plan = normalize_plan(explain_str(QUERIES[name](spark, sf_dir)))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"{path}: {len(plan)} chars")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
