"""The workload table names registered queries and existing build
caches, and a traced run prints exactly the per-layer metrics that
``BENCHMARK.json`` lists."""

from __future__ import annotations

import json
import os

from perfbench.run import ROOT, per_layer_units
from perfbench.workloads import CATALOG


def test_workload_queries_and_builds_exist():
    from convoy_spark.queries import QUERIES

    for wl in CATALOG.values():
        assert set(wl.queries) <= set(QUERIES), wl.name
        for b in wl.builds():
            assert isinstance(b.cache_dict(), dict), b.name


def test_traced_metrics_match_the_benchmark_file():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        listed = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
    assert per_layer_units() == listed
