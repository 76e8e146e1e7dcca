"""The shared-build registry against the query code (no Spark session):
each build's declared consumers must be exactly the catalog queries
that reach its getter, read off ``convoy_spark/queries/*.py`` by AST.

A query consumes a build when it calls the build's getter, or calls
another registered getter that does (``semantic_communities`` reaches
the k-NN graph through ``_knng_labels``)."""

from __future__ import annotations

import ast
import pathlib
import sys

from convoy_spark.queries import QUERIES
from convoy_spark.queries.shared import SHARED_BUILDS

QUERY_DIR = pathlib.Path(__file__).resolve().parents[1] / "convoy_spark" / "queries"


def _functions() -> list[ast.FunctionDef]:
    return [
        node
        for path in sorted(QUERY_DIR.glob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.FunctionDef)
    ]


def _called(fn: ast.FunctionDef) -> set[str]:
    return {
        n.func.id if isinstance(n.func, ast.Name) else n.func.attr
        for n in ast.walk(fn)
        if isinstance(n, ast.Call) and isinstance(n.func, (ast.Name, ast.Attribute))
    }


def _query_name(fn: ast.FunctionDef) -> str | None:
    for d in fn.decorator_list:
        if isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query":
            return d.args[0].value
    return None


def derived_consumers() -> dict[str, set[str]]:
    build_of = {b.getter.__name__: b.name for b in SHARED_BUILDS.values()}
    fns = _functions()
    getter_calls = {f.name: _called(f) & build_of.keys() for f in fns if f.name in build_of}

    def reached(getter: str) -> set[str]:
        return {build_of[getter]}.union(*(reached(g) for g in getter_calls[getter]))

    consumers: dict[str, set[str]] = {name: set() for name in SHARED_BUILDS}
    for f in fns:
        name = _query_name(f)
        if name is None:
            continue
        for getter in _called(f) & build_of.keys():
            for build in reached(getter):
                consumers[build].add(name)
    return consumers


def test_declared_consumers_match_getter_calls():
    declared = {b.name: set(b.consumers) for b in SHARED_BUILDS.values()}
    assert declared == derived_consumers()


def test_consumers_are_registered_queries():
    for b in SHARED_BUILDS.values():
        assert b.consumers <= QUERIES.keys(), b.name


def test_getters_stay_reachable_by_name():
    # the registration decorator must hand back the getter itself:
    # callers (and the benchmark) look getters up as module attributes
    for b in SHARED_BUILDS.values():
        assert getattr(sys.modules[b.getter.__module__], b.getter.__name__) is b.getter
