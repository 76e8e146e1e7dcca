"""The IVF/PQ search operators take the index they search: none of them
trains one. Indexes are built once by ``pq_codebooks`` / ``ivf_index``
(the session-shared builds in ``queries/similarity.py``) and passed in,
so a search cannot retrain an index per call or read a geometry other
than the one its index was trained at. The check parses the source, so
it needs no Spark session."""

from __future__ import annotations

import ast
import pathlib

OPERATORS = pathlib.Path(__file__).resolve().parents[1] / "convoy_spark" / "operators"

SEARCHES = {
    "pq.py": {"ann_pq_adc_topk", "ann_pq_rerank_topk", "ann_ivfpq_topk", "ivfpq_candidates"},
    "similarity.py": {"ann_ivf_topk", "semantic_dedup"},
}
BUILDS = {"pq_codebooks", "ivf_index", "lloyd"}
BUILD_PARAMS = {"iters", "ks", "n_cells", "n_sub"}


def _searches() -> dict[str, ast.FunctionDef]:
    found = {}
    for file, names in SEARCHES.items():
        for node in ast.parse((OPERATORS / file).read_text()).body:
            if isinstance(node, ast.FunctionDef) and node.name in names:
                found[node.name] = node
    assert found.keys() == set().union(*SEARCHES.values())
    return found


def _callee(call: ast.Call) -> str | None:
    f = call.func
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)


def test_searches_build_no_index():
    calls = {
        (name, _callee(n))
        for name, fn in _searches().items()
        for n in ast.walk(fn)
        if isinstance(n, ast.Call) and _callee(n) in BUILDS
    }
    assert calls == set()


def test_searches_take_no_build_parameters():
    params = {
        (name, a.arg)
        for name, fn in _searches().items()
        for a in fn.args.posonlyargs + fn.args.args + fn.args.kwonlyargs
        if a.arg in BUILD_PARAMS
    }
    assert params == set()
