"""Operators read the fixed column names of the tables they serve, so no
function in ``convoy_spark`` takes a column name as a parameter. The one
exception is ``with_norm``'s ``vec_col``: ``ann_ivf_topk`` calls it on
renamed vector columns. The check parses the source, so it needs no
Spark session."""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "convoy_spark"

COLUMN_PARAMS = {
    "a_col",
    "author_col",
    "b_col",
    "domain_col",
    "epoch_col",
    "id_col",
    "label_col",
    "metric_col",
    "name_col",
    "query_col",
    "text_col",
    "train_col",
    "vec_col",
}


def column_params() -> set[tuple[str, str, str]]:
    """(file, function, parameter) for every column-name parameter."""
    found = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                continue
            a = node.args
            for arg in a.posonlyargs + a.args + a.kwonlyargs:
                if arg.arg in COLUMN_PARAMS:
                    name = getattr(node, "name", "<lambda>")
                    found.add((path.relative_to(PACKAGE).as_posix(), name, arg.arg))
    return found


def test_column_names_are_not_parameters():
    assert column_params() == {("operators/similarity.py", "with_norm", "vec_col")}
