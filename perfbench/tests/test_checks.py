"""The output checks fail a run when an expected hash or truth value is
wrong, and the run's failed count then becomes non-zero."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks
from perfbench.run import assign_errors, attempted_failed

ORACLE = {"q": "SELECT r_regionkey AS k, r_name AS name FROM region"}


@pytest.fixture
def con(tmp_path):
    pq.write_table(
        pa.table({"r_regionkey": pa.array([0, 1], pa.int32()), "r_name": ["AFRICA", "ASIA"]}),
        tmp_path / "region.parquet",
    )
    c = checks.oracle_connection(str(tmp_path))
    yield c
    c.close()


def test_query_matching_its_oracle_passes(con):
    got = pd.DataFrame({"name": ["ASIA", "AFRICA"], "k": [1, 0]})
    assert checks.check_query("q", got, con, ORACLE) == []


def test_wrong_value_hash_fails_the_query(con):
    got = pd.DataFrame({"name": ["ASIA", "EUROPE"], "k": [1, 0]})
    errs = checks.check_query("q", got, con, ORACLE)
    assert errs and "value hash" in errs[0]


def test_query_without_oracle_needs_rows(con):
    assert checks.check_query("other", pd.DataFrame({"x": [1]}), con, ORACLE) == []
    assert checks.check_query("other", pd.DataFrame({"x": []}), con, ORACLE)


def _warehouse(out, truth):
    """A minimal warehouse layout that matches ``truth``."""
    for name in checks.WAREHOUSE_TABLES:
        os.makedirs(out / name, exist_ok=True)
        (out / name / "_SUCCESS").write_text("")
    part = out / "tweets_wide" / "date_created_at=2024-03-01"
    part.mkdir()
    pq.write_table(
        pa.table(
            {
                "tweet_id": truth["tweet_id"],
                "ur_conversation_id": truth["ur_conversation_id"],
                "n_descendants": truth["n_descendants"],
            }
        ),
        part / "part-0.parquet",
    )
    pq.write_table(pa.table({"tweet_id": [9] * truth["error_rows"]}), out / "errors" / "part-0.parquet")
    pq.write_table(pa.table({"user_id": list(range(truth["users"]))}), out / "users" / "part-0.parquet")
    roots = sorted(set(truth["ur_conversation_id"]))
    (out / "conversation_ids" / "part-0.txt").write_text("\n".join(map(str, roots)) + "\n")


TRUTH = {
    "tweets": 3,
    "corrupt_lines": 2,
    "error_rows": 1,
    "users": 2,
    "tweet_id": [10, 11, 12],
    "ur_conversation_id": [10, 10, 12],
    "n_descendants": [1, 0, 0],
}


def test_warehouse_matching_truth_passes(tmp_path):
    _warehouse(tmp_path, TRUTH)
    assert checks.check_warehouse(str(tmp_path), TRUTH, corrupt_lines=2) == []


@pytest.mark.parametrize(
    "key, value, table",
    [
        ("n_descendants", [2, 0, 0], "tweets_wide"),
        ("ur_conversation_id", [10, 12, 12], "tweets_wide"),
        ("users", 3, "users"),
        ("corrupt_lines", 1, "corrupt_lines"),
    ],
)
def test_wrong_truth_value_makes_failed_frac_nonzero(tmp_path, key, value, table):
    _warehouse(tmp_path, TRUTH)
    wrong = dict(TRUTH, **{key: value})
    errs = checks.check_warehouse(str(tmp_path), wrong, corrupt_lines=2)
    assert errs
    ops = [{"kind": "table", "name": n, "error": None} for n in checks.WAREHOUSE_TABLES]
    ops.append({"kind": "quarantine", "name": "corrupt_lines", "error": None})
    assign_errors(ops, errs)
    attempted, failed = attempted_failed([{"ops": ops}])
    assert attempted == 10 and failed >= 1
    assert [op["name"] for op in ops if op["error"]] == [table]


def test_unwritten_table_fails(tmp_path):
    _warehouse(tmp_path, TRUTH)
    os.remove(tmp_path / "conversations" / "_SUCCESS")
    assert checks.check_warehouse(str(tmp_path), TRUTH, corrupt_lines=2) == ["conversations: not written"]
