"""Output checks, run untimed once per invocation.

Catalog queries are compared with their DuckDB oracle on the same
generated parquet files, by row count, column names and the
order-insensitive value hash of ``tools.driver_emulator.value_hash``
(used read-only). A query without an oracle gets a rows-only check.
The warehouse is compared with the page generator's truth.

Every check returns a list of failure messages; empty means correct.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pandas as pd
import pyarrow.dataset as ds

from convoy_spark.queries import ORACLES
from convoy_spark.tables import TABLE_NAMES, table_path
from tools.driver_emulator import value_hash

WAREHOUSE_TABLES = (
    "users",
    "errors",
    "tweet_hashtags",
    "tweet_mentions",
    "tweet_urls",
    "tweets_wide",
    "conversations",
    "tweets_wide_schema",
    "conversation_ids",
)


def oracle_connection(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = table_path(data_dir, name)
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_query(
    name: str,
    got: pd.DataFrame,
    con: duckdb.DuckDBPyConnection,
    oracles: dict[str, str] = ORACLES,
) -> list[str]:
    if name not in oracles:
        return [] if len(got) > 0 else [f"{name}: no rows"]
    want = con.execute(oracles[name]).fetchdf()
    errs = []
    if len(got) != len(want):
        errs.append(f"{name}: {len(got)} rows, oracle {len(want)}")
    if sorted(got.columns) != sorted(want.columns):
        errs.append(f"{name}: columns {sorted(got.columns)}, oracle {sorted(want.columns)}")
    elif value_hash(got) != value_hash(want):
        errs.append(f"{name}: value hash differs from the oracle")
    return errs


def check_warehouse(out_dir: str, truth: dict, corrupt_lines: int) -> list[str]:
    """Compare the written warehouse with the generator's truth."""
    errs = []
    for name in WAREHOUSE_TABLES:
        if not os.path.exists(os.path.join(out_dir, name, "_SUCCESS")):
            errs.append(f"{name}: not written")
    if errs:
        return errs
    wide = (
        ds.dataset(os.path.join(out_dir, "tweets_wide"), format="parquet", partitioning="hive")
        .to_table(columns=["tweet_id", "ur_conversation_id", "n_descendants"])
        .to_pandas()
        .sort_values("tweet_id")
    )
    want = pd.DataFrame(
        {
            "tweet_id": truth["tweet_id"],
            "ur_conversation_id": truth["ur_conversation_id"],
            "n_descendants": truth["n_descendants"],
        }
    ).sort_values("tweet_id")
    if len(wide) != truth["tweets"]:
        errs.append(f"tweets_wide: {len(wide)} tweets, truth {truth['tweets']}")
    elif not (wide["tweet_id"].to_numpy() == want["tweet_id"].to_numpy()).all():
        errs.append("tweets_wide: tweet ids differ from the truth")
    else:
        for col in ("ur_conversation_id", "n_descendants"):
            bad = int((wide[col].to_numpy() != want[col].to_numpy()).sum())
            if bad:
                errs.append(f"tweets_wide.{col}: {bad} tweets differ from the truth")
    for name, key in (("errors", "error_rows"), ("users", "users")):
        n = ds.dataset(os.path.join(out_dir, name), format="parquet").count_rows()
        if n != truth[key]:
            errs.append(f"{name}: {n} rows, truth {truth[key]}")
    if corrupt_lines != truth["corrupt_lines"]:
        errs.append(f"corrupt_lines: {corrupt_lines}, truth {truth['corrupt_lines']}")
    ids = []
    for path in glob.glob(os.path.join(out_dir, "conversation_ids", "part-*")):
        with open(path) as fh:
            ids += fh.read().split()
    n_convs = len(set(truth["ur_conversation_id"]))
    if len(ids) != n_convs:
        errs.append(f"conversation_ids: {len(ids)} lines, truth {n_convs}")
    return errs
