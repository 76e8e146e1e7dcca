"""Error-tolerant CSV source (S1 family, SURVEY §2.1).

The reference's only input format is JSONL (`1_initial_load.py:
315-334`), but its source CONTRACT — declared schema, skip-and-log
malformed lines with a queryable quarantine, never infer — is
format-independent. This module applies the identical contract to
CSV/TSV drops, the other landing format a crawl pipeline actually
receives. Same mechanics as :mod:`convoy_spark.sources.jsonl`:

- schema declared by the caller, never inferred (inference = a second
  full scan + run-dependent schemas — both wrong at 100 TB);
- ``mode=PERMISSIVE`` + ``columnNameOfCorruptRecord``: rows whose
  parse fails (wrong column count, uncastable values) land with the
  raw line preserved in ``_corrupt_record`` and NULLs elsewhere —
  the reference's log-and-skip, as a queryable column;
- scans parallelize by file split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_COL = "_corrupt_record"


def with_corrupt_col(schema: StructType) -> StructType:
    """The user schema plus the quarantine column (required by the
    permissive parser to have somewhere to put the raw line)."""
    if any(f.name == CORRUPT_COL for f in schema.fields):
        return schema
    return StructType(
        [*schema.fields, StructField(CORRUPT_COL, StringType())]
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    """One row per CSV record; malformed rows carry the raw line in
    ``_corrupt_record`` (and NULL data columns)."""
    return (
        spark.read.schema(with_corrupt_col(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("header", str(header).lower())
        .option("sep", sep)
        .csv(path)
    )


def corrupt_rows(rows: DataFrame) -> DataFrame:
    """The quarantine (same caching caveat as
    :func:`convoy_spark.sources.jsonl.corrupt_lines`: Spark refuses a
    corrupt-only projection straight off the scan)."""
    src = rows.cache()
    return src.filter(src[CORRUPT_COL].isNotNull()).select(CORRUPT_COL)
