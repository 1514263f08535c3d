"""Local DuckDB-oracle comparison harness.

Mimics the driver's correctness gate: run a declared Spark query and its
DuckDB oracle SQL over the same parquet tables, then compare row count,
sorted column names, and an order-insensitive value compare. Used by
tests/test_oracle.py so every operator is gated locally before the driver
ever sees it.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import duckdb
import pandas as pd

from pyspark.sql import DataFrame

from newsmaper_etl_spark.io import TABLE_NAMES

_NULL = "∅"


def _cell(v) -> str:
    if v is None:
        return _NULL
    if isinstance(v, float):
        return _NULL if math.isnan(v) else repr(v)
    if isinstance(v, (int,)):
        return str(v)
    if v is pd.NaT:
        return _NULL
    try:
        if pd.isna(v):
            return _NULL
    except (TypeError, ValueError):
        pass
    if hasattr(v, "item"):  # numpy scalar
        return _cell(v.item())
    return str(v)


def canonicalize(pdf: pd.DataFrame) -> list[tuple[str, ...]]:
    cols = sorted(pdf.columns)
    rows = [tuple(_cell(v) for v in row) for row in pdf[cols].itertuples(index=False)]
    rows.sort()
    return rows


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    detail: str = ""


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def compare(
    name: str, spark_df: DataFrame, oracle: str, sf_dir: str
) -> CompareResult:
    spdf = spark_df.toPandas()
    con = duckdb_conn(sf_dir)
    try:
        opdf = con.execute(oracle).df()
    finally:
        con.close()

    if sorted(spdf.columns) != sorted(opdf.columns):
        return CompareResult(
            name, False, len(spdf), len(opdf),
            f"columns differ: spark={sorted(spdf.columns)} oracle={sorted(opdf.columns)}",
        )
    if len(spdf) != len(opdf):
        return CompareResult(
            name, False, len(spdf), len(opdf), "row counts differ"
        )
    s_rows, o_rows = canonicalize(spdf), canonicalize(opdf)
    if s_rows != o_rows:
        # SET difference, not a pairwise zip of the two sorted lists: one
        # early divergent row would misalign every later zipped pair and
        # print 5 spurious "diffs" instead of the actually-missing rows
        from collections import Counter

        s_extra = list((Counter(s_rows) - Counter(o_rows)).elements())[:5]
        o_extra = list((Counter(o_rows) - Counter(s_rows)).elements())[:5]
        diff = [f"  spark-only={r}" for r in s_extra] + [
            f"  oracle-only={r}" for r in o_extra
        ]
        return CompareResult(
            name, False, len(spdf), len(opdf),
            "value mismatch (multiset difference samples):\n" + "\n".join(diff),
        )
    return CompareResult(name, True, len(spdf), len(opdf))

