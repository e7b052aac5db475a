"""Local mirror of the driver's t2 DuckDB-oracle compare.

Runs a registered query in Spark and its oracle SQL in DuckDB over the same
parquet tables, then compares: row count, column names, and order-insensitive
values (columns sorted by name, rows sorted by their string form — the same
canonicalization family the driver's value-hash uses). Catching a mismatch
here at sf0.001/sf0.01 is much cheaper than a failed round."""

from __future__ import annotations

import math
import os

import duckdb

from pyspark_bigdata_sars_cov_2_analysis_spark.io.readers import TESTDATA_TABLES


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _canon_cell(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return repr(float(v))
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _canon_rows(columns: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon_cell(r[i]) for i in order) for r in rows]
    return sorted(out)


def compare(spark, name: str, query_fn, oracle: str, sf_dir: str) -> None:
    sdf = query_fn(spark, sf_dir)
    spark_cols = list(sdf.columns)
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = duck_connection(sf_dir)
    res = con.sql(oracle)
    duck_cols = list(res.columns)
    duck_rows = [tuple(r) for r in res.fetchall()]

    # raised, not asserted: the checks must hold under python -O too
    if sorted(spark_cols) != sorted(duck_cols):
        raise AssertionError(
            f"{name}: column mismatch spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
        )
    if len(spark_rows) != len(duck_rows):
        raise AssertionError(
            f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
        )
    s = _canon_rows(spark_cols, spark_rows)
    d = _canon_rows(duck_cols, duck_rows)
    if s != d:
        diffs = [(a, b) for a, b in zip(s, d) if a != b][:5]
        raise AssertionError(
            f"{name}: value mismatch; first diffs (spark vs duck): {diffs}"
        )
