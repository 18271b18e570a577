"""Replicates the driver's correctness gate locally: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet tables,
then compare row counts, column names, and exact values (column-name-sorted,
row-sorted) — the same bar as CORRECTNESS_r{N}.json's value-hash.

Runs at sf0.001 for speed; the driver runs sf0.01.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as contract  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per parquet table present in sf_dir
    (shared with scripts/check_queries.py)."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


@pytest.fixture(scope="module")
def duck(sf_dir):
    return duck_views(sf_dir)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Column-name-sorted, row-sorted frame with object columns as str
    (shared with scripts/check_queries.py)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _values_equal(a, b) -> bool:
    if a is b:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


NAMES = sorted(contract.queries().keys())


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(name, spark, duck, sf_dir):
    fn = contract.queries()[name]
    sqls = contract.oracle_sql()
    sdf = fn(spark, sf_dir).toPandas()
    if name not in sqls:
        assert len(sdf) >= 0  # rows-only check, same as the driver's
        return
    odf = duck.execute(sqls[name]).df()
    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"{name}: columns {sorted(sdf.columns)} != {sorted(odf.columns)}"
    )
    assert len(sdf) == len(odf), f"{name}: rows {len(sdf)} != {len(odf)}"
    a, b = canon(sdf), canon(odf)
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        bad = [
            (i, x, y) for i, (x, y) in enumerate(zip(av, bv))
            if not _values_equal(x, y)
        ]
        assert not bad, f"{name}.{c}: first mismatches {bad[:5]}"


def test_entry_smoke(spark):
    df = contract.entry(spark)
    rows = df.limit(5).collect()
    assert df.schema is not None
    assert len(rows) >= 0


def test_entry_runs_mixed_geometry_ladder(spark):
    """The flagship must exercise BOTH conflation branches (scalar-point
    cell join AND covering-cells + polyline refine) plus the multipart
    explode — r3 verdict #5. Plan shows the union; data shows line-feature
    wins (planted segments pass through part positions)."""
    from pyspark.sql import functions as F

    df = contract.entry(spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan
    # multipart explode_parts runs posexplode of part ranges
    assert "Generate" in plan or "posexplode" in plan.lower()
    n_line = df.filter(F.col("feature_id") >= 100_000_000).count()
    n_pt = df.filter(F.col("feature_id") < 100_000_000).count()
    assert n_line > 0, "no planted line feature ever won a match"
    assert n_pt > 0, "point branch produced nothing"
