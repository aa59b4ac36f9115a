"""Replicates the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() on DuckDB at sf0.01; compare row count, column
names, and order-insensitive values."""

import math
import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _normalize(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False):
        row = []
        for v in tup:
            if isinstance(v, float):
                if math.isnan(v):
                    row.append("nan")
                else:
                    row.append(round(v, 6))
            elif hasattr(v, "isoformat"):
                row.append(v.isoformat())
            else:
                row.append(v)
        rows.append(tuple(row))
    return sorted(map(repr, rows))


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0


def test_all_queries_against_oracle(spark, ddb):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        got = fn(spark, SF_DIR).toPandas()
        if name not in oracles:
            assert len(got) >= 0
            continue
        want = ddb.sql(oracles[name]).df()
        if sorted(got.columns) != sorted(want.columns):
            failures.append((name, "columns", list(got.columns),
                             list(want.columns)))
            continue
        if len(got) != len(want):
            failures.append((name, "rowcount", len(got), len(want)))
            continue
        g, w = _normalize(got), _normalize(want)
        if g != w:
            diff = [(a, b) for a, b in zip(g, w) if a != b][:3]
            failures.append((name, "values", diff, None))
    assert not failures, failures
