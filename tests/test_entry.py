"""Local replica of the driver's correctness gate: run every
__spark_entry__ query at sf0.01 and compare against its DuckDB oracle
(row count + column names + order-insensitive values)."""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["documents"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from read_parquet('{SF_DIR}/{t}.parquet')")
    return con


def _canon(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    return str(v)


def _rows(cols, data):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in data)


ORACLED = sorted(set(entrymod.oracle_sql()) & set(entrymod.queries()))


def test_oracles_cover_queries():
    dangling = set(entrymod.oracle_sql()) - set(entrymod.queries())
    assert not dangling, f"oracle_sql keys without queries: {dangling}"
    unchecked = set(entrymod.queries()) - set(entrymod.oracle_sql())
    assert not unchecked, f"queries without an oracle: {unchecked}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0 and df.schema is not None
    assert rows, "flagship query returned no rows"


@pytest.mark.parametrize("name", ORACLED)
def test_query_vs_oracle(spark, ddb, name):
    sdf = entrymod.queries()[name](spark, SF_DIR)
    got_cols = [c.lower() for c in sdf.columns]
    got = _rows(got_cols, [tuple(r) for r in sdf.collect()])

    res = ddb.sql(entrymod.oracle_sql()[name])
    exp_cols = [c.lower() for c in res.columns]
    exp = _rows(exp_cols, res.fetchall())

    assert sorted(got_cols) == sorted(exp_cols), f"{name}: column mismatch"
    assert len(got) == len(exp), f"{name}: row count {len(got)} != {len(exp)}"
    mism = [i for i, (a, b) in enumerate(zip(got, exp)) if a != b][:5]
    assert not mism, f"{name}: first mismatches at {mism}: " + "; ".join(
        f"got={got[i]} exp={exp[i]}" for i in mism
    )
