"""Local replica of the driver's correctness gate: run every queries()
entry and its oracle_sql() twin on the same parquet tables, compare row
count + column names + order-insensitive values."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    return v


def _normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(
        tuple(_norm(r[i]) for i in order) for r in rows
    )
    return [cols[i] for i in order], out


ORACLED = sorted(set(entry_mod.oracle_sql().keys()))
ALL = sorted(entry_mod.queries().keys())


def test_all_oracled_queries_exist():
    assert set(ORACLED) <= set(ALL)


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, ddb, name):
    qfn = entry_mod.queries()[name]
    df = qfn(spark, SF_DIR)
    sp_cols = df.columns
    sp_rows = [tuple(r) for r in df.collect()]
    res = ddb.execute(entry_mod.oracle_sql()[name])
    dk_cols = [d[0] for d in res.description]
    dk_rows = res.fetchall()
    assert sorted(sp_cols) == sorted(dk_cols), (sp_cols, dk_cols)
    sc, sv = _normalize(sp_cols, sp_rows)
    dc, dv = _normalize(dk_cols, dk_rows)
    assert len(sv) == len(dv), f"{name}: rows {len(sv)} vs oracle {len(dv)}"
    if sv != dv:
        diff_a = [r for r in sv if r not in set(dv)][:5]
        diff_b = [r for r in dv if r not in set(sv)][:5]
        raise AssertionError(f"{name}: value mismatch; spark-only={diff_a} oracle-only={diff_b}")


@pytest.mark.parametrize("name", sorted(set(ALL) - set(ORACLED)))
def test_rows_only_queries_run(spark, name):
    df = entry_mod.queries()[name](spark, SF_DIR)
    assert df.count() >= 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"term_a", "term_b", "distance"}


def test_values_df_round_trips_backslashes_and_quotes(spark):
    vals = ["a\\b", "'q'", "\\\\n", "\\n", "it's \\'"]
    df = entry_mod._values_df(spark, [(i, v) for i, v in enumerate(vals)],
                              ["i", "s"])
    assert [r.s for r in df.orderBy("i").collect()] == vals
