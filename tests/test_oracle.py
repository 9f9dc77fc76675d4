"""Tier-1 oracle gate: every queries() entry must equal its oracle_sql()
DuckDB twin exactly, under the order-free comparison of
tools/check_oracle.normalize. This runs in the tuned test session (Arrow
on, 8 shuffle partitions); tools/check_oracle.py runs the same
comparison in a bare session (no Arrow, 200 shuffle partitions)."""

import os

import duckdb
import pytest

import __spark_entry__ as entry
from tools.check_oracle import normalize

# the fixture tables live in the testdata directory beside the
# repository checkout (TESTDATA.md)
TESTDATA = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "testdata",
)
QUERIES = entry.queries()
ORACLES = entry.oracle_sql()
# every comparison must see rows; these two return none at sf0.001
# (so1_symmetric_diff is still empty at sf0.01)
SCALE = {"p2_key_lookup": "sf0.01", "so1_symmetric_diff": "sf0.1"}


@pytest.fixture(scope="module")
def duck():
    cons = {}

    def connect(sf):
        if sf not in cons:
            con = duckdb.connect()
            for t in entry.TABLES:
                path = os.path.join(TESTDATA, sf, f"{t}.parquet")
                if os.path.exists(path):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            cons[sf] = con
        return cons[sf]

    yield connect
    for con in cons.values():
        con.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    sf = SCALE.get(name, "sf0.001")
    try:
        got = normalize(QUERIES[name](spark, os.path.join(TESTDATA, sf)).toPandas())
    finally:
        # release what the query cached so 118 queries do not pile up
        # in the one test session
        spark.catalog.clearCache()
    want = normalize(duck(sf).sql(ORACLES[name]).df())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want) > 0
    diff = ((got != want) & ~(got.isna() & want.isna())).any(axis=1)
    assert got.equals(want), (
        f"{int(diff.sum())}/{len(got)} rows differ, e.g. "
        f"spark {got[diff].head(3).to_dict('records')} vs "
        f"duckdb {want[diff].head(3).to_dict('records')}"
    )
