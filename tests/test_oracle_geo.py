"""Tier-1 oracle check for the partitioned halo-grid geo queries: each
queries() entry must equal its oracle_sql() DuckDB twin exactly, under
the same order-free comparison tools/check_oracle.py applies."""

import os

import duckdb
import pytest

import __spark_entry__ as entry
from tools.check_oracle import normalize

# the sf0.001 fixture tables live in the testdata directory beside the
# repository checkout (TESTDATA.md)
SF_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "testdata",
    "sf0.001",
)

GEO_QUERIES = (
    "geo_pip_parcely_large",
    "geo_pip_hierarchy_parcel",
    "geo_range_join_large",
    "geo_knn_lines_large",
    "geo_knn_points_large",
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in entry.TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    yield con
    con.close()


@pytest.mark.parametrize("name", GEO_QUERIES)
def test_geo_query_matches_oracle(spark, duck, name):
    got = normalize(entry.queries()[name](spark, SF_DIR).toPandas())
    want = normalize(duck.sql(entry.oracle_sql()[name]).df())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want) > 0
    diff = (got != want).any(axis=1)
    assert got.equals(want), (
        f"{int(diff.sum())}/{len(got)} rows differ, e.g. "
        f"spark {got[diff].head(3).to_dict('records')} vs "
        f"duckdb {want[diff].head(3).to_dict('records')}"
    )
