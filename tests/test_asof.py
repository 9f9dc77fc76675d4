"""As-of join: the window (JVM) formulation vs DuckDB's native
`ASOF LEFT JOIN` on the same rows — identical output on deterministic
data with ties, missing keys, and keys with no earlier right row."""

import duckdb
from pyspark.sql import functions as F

from gdal_vfr_spark.operators.asof import asof_join


def _duck_asof(left, right):
    """(id, key, t, val) rows of DuckDB's backward as-of left join."""
    con = duckdb.connect()
    try:
        con.register("l", left.toPandas())
        con.register("r", right.toPandas())
        return sorted(
            con.sql(
                "SELECT l.id, l.key, l.t, r.val FROM l ASOF LEFT JOIN r"
                " ON l.key = r.key AND l.t >= r.t"
            ).fetchall()
        )
    finally:
        con.close()


def _fixtures(spark):
    left = spark.createDataFrame(
        [
            # (id, key, t)
            (1, 10, 5), (2, 10, 15), (3, 10, 25),
            (4, 20, 10),            # tie with right at t=10
            (5, 30, 7),             # key with no right rows
            (6, 40, 1),             # before any right row for the key
        ],
        "id long, key long, t long",
    )
    right = spark.createDataFrame(
        [
            (10, 3, 100), (10, 14, 101), (10, 25, 102),  # tie at t=25 too
            (20, 10, 200),
            (40, 2, 400),
        ],
        "key long, t long, val long",
    )
    return left, right


def test_window_matches_cogroup(spark):
    left, right = _fixtures(spark)
    out = asof_join(left, right, on="t", by="key", right_cols=["val"])
    got = sorted(tuple(r) for r in out.select("id", "key", "t", "val").collect())
    assert got == _duck_asof(left, right)
    assert len(got) == 6


def test_window_semantics(spark):
    left, right = _fixtures(spark)
    got = {
        r["id"]: r["val"]
        for r in asof_join(left, right, on="t", by="key").collect()
    }
    assert got == {1: 100, 2: 101, 3: 102, 4: 200, 5: None, 6: None}


def test_window_no_python_boundary(spark):
    left, right = _fixtures(spark)
    plan = asof_join(left, right, on="t", by="key")._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "FlatMapCoGroupsInPandas" not in plan


def test_larger_parity(spark):
    left = spark.range(2000).select(
        F.col("id"),
        (F.col("id") % 97).alias("key"),
        ((F.col("id") * 7919) % 1000).alias("t"),
    )
    right = spark.range(500).select(
        (F.col("id") % 97).alias("key"),
        ((F.col("id") * 104729) % 1000).alias("t"),
        (F.col("id") + 10000).alias("val"),
    ).groupBy("key", "t").agg(F.max("val").alias("val"))
    out = asof_join(left, right, on="t", by="key", right_cols=["val"])
    got = sorted(tuple(r) for r in out.select("id", "key", "t", "val").collect())
    assert got == _duck_asof(left, right)
