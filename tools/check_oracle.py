"""Local mirror of the driver's DuckDB-oracle comparison.

Runs every queries() entry and its oracle_sql() twin at sf0.01,
compares row count, column names, and order-insensitive values
(columns sorted by name, rows sorted, exact equality — floats too,
because the queries are engineered for cross-engine determinism).
By default the Spark side is a BARE session (no Arrow, default
shuffle partitions); tests/test_oracle.py makes the same comparison,
through the same normalize(), in the tuned test session at sf0.001.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from gdal_vfr_spark import get_spark
from gdal_vfr_spark.session import local_cores


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            s = pd.to_datetime(pdf[c])
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_localize(None)
            pdf[c] = s.astype("datetime64[ns]")
        elif pdf[c].dtype == object:
            pdf[c] = pdf[c].map(lambda v: str(v))
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].astype(np.float64)
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
    return pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    if os.environ.get("ORACLE_TUNED"):
        # the engine's own tuned session (Arrow on, AQE etc.)
        spark = get_spark("oracle_check", extra_conf={"spark.ui.showConsoleProgress": "false"})
    else:
        # default: a BARE session mirroring the driver's oracle harness —
        # no Arrow, default shuffle partitions. Queries must survive this
        # (round-1 lesson: Arrow-on masked a schema-inference crash).
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master(f"local[{local_cores()}]")
            .appName("oracle_check_bare")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
    con = duckdb.connect()
    for t in entrymod.TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {str(e)[:200]}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(got)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            want = con.sql(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb raised {type(e).__name__}: {str(e)[:200]}")
            continue
        g, w = normalize(got), normalize(want)
        if list(g.columns) != list(w.columns):
            failures.append(name)
            print(f"FAIL  {name}: columns {list(g.columns)} vs {list(w.columns)}")
            continue
        if len(g) != len(w):
            failures.append(name)
            print(f"FAIL  {name}: rowcount {len(g)} vs {len(w)}")
            continue
        eq = g.equals(w)
        if not eq:
            diff = (g != w) & ~(g.isna() & w.isna())
            bad = diff.any(axis=1)
            failures.append(name)
            print(f"FAIL  {name}: {int(bad.sum())}/{len(g)} rows differ")
            print("  spark:", g[bad].head(3).to_dict("records"))
            print("  duck :", w[bad].head(3).to_dict("records"))
            continue
        print(f"OK    {name}: {len(g)} rows [{time.time()-t0:.1f}s]")
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
