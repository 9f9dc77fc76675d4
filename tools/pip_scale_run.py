"""10^7-polygon shuffle-cover PIP measurement (round-3 verdict item 4).

Extends the 810k-polygon evidence (BASELINE.md) to the scale the
shuffle-cover shape of `PartitionedPIPJoiner` was built for: a
12.25M-parcel grid (n_side=3500 — chosen so 7*(2j+1) = 2k has
no integer solution, keeping the webpage point lattice provably off
parcel edges; 1000/gcd(3500,1000) = 2 is even, the fixture edge rule)
joined against geotagged synthetic pages, with the exact arithmetic
ground truth checked for EVERY matched page.

Past `pip.BROADCAST_POLY_BUDGET` polygons the joiner switches its
candidate join to a cell-keyed shuffle (pages repartition once; the
cover stays a distributed table) — the only shape that holds at 10^7+
polygons. This script measures that shape end-to-end (the default grid
is past the budget, and the JSON line records the derived
`broadcast_cover`) and prints ONE JSON line for BASELINE.md.

Usage (idle host — same caveat as bench.py):
    python tools/pip_scale_run.py [n_side=3500] [n_pages=400000]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def parcel_truth(n_side: int):
    """The arithmetic ground truth: the parcel grid is axis-aligned, so
    the true parcel of (lon, lat) is the floor cell, and the lattice
    never sits on an edge (see module docstring), so floor == PIP."""
    from pyspark.sql import functions as F

    from gdal_vfr_spark import datagen

    return F.lit(datagen.PARL_BASE) + (
        F.floor((F.col("lat") - F.lit(49.5)) * n_side).cast("long") * n_side
        + F.floor((F.col("lon") - F.lit(14.0)) * n_side).cast("long")
    )


def parcel_joiner(spark, n_side: int):
    """The prepared index over the n_side x n_side parcel grid."""
    from gdal_vfr_spark import datagen
    from gdal_vfr_spark.geo.pip import PartitionedPIPJoiner

    return PartitionedPIPJoiner(
        datagen.gen_parcely_large(spark, n_side=n_side),
        poly_key="kod",
        geom_col="originalni_hranice",
        out_key="parcel_kod",
    )


def main() -> None:
    n_side = int(sys.argv[1]) if len(sys.argv) > 1 else 3500
    n_pages = int(sys.argv[2]) if len(sys.argv) > 2 else 400_000
    from pyspark.sql import functions as F

    from gdal_vfr_spark import datagen, get_spark

    spark = get_spark(
        "pip_scale_run", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    pages = (
        datagen.gen_webpages_sql(spark, n_pages)
        .where(F.col("lon").isNotNull())
        .select("url", "lon", "lat")
        .persist()
    )
    n_geo = pages.count()

    t0 = time.time()
    joiner = parcel_joiner(spark, n_side)
    build_s = time.time() - t0

    # FIRST action: materializes the persisted cover + group tables
    # (the O(dimension) index build — mapInPandas WKB decode of every
    # polygon) on top of the join itself. STEADY action: the same join
    # against the already-persisted index — the amortized per-batch
    # cost a production pipeline pays (PIPJoiner's build-once /
    # apply-per-batch split, SURVEY §3.4).
    t1 = time.time()
    joined = joiner.apply(pages).persist()
    n_matched = joined.count()
    first_s = time.time() - t1
    n_bad = joined.where(F.col("parcel_kod") != parcel_truth(n_side)).count()
    joined.unpersist()
    t2 = time.time()
    n2 = joiner.apply(pages).count()
    steady_s = time.time() - t2
    assert n2 == n_matched

    print(
        json.dumps(
            {
                "n_polys": n_side * n_side,
                "n_pages_geo": n_geo,
                "n_matched": n_matched,
                "mismatches": n_bad,
                "missed": n_geo - n_matched,
                "cover_res": joiner.res,
                "broadcast_cover": joiner.broadcast_cover,
                "constructor_sec": round(build_s, 2),
                "first_action_sec": round(first_s, 2),
                "steady_action_sec": round(steady_s, 2),
                "pages_per_sec_first": round(n_geo / first_s),
                "pages_per_sec_steady": round(n_geo / steady_s),
            }
        )
    )


if __name__ == "__main__":
    main()
