"""Two-parallelism-level scaling for the SHUFFLE-COVER PIP path
(round-4 verdict item 3).

BENCH's ratio-confirmed >=0.8 efficiency evidence covers the broadcast
PIPJoiner; this tool extends it to the PartitionedPIPJoiner's
shuffle-cover shape (derived past pip.BROADCAST_POLY_BUDGET polygons) —
the only shape that holds at 10^7+ polygons
(the full-country workload: test_suite/db_uksh.txt, 6,259 files).

Measured job = bench.spatial_pipeline on the partitioned path: pages
-> cell-keyed shuffle candidate join against the DISTRIBUTED cover ->
interior-certified hits + cogrouped winding refine -> Z-order tile key
-> per-(parcel, tile-prefix) counts. The 12.25M-polygon prepared index
is built ONCE at full parallelism and saved to parquet
(PartitionedPIPJoiner.save_index); each level's subprocess re-arms via
load_index — matching production, where the O(dimension) index build is
a one-time storage cost amortized over every batch on every cluster,
and keeping the measurement about the per-batch join that actually
scales out. Correctness is re-checked inside EVERY subprocess (each
level's warmup action verifies the arithmetic ground truth for every
matched page).

The levels come from bench.levels() and run under bench.two_levels,
with a smaller pair budget than bench (a lo-level pair costs minutes,
not seconds).

Usage (idle host):
    python tools/pip_scale_levels.py [n_side=3500] [n_pages=1100000]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import json_worker, level_session, levels, spatial_level, two_levels  # noqa: E402
from tools.pip_scale_run import parcel_joiner, parcel_truth  # noqa: E402


def _paths(n_side: int, n_pages: int) -> tuple[str, str]:
    return (
        os.environ.get("SPARK_GRAFT_PIP_INDEX", f"/tmp/gdal_vfr_pip_index_{n_side}"),
        os.environ.get("SPARK_GRAFT_PIP_PAGES", f"/tmp/gdal_vfr_pip_pages_{n_pages}"),
    )


def run_worker(cpus: int, n_side: int, n_pages: int) -> None:
    from pyspark.sql import functions as F

    from gdal_vfr_spark.geo.pip import PartitionedPIPJoiner

    index_path, pages_path = _paths(n_side, n_pages)
    spark = level_session("pip_levels", cpus)
    joiner = PartitionedPIPJoiner.load_index(spark, index_path)
    assert not joiner.broadcast_cover  # the 10^7+-polygon shape under test
    pages = (
        spark.read.parquet(pages_path)
        .where(F.col("lon").isNotNull())
        .select("url", "lon", "lat")
    )
    n_geo = pages.count()
    # warmup action doubles as the per-level correctness gate: every
    # matched page checked against the arithmetic ground truth
    t0 = time.time()
    joined = joiner.apply(pages).persist()
    n_matched = joined.count()
    n_bad = joined.where(F.col("parcel_kod") != parcel_truth(n_side)).count()
    joined.unpersist()
    warm_s = time.time() - t0
    assert n_bad == 0, f"{n_bad} PIP mismatches at local[{cpus}]"
    assert n_matched == n_geo, (n_matched, n_geo)

    print(
        spatial_level(
            cpus, pages, joiner, n_geo,
            warmup_sec=round(warm_s, 1), matched=n_matched, mismatches=n_bad,
        )
    )


def ensure_inputs(n_side: int, n_pages: int) -> None:
    from gdal_vfr_spark import datagen, get_spark

    index_path, pages_path = _paths(n_side, n_pages)
    need_pages = not os.path.exists(os.path.join(pages_path, "_SUCCESS"))
    need_index = not os.path.exists(os.path.join(index_path, "meta.json"))
    if not (need_pages or need_index):
        return
    spark = get_spark(
        "pip_levels_prepare", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    if need_pages:
        datagen.gen_webpages_sql(spark, n_pages).repartition(64).write.mode(
            "overwrite"
        ).parquet(pages_path)
    if need_index:
        joiner = parcel_joiner(spark, n_side)
        assert not joiner.broadcast_cover  # the 10^7+-polygon shape under test
        joiner.save_index(index_path)
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        run_worker(*(int(a) for a in sys.argv[2:5]))
        return
    n_side = int(sys.argv[1]) if len(sys.argv) > 1 else 3500
    n_pages = int(sys.argv[2]) if len(sys.argv) > 2 else 1_100_000
    ensure_inputs(n_side, n_pages)
    lo, hi = levels()

    def run_level(cpus: int) -> dict:
        return json_worker([os.path.abspath(__file__), "--worker", str(cpus), str(n_side), str(n_pages)])

    out = two_levels(run_level, "pages_per_sec", lo, hi, 2, 3, 2)
    print(json.dumps({"n_polys": n_side * n_side, **out}))


if __name__ == "__main__":
    main()
