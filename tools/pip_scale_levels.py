"""Two-parallelism-level scaling for the SHUFFLE-COVER PIP path
(round-4 verdict item 3).

BENCH's ratio-confirmed >=0.8 efficiency evidence covers the broadcast
PIPJoiner; this tool extends it to the PartitionedPIPJoiner's
shuffle-cover shape (derived past pip.BROADCAST_POLY_BUDGET polygons) —
the only shape that holds at 10^7+ polygons
(the full-country workload: test_suite/db_uksh.txt, 6,259 files).

Measured job = the north-star pipeline on the partitioned path: pages
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

Protocol is bench.py's: interleaved (lo, hi) subprocess pairs, each
subprocess confirming its own min (second-lowest within 20% of lowest),
outer loop stopping only once the efficiency ratio is stable within 5%,
with the symmetric sustained-contention extension. Smaller pair budget
than bench (a lo-level pair costs minutes, not seconds).

Usage (idle host):
    python tools/pip_scale_levels.py [n_side=3500] [n_pages=1100000]
Env: SPARK_GRAFT_PIP_LEVELS (default "2,8").
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import _materialize, _wait_for_idle  # noqa: E402

N_SIDE = int(os.environ.get("SPARK_GRAFT_PIP_NSIDE", 3500))
N_PAGES = int(os.environ.get("SPARK_GRAFT_PIP_NPAGES", 1_100_000))
INDEX_PATH = os.environ.get(
    "SPARK_GRAFT_PIP_INDEX", f"/tmp/gdal_vfr_pip_index_{N_SIDE}"
)
PAGES_PATH = os.environ.get(
    "SPARK_GRAFT_PIP_PAGES", f"/tmp/gdal_vfr_pip_pages_{N_PAGES}"
)


def steady_job(spark, joiner, pages):
    """Per-batch work a production pipeline pays per micro-batch: the
    partitioned PIP join + tile assignment + rollup (bench.py's
    spatial_pipeline on the shuffle-cover path)."""
    from pyspark.sql import functions as F

    from gdal_vfr_spark.geo import tiles

    joined = joiner.apply(pages)
    keyed = tiles.with_tile_key(joined, res=tiles.DEFAULT_TILE_RES)
    return keyed.groupBy(
        "parcel_kod", tiles.tile_prefix_expr("tile_key", 6).alias("tile_prefix")
    ).agg(F.count("*").alias("n_pages"))


def run_worker(cpus: int) -> None:
    from pyspark.sql import functions as F

    from gdal_vfr_spark import datagen, get_spark
    from gdal_vfr_spark.geo.pip import PartitionedPIPJoiner

    spark = get_spark(
        f"pip_levels_{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    joiner = PartitionedPIPJoiner.load_index(spark, INDEX_PATH)
    assert not joiner.broadcast_cover  # the 10^7+-polygon shape under test
    pages = (
        spark.read.parquet(PAGES_PATH)
        .where(F.col("lon").isNotNull())
        .select("url", "lon", "lat")
    )
    n_geo = pages.count()
    # warmup action doubles as the per-level correctness gate: every
    # matched page checked against the arithmetic ground truth (the
    # parcel grid is axis-aligned and the page lattice is provably off
    # parcel edges — tools/pip_scale_run.py module docstring).
    truth = F.lit(datagen.PARL_BASE) + (
        F.floor((F.col("lat") - F.lit(49.5)) * N_SIDE).cast("long") * N_SIDE
        + F.floor((F.col("lon") - F.lit(14.0)) * N_SIDE).cast("long")
    )
    t0 = time.time()
    joined = joiner.apply(pages).persist()
    n_matched = joined.count()
    n_bad = joined.where(F.col("parcel_kod") != truth).count()
    joined.unpersist()
    warm_s = time.time() - t0
    assert n_bad == 0, f"{n_bad} PIP mismatches at local[{cpus}]"
    assert n_matched == n_geo, (n_matched, n_geo)

    cap = 3 if cpus <= 4 else 5
    times: list[float] = []
    for _ in range(cap):
        t1 = time.time()
        _materialize(steady_job(spark, joiner, pages))
        times.append(time.time() - t1)
        if len(times) >= 2:
            lo1, lo2 = sorted(times)[:2]
            if lo2 <= lo1 * 1.2:
                break
    dt = min(times)
    print(
        json.dumps(
            {
                "cpus": cpus,
                "sec": dt,
                "all_secs": [round(t, 2) for t in times],
                "warmup_sec": round(warm_s, 1),
                "pages": n_geo,
                "matched": n_matched,
                "mismatches": n_bad,
                "pages_per_sec": n_geo / dt,
            }
        )
    )


def ensure_inputs() -> None:
    from gdal_vfr_spark import datagen, get_spark
    from gdal_vfr_spark.geo.pip import PartitionedPIPJoiner

    need_pages = not os.path.exists(os.path.join(PAGES_PATH, "_SUCCESS"))
    need_index = not os.path.exists(os.path.join(INDEX_PATH, "meta.json"))
    if not (need_pages or need_index):
        return
    spark = get_spark(
        "pip_levels_prepare", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    if need_pages:
        datagen.gen_webpages_sql(spark, N_PAGES).repartition(64).write.mode(
            "overwrite"
        ).parquet(PAGES_PATH)
    if need_index:
        parcely = datagen.gen_parcely_large(spark, n_side=N_SIDE)
        joiner = PartitionedPIPJoiner(
            parcely,
            poly_key="kod",
            geom_col="originalni_hranice",
            out_key="parcel_kod",
        )
        assert not joiner.broadcast_cover  # the 10^7+-polygon shape under test
        joiner.save_index(INDEX_PATH)
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        run_worker(int(sys.argv[2]))
        return
    ensure_inputs()
    lo, hi = (
        int(x) for x in os.environ.get("SPARK_GRAFT_PIP_LEVELS", "2,8").split(",")
    )
    out: dict = {"n_polys": N_SIDE * N_SIDE, "levels": {"lo": lo, "hi": hi}}
    samples: dict[int, list[float]] = {lo: [], hi: []}

    def _run_level(cpus: int) -> None:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker", str(cpus)],
            capture_output=True,
            text=True,
            cwd=REPO,
        )
        lines = [l for l in proc.stdout.strip().splitlines() if l.startswith("{")]
        if not lines:
            raise RuntimeError(f"worker local[{cpus}] failed:\n{proc.stderr[-2000:]}")
        res = json.loads(lines[-1])
        tag = f"n{cpus}"
        samples[cpus].append(round(res["pages_per_sec"]))
        if tag not in out or res["sec"] < out[tag]["sec"]:
            out[tag] = res

    eff_history: list[float] = []
    load_history: list[float] = []
    min_pairs, max_pairs, max_extra = 2, 3, 2
    bar = 0.8

    def _pair() -> None:
        load_history.append(round(os.getloadavg()[0], 1))
        _run_level(lo)
        _run_level(hi)
        thr_lo = out[f"n{lo}"]["pages_per_sec"]
        thr_hi = out[f"n{hi}"]["pages_per_sec"]
        eff_history.append(round((thr_hi / thr_lo) / (hi / lo), 3))

    def _stable() -> bool:
        return (
            len(eff_history) >= 2
            and abs(eff_history[-1] - eff_history[-2]) <= 0.05 * eff_history[-1]
        )

    for pair in range(max_pairs):
        _pair()
        if pair + 1 >= min_pairs and _stable():
            break
    extra = 0
    while (eff_history[-1] < bar or not _stable()) and extra < max_extra:
        _wait_for_idle(threshold=4.0, max_wait=300.0)
        _pair()
        extra += 1
    out["scaling_efficiency"] = eff_history[-1]
    out["eff_history"] = eff_history
    out["extended_pairs"] = extra
    out["load_at_pairs"] = load_history
    out["throughput_samples"] = {f"n{k}": v for k, v in samples.items()}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
