import numpy as np
import pandas as pd

from gdal_vfr_spark import datagen
from gdal_vfr_spark.geo import wkb
from gdal_vfr_spark.geo.pip import PackedPolygonIndex, point_in_polygon_join


def test_packed_index_contains():
    sq = wkb.polygon(
        [np.asarray([[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]], dtype=float)]
    )
    hole = wkb.polygon(
        [
            np.asarray([[10, 10], [20, 10], [20, 20], [10, 20], [10, 10]], dtype=float),
            np.asarray([[12, 12], [14, 12], [14, 14], [12, 14], [12, 12]], dtype=float),
        ]
    )
    idx = PackedPolygonIndex.build([(1, sq), (2, hole)])
    px = np.asarray([1.0, 3.0, 13.0, 15.0, -1.0])
    py = np.asarray([1.0, 1.0, 13.0, 15.0, 1.0])
    pidx = np.asarray([0, 0, 1, 1, 0])
    got = idx.contains(pidx, px, py)
    # (13,13) is inside the hole -> outside; (15,15) inside shell
    assert got.tolist() == [True, False, False, True, False]


def test_pip_join_matches_ground_truth(spark):
    pages = datagen.gen_webpages(spark, n=3000, seed=7)
    obce = datagen.gen_obce(spark, seed=7)
    joined = point_in_polygon_join(
        pages,
        obce,
        poly_key="kod",
        geom_col="originalni_hranice",
        out_key="obec_kod",
    )
    rows = joined.select("url", "obec_kod", "truth_obec_kod").collect()
    n_geo = pages.where("lon is not null").count()
    assert len(rows) == n_geo  # every geotagged page matched exactly one obec
    for r in rows:
        assert r["obec_kod"] == r["truth_obec_kod"], r


def test_pip_join_left_keeps_nulls(spark):
    pages = datagen.gen_webpages(spark, n=500, seed=11)
    obce = datagen.gen_obce(spark, seed=11)
    joined = point_in_polygon_join(
        pages, obce, poly_key="kod", geom_col="originalni_hranice",
        out_key="obec_kod", how="left",
    )
    assert joined.count() == 500
    nulls = joined.where("obec_kod is null").count()
    assert nulls == pages.where("lon is null").count()


def test_pip_counts_per_obec(spark):
    """The reference's headline observable: per-layer feature counts
    (vfrogr.py:409-426) — here per-municipality page counts."""
    from pyspark.sql import functions as F

    pages = datagen.gen_webpages(spark, n=2000, seed=3)
    obce = datagen.gen_obce(spark, seed=3)
    joined = point_in_polygon_join(
        pages, obce, poly_key="kod", geom_col="originalni_hranice", out_key="obec_kod"
    )
    got = {
        r["obec_kod"]: r["n"]
        for r in joined.groupBy("obec_kod").agg(F.count("*").alias("n")).collect()
    }
    truth = (
        pages.where("truth_obec_kod >= 0")
        .groupBy("truth_obec_kod")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    want = {r["truth_obec_kod"]: r["n"] for r in truth}
    assert got == want


def test_interior_certification_exact_on_diagonal_polygons(spark):
    """The interior-cell fast path must agree with pure winding refine
    on NON-axis-aligned geometry (where the conservative edge-bbox
    test actually has boundary cells of both kinds): a diamond and a
    concave chevron, random points, compared point-by-point against
    driver-side contains()."""
    from pyspark.sql import functions as F

    from gdal_vfr_spark.geo.pip import PackedPolygonIndex, PIPJoiner

    diamond = wkb.polygon(
        [np.asarray([[14.5, 50.0], [14.7, 50.2], [14.9, 50.0], [14.7, 49.8], [14.5, 50.0]])]
    )
    chevron = wkb.polygon(
        [np.asarray([[14.0, 49.5], [14.4, 49.9], [14.8, 49.5], [14.4, 49.7], [14.0, 49.5]])]
    )
    pdf_polys = pd.DataFrame({"kod": [1, 2], "geom": [diamond, chevron]})
    polys = spark.createDataFrame(pdf_polys)
    rng = np.random.default_rng(5)
    qx = rng.uniform(13.9, 15.0, 4000)
    qy = rng.uniform(49.4, 50.3, 4000)
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(4000), "lon": qx, "lat": qy})
    )
    joiner = PIPJoiner(polys, poly_key="kod", geom_col="geom", out_key="kod")
    # the cover must certify a meaningful interior share, else this
    # test exercises nothing
    cover = joiner.index.cover(joiner.res)
    assert cover["interior"].sum() > 0
    got = {
        (int(r["pid"]), int(r["kod"]))
        for r in joiner.apply(pts, lon_col="lon", lat_col="lat").collect()
    }
    idx = PackedPolygonIndex.build([(1, diamond), (2, chevron)])
    want = set()
    for p, key in ((0, 1), (1, 2)):
        inside = idx.contains_one(p, qx, qy)
        want |= {(int(i), key) for i in np.flatnonzero(inside)}
    assert got == want


def test_partitioned_pip_parity_with_broadcast(spark):
    """PartitionedPIPJoiner (distributed cover + cogrouped refine, no
    driver collect of the dimension) must return EXACTLY the broadcast
    path's rows — inner and left, with and without salt."""
    from pyspark.sql import functions as F

    from gdal_vfr_spark.geo.pip import PartitionedPIPJoiner, PIPJoiner

    pages = datagen.gen_webpages(spark, n=3000, seed=7)
    obce = datagen.gen_obce(spark, seed=7)
    bj = PIPJoiner(obce, poly_key="kod", geom_col="originalni_hranice", out_key="obec_kod")
    want = sorted(
        (r["url"], r["obec_kod"])
        for r in bj.apply(pages).select("url", "obec_kod").collect()
    )
    for salt in (1, 3):
        pj = PartitionedPIPJoiner(
            obce, poly_key="kod", geom_col="originalni_hranice",
            out_key="obec_kod", salt=salt,
        )
        got = sorted(
            (r["url"], r["obec_kod"])
            for r in pj.apply(pages).select("url", "obec_kod").collect()
        )
        assert got == want, f"salt={salt}"
    # left join keeps null-geo pages with a NULL key
    pj = PartitionedPIPJoiner(
        obce, poly_key="kod", geom_col="originalni_hranice", out_key="obec_kod"
    )
    left = pj.apply(pages, how="left")
    assert left.count() == 3000
    assert left.where("obec_kod is null").count() == pages.where("lon is null").count()
    assert left.where(
        F.col("obec_kod").isNotNull()
        & (F.col("obec_kod") != F.col("truth_obec_kod"))
    ).count() == 0


def test_partitioned_pip_parcely_large_truth(spark):
    """Parcel-scale shape at test size: a distributed-generated grid
    parcel layer joined via the partitioned path matches the arithmetic
    ground truth row-for-row."""
    from gdal_vfr_spark.geo.pip import PartitionedPIPJoiner

    n_side = 60
    pages = datagen.gen_webpages(spark, n=2000, seed=13)
    parcels = datagen.gen_parcely_large(spark, n_side=n_side)
    assert parcels.count() == n_side * n_side
    pj = PartitionedPIPJoiner(
        parcels, poly_key="kod", geom_col="originalni_hranice", out_key="parcel_kod"
    )
    rows = pj.apply(pages).select("lon", "lat", "parcel_kod").collect()
    assert len(rows) == pages.where("lon is not null").count()
    for r in rows:
        want = int(
            datagen.truth_parcel_large(
                np.asarray([r["lon"]]), np.asarray([r["lat"]]), n_side
            )[0]
        )
        assert r["parcel_kod"] == want, r


def test_partitioned_pip_survives_clearcache(spark):
    """spark.catalog.clearCache() drops persist marks; apply() must
    re-arm the prepared-index caches so later actions don't silently
    rebuild the cover/group tables per action."""
    from pyspark.storagelevel import StorageLevel

    from gdal_vfr_spark.geo.pip import PartitionedPIPJoiner

    pages = datagen.gen_webpages(spark, n=500, seed=23)
    obce = datagen.gen_obce(spark, seed=23)
    pj = PartitionedPIPJoiner(
        obce, poly_key="kod", geom_col="originalni_hranice", out_key="obec_kod"
    )
    want = pj.apply(pages).count()
    spark.catalog.clearCache()
    assert pj._cover_sdf.storageLevel == StorageLevel.NONE  # mark dropped
    out = pj.apply(pages)
    assert pj._cover_sdf.storageLevel != StorageLevel.NONE  # re-armed
    assert out.count() == want


def test_partitioned_pip_shuffle_cover_parity(spark):
    """broadcast_cover=False (the 10^7+-polygon shape: cell-keyed
    shuffle candidate join) must return exactly the broadcast-cover
    rows."""
    from gdal_vfr_spark.geo.pip import PartitionedPIPJoiner

    pages = datagen.gen_webpages(spark, n=1200, seed=29)
    obce = datagen.gen_obce(spark, seed=29)
    want = sorted(
        (r["url"], r["obec_kod"])
        for r in PartitionedPIPJoiner(
            obce, poly_key="kod", geom_col="originalni_hranice", out_key="obec_kod"
        ).apply(pages).select("url", "obec_kod").collect()
    )
    got = sorted(
        (r["url"], r["obec_kod"])
        for r in PartitionedPIPJoiner(
            obce, poly_key="kod", geom_col="originalni_hranice",
            out_key="obec_kod", broadcast_cover=False,
        ).apply(pages).select("url", "obec_kod").collect()
    )
    assert got == want


def test_partitioned_pip_index_save_load_parity(spark, tmp_path):
    """save_index/load_index round-trip: a joiner re-armed from the
    parquet index returns exactly the builder's rows (both cover
    modes), without touching the raw dimension layer."""
    from gdal_vfr_spark.geo.pip import PartitionedPIPJoiner

    pages = datagen.gen_webpages(spark, n=1500, seed=31)
    parcels = datagen.gen_parcely_large(spark, n_side=40)
    built = PartitionedPIPJoiner(
        parcels, poly_key="kod", geom_col="originalni_hranice", out_key="parcel_kod"
    )
    want = sorted(
        (r["url"], r["parcel_kod"])
        for r in built.apply(pages).select("url", "parcel_kod").collect()
    )
    idx_dir = str(tmp_path / "pip_index")
    built.save_index(idx_dir)
    for bc in (None, False):
        loaded = PartitionedPIPJoiner.load_index(spark, idx_dir, broadcast_cover=bc)
        assert loaded.res == built.res and loaded.gres == built.gres
        got = sorted(
            (r["url"], r["parcel_kod"])
            for r in loaded.apply(pages).select("url", "parcel_kod").collect()
        )
        assert got == want, f"broadcast_cover={bc}"


def test_partitioned_pip_one_bucket(spark, one_bucket):
    """Every group in one refine bucket: polygons that straddle several
    groups (and, with salt=3, several salts) meet their candidates in
    the same kernel call and are packed once; the parity and truth
    tests above must still hold exactly."""
    from pyspark.sql import functions as F

    from gdal_vfr_spark.geo.pip import PartitionedPIPJoiner

    obce = datagen.gen_obce(spark, seed=7)
    for salt in (1, 3):
        pj = PartitionedPIPJoiner(
            obce, poly_key="kod", geom_col="originalni_hranice", salt=salt
        )
        groups = pj._groups_sdf.groupBy("__pkey").agg(
            F.countDistinct("__grp").alias("g"), F.countDistinct("__gsalt").alias("s")
        )
        assert groups.where("g > 1").count() > 0  # straddling polygons exist
        assert groups.where(f"s != {salt}").count() == 0
    test_partitioned_pip_parity_with_broadcast(spark)
    test_partitioned_pip_parcely_large_truth(spark)
