import numpy as np
import pandas as pd

from gdal_vfr_spark import datagen
from gdal_vfr_spark.geo import pip, wkb
from gdal_vfr_spark.geo.pip import PackedPolygonIndex, PIPJoiner


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
    joined = PIPJoiner(
        obce,
        poly_key="kod",
        geom_col="originalni_hranice",
        out_key="obec_kod",
    ).apply(pages)
    rows = joined.select("url", "obec_kod", "truth_obec_kod").collect()
    n_geo = pages.where("lon is not null").count()
    assert len(rows) == n_geo  # every geotagged page matched exactly one obec
    for r in rows:
        assert r["obec_kod"] == r["truth_obec_kod"], r


def test_pip_join_left_keeps_nulls(spark):
    pages = datagen.gen_webpages(spark, n=500, seed=11)
    obce = datagen.gen_obce(spark, seed=11)
    joined = PIPJoiner(
        obce, poly_key="kod", geom_col="originalni_hranice", out_key="obec_kod",
    ).apply(pages, how="left")
    assert joined.count() == 500
    nulls = joined.where("obec_kod is null").count()
    assert nulls == pages.where("lon is null").count()


def test_pip_counts_per_obec(spark):
    """The reference's headline observable: per-layer feature counts
    (vfrogr.py:409-426) — here per-municipality page counts."""
    from pyspark.sql import functions as F

    pages = datagen.gen_webpages(spark, n=2000, seed=3)
    obce = datagen.gen_obce(spark, seed=3)
    joined = PIPJoiner(
        obce, poly_key="kod", geom_col="originalni_hranice", out_key="obec_kod"
    ).apply(pages)
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


def test_partitioned_pip_shuffle_cover_parity(spark, monkeypatch):
    """Past BROADCAST_POLY_BUDGET polygons (the 10^7+-polygon shape:
    cell-keyed shuffle candidate join) the joiner must return exactly
    the broadcast-cover rows. The budget is lowered below the layer's
    polygon count so both shapes run on the same layer."""
    from gdal_vfr_spark.geo.pip import PartitionedPIPJoiner

    pages = datagen.gen_webpages(spark, n=1200, seed=29)
    obce = datagen.gen_obce(spark, seed=29)
    rows = {}
    for budget in (pip.BROADCAST_POLY_BUDGET, 0):
        monkeypatch.setattr(pip, "BROADCAST_POLY_BUDGET", budget)
        pj = PartitionedPIPJoiner(
            obce, poly_key="kod", geom_col="originalni_hranice", out_key="obec_kod"
        )
        rows[pj.broadcast_cover] = sorted(
            (r["url"], r["obec_kod"])
            for r in pj.apply(pages).select("url", "obec_kod").collect()
        )
    assert set(rows) == {True, False}  # both shapes ran
    assert rows[False] == rows[True]


def test_partitioned_pip_index_save_load_parity(spark, tmp_path, monkeypatch):
    """save_index/load_index round-trip: a joiner re-armed from the
    parquet index returns exactly the builder's rows (both cover
    modes: the budget is lowered below the layer's polygon count for
    the shuffle one), without touching the raw dimension layer."""
    from gdal_vfr_spark.geo.pip import PartitionedPIPJoiner

    pages = datagen.gen_webpages(spark, n=1500, seed=31)
    parcels = datagen.gen_parcely_large(spark, n_side=40)
    want = None
    for bc, budget in ((True, pip.BROADCAST_POLY_BUDGET), (False, 0)):
        monkeypatch.setattr(pip, "BROADCAST_POLY_BUDGET", budget)
        built = PartitionedPIPJoiner(
            parcels, poly_key="kod", geom_col="originalni_hranice", out_key="parcel_kod"
        )
        assert built.broadcast_cover == bc
        if want is None:
            want = sorted(
                (r["url"], r["parcel_kod"])
                for r in built.apply(pages).select("url", "parcel_kod").collect()
            )
        idx_dir = str(tmp_path / f"pip_index_{bc}")
        built.save_index(idx_dir)
        loaded = PartitionedPIPJoiner.load_index(spark, idx_dir)
        assert loaded.res == built.res and loaded.gres == built.gres
        assert loaded.broadcast_cover == bc
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


def _touches(edge, x0, y0, x1, y1):
    """Segment vs closed rect, one pair: separated on x, on y, or by the
    segment's line (all 4 corners strictly on one side)."""
    ax, ay, bx, by = edge
    if min(ax, bx) > x1 or max(ax, bx) < x0 or min(ay, by) > y1 or max(ay, by) < y0:
        return False
    d = [(bx - ax) * (cy - ay) - (by - ay) * (cx - ax) for cx in (x0, x1) for cy in (y0, y1)]
    return not (all(v > 0 for v in d) or all(v < 0 for v in d))


def _even_odd(edges, bbox, x, y):
    xmin, ymin, xmax, ymax = bbox
    if not (xmin <= x <= xmax and ymin <= y <= ymax):
        return False
    inside = False
    for ax, ay, bx, by in edges:
        if (ay > y) != (by > y) and x < ax + (y - ay) * ((bx - ax) / (by - ay)):
            inside = not inside
    return inside


def _brute_cover(idx, res):
    """cover() one cell at a time against every edge of its polygon,
    in plain Python floats: the polygon's bbox cells row-major, a cell
    interior when no edge touches its 1e-9-inflated rect and its
    center is inside."""
    from gdal_vfr_spark.geo import cells

    n = 1 << res
    dx, dy = 360.0 / n, 180.0 / n
    ex, ey = dx * 1e-9, dy * 1e-9
    gxs, gys, pidx, interior = [], [], [], []
    for p in range(len(idx.keys)):
        rings = [
            idx.verts[idx.ring_off[r] : idx.ring_off[r + 1]].tolist()
            for r in range(idx.poly_ring[p], idx.poly_ring[p + 1])
        ]
        edges = [(*a, *b) for ring in rings for a, b in zip(ring[:-1], ring[1:])]
        bbox = idx.bbox[p].tolist()
        (ix0, ix1), (iy0, iy1) = cells.lonlat_to_grid(
            np.asarray(bbox[0::2]), np.asarray(bbox[1::2]), res
        )
        for gy in range(int(iy0), int(iy1) + 1):
            for gx in range(int(ix0), int(ix1) + 1):
                x0, x1 = gx * dx - 180.0 - ex, (gx + 1) * dx - 180.0 + ex
                y0, y1 = gy * dy - 90.0 - ey, (gy + 1) * dy - 90.0 + ey
                touched = any(_touches(e, x0, y0, x1, y1) for e in edges)
                cx, cy = gx * dx - 180.0 + dx / 2, gy * dy - 90.0 + dy / 2
                gxs.append(gx)
                gys.append(gy)
                pidx.append(p)
                interior.append(not touched and _even_odd(edges, bbox, cx, cy))
    cell = (cells.morton_encode(np.asarray(gxs), np.asarray(gys)) << np.int64(5)) | res
    pidx = np.asarray(pidx, dtype=np.int64)
    return pd.DataFrame(
        {"cell": cell.astype(np.int64), "pidx": pidx, "poly_key": idx.keys[pidx],
         "interior": np.asarray(interior, dtype=bool)}
    )


def test_cover_matches_brute_force():
    """The vectorised cover equals the one-cell-at-a-time reference,
    rows, order and dtypes, on random polygons with holes whose
    vertices sit on cell boundaries, 1e-12 off them or in between, with
    zero-length edges, at several res; plus a triangle whose long
    diagonal edge alone pairs with more cells than one edge block
    holds. Every point sampled inside an interior cell is inside."""
    rng = np.random.default_rng(17)
    base = 14
    n = 1 << base
    dx, dy = 360.0 / n, 180.0 / n
    polys = []
    for key in range(24):
        m = int(rng.integers(3, 9))
        gx = 8200 + rng.integers(0, 12, m) + key * 3
        gy = 12100 + rng.integers(0, 12, m)
        off = rng.choice([0.0, 1e-12, -1e-12, 0.37], size=(m, 2))
        ring = np.c_[(gx + off[:, 0]) * dx - 180.0, (gy + off[:, 1]) * dy - 90.0]
        ring = np.insert(ring, 1, ring[1], axis=0)  # zero-length edge
        rings = [np.r_[ring, ring[:1]]]
        if key % 2:
            c = ring.mean(axis=0)
            hole = c + 0.3 * (ring[:3] - c)
            rings.append(np.r_[hole, hole[:1]])
        polys.append((1000 + key, wkb.polygon(rings)))
    idx = PackedPolygonIndex.build(polys)
    for res in (base - 2, base, base + 1, base + 3):
        got = idx.cover(res)
        pd.testing.assert_frame_equal(got, _brute_cover(idx, res))
    assert got["interior"].any() and not got["interior"].all()

    tri = np.asarray([[14.0, 49.5], [15.1, 49.5], [15.1, 50.05], [14.0, 49.5]])
    idx = PackedPolygonIndex.build([(7, wkb.polygon([tri]))])
    got = idx.cover(17)
    assert len(got) > 1 << 17  # the diagonal's pairs alone exceed one block
    pd.testing.assert_frame_equal(got, _brute_cover(idx, 17))

    from gdal_vfr_spark.geo import cells

    inner = got[got["interior"]]
    lon0, lat0, lon1, lat1 = cells.cell_bounds(inner["cell"].to_numpy())
    u = rng.uniform(0.001, 0.999, size=(2, len(inner)))
    px, py = lon0 + u[0] * (lon1 - lon0), lat0 + u[1] * (lat1 - lat0)
    assert idx.contains(inner["pidx"].to_numpy(), px, py).all()


def test_pip_empty_layer_checks_how(spark):
    """An empty polygon layer still validates `how`: outer raises, left
    keeps every point with a NULL key, inner returns nothing."""
    import pytest

    from gdal_vfr_spark.geo.pip import PIPJoiner

    pages = datagen.gen_webpages(spark, n=200, seed=5)
    polys = spark.createDataFrame([], "kod long, geom binary")
    joiner = PIPJoiner(polys, poly_key="kod", geom_col="geom", out_key="obec_kod")
    with pytest.raises(ValueError, match="outer"):
        joiner.apply(pages, how="outer")
    left = joiner.apply(pages, how="left")
    assert left.columns == pages.columns + ["obec_kod"]
    assert left.count() == 200 and left.where("obec_kod is not null").count() == 0
    assert joiner.apply(pages).count() == 0
