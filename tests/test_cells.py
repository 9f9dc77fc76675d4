import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from gdal_vfr_spark.geo import cells


def test_morton_roundtrip():
    rng = np.random.default_rng(0)
    ix = rng.integers(0, 1 << 29, 1000)
    iy = rng.integers(0, 1 << 29, 1000)
    m = cells.morton_encode(ix, iy)
    dx, dy = cells.morton_decode(m)
    assert np.array_equal(dx, ix) and np.array_equal(dy, iy)
    assert (m >= 0).all()


@settings(max_examples=200, deadline=None)
@given(
    lon=st.floats(-180, 179.999999),
    lat=st.floats(-90, 89.999999),
    res=st.integers(0, cells.MAX_RES),
)
def test_cell_contains_its_point(lon, lat, res):
    c = cells.cell_encode(np.asarray([lon]), np.asarray([lat]), res)
    lon0, lat0, lon1, lat1 = cells.cell_bounds(c)
    # quantization is candidate-generation only (refine restores
    # exactness), so an ulp of boundary fuzz either side is fine
    assert lon0[0] - 1e-9 <= lon <= lon1[0] + 1e-9
    assert lat0[0] - 1e-9 <= lat <= lat1[0] + 1e-9


def test_cell_parent_is_prefix():
    c = cells.cell_encode(np.asarray([14.5]), np.asarray([50.0]), 20)
    p = cells.cell_parent(c, 10)
    ix, iy, res = cells.cell_decode(p)
    cx, cy, cres = cells.cell_decode(c)
    assert res[0] == 10 and cres[0] == 20
    assert ix[0] == cx[0] >> 10 and iy[0] == cy[0] >> 10


def test_nan_maps_to_minus_one():
    c = cells.cell_encode(np.asarray([np.nan, 14.5]), np.asarray([50.0, np.nan]), 8)
    assert list(c) == [-1, -1]


def test_k_ring_counts():
    c = int(cells.cell_encode(np.asarray([14.5]), np.asarray([50.0]), 10)[0])
    ring = cells.k_ring(c, 1)
    assert len(ring) == 9 and c in set(ring.tolist())
    assert len(cells.k_ring(c, 2)) == 25


def test_cover_bbox_covers_center():
    cc = cells.cover_bbox(14.0, 49.5, 15.0, 50.5, 8)
    c = cells.cell_encode(np.asarray([14.5]), np.asarray([50.0]), 8)
    assert int(c[0]) in set(cc.tolist())


def test_zorder_locality():
    # cells that are spatially adjacent share id prefixes more than
    # distant ones — sanity check that the key is a space-filling curve
    a = cells.cell_encode(np.asarray([14.5]), np.asarray([50.0]), 20)[0]
    b = cells.cell_encode(np.asarray([14.500001]), np.asarray([50.000001]), 20)[0]
    far = cells.cell_encode(np.asarray([-70.0]), np.asarray([-30.0]), 20)[0]
    assert abs(int(a) - int(b)) < abs(int(a) - int(far))


def test_cell_udf(spark):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"lon": [14.5, None, -180.0], "lat": [50.0, 50.0, -90.0]})
    )
    out = cells.with_cell(df, 12).orderBy("cell").collect()
    vals = [r["cell"] for r in out]
    assert vals[0] == -1  # null geotag
    expected = cells.cell_encode(np.asarray([14.5]), np.asarray([50.0]), 12)[0]
    assert int(expected) in vals


def test_mixed_res_udf(spark):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"lon": [14.5, 14.5], "lat": [50.0, 50.0], "res": [8, 12]})
    )
    from pyspark.sql import functions as F

    out = df.select(
        cells.cell_mixed_res_udf(F.col("lon"), F.col("lat"), F.col("res")).alias("c")
    ).collect()
    got = {int(r["c"]) & 0x1F for r in out}
    assert got == {8, 12}


def test_cell_expr_matches_numpy(spark):
    """The Catalyst encoder (with_cell) and the numpy encode must agree
    bit-for-bit (with_cell is the 10^12-row hot path)."""
    import pandas as pd

    rng = np.random.default_rng(5)
    lon = rng.uniform(-180, 180, 2000)
    lat = rng.uniform(-90, 90, 2000)
    pdf = pd.DataFrame({"lon": lon, "lat": lat})
    pdf.loc[:10, "lon"] = None
    df = spark.createDataFrame(pdf)
    for res in (0, 7, 15, cells.MAX_RES):
        got = cells.with_cell(df, res).toPandas()["cell"].to_numpy()
        lon2 = pdf["lon"].to_numpy(dtype=np.float64)
        want = cells.cell_encode(lon2, lat, res)
        assert np.array_equal(got, want), res


def test_gen_webpages_sql_compiles_without_codegen_fallback(spark):
    """The bench-scale page generator (truth_tile_key via with_cell)
    must compile inside whole-stage codegen: with the interpreted
    fallback switched off, a method past the JVM's 64 KB limit raises
    instead of silently running interpreted. Its tile key must equal
    the numpy encode."""
    from gdal_vfr_spark import datagen

    key = "spark.sql.codegen.fallback"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        pdf = datagen.gen_webpages_sql(spark, 1000).toPandas()
    finally:
        spark.conf.set(key, old)
    want = cells.cell_encode(
        pdf["lon"].to_numpy(dtype=np.float64),
        pdf["lat"].to_numpy(dtype=np.float64),
        datagen.TILE_RES,
    )
    assert np.array_equal(pdf["truth_tile_key"].to_numpy(), want)
    assert (want == -1).sum() == 50  # every 20th geotag is null
