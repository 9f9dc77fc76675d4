"""Deterministic synthetic fixtures (FIXTURES.md) — webpages + RUIAN-style
polygon layers with generation-time ground truth.

Polygons form a regular grid over the extent, so every point's parent
municipality / cadastral area / tile key is known at generation time —
replicating the FK ground truth the reference data carries
(gfs/AdresniMista.gfs:63-80, gfs/Parcely.gfs:76-81) and making J4/J5/J6
exactly checkable.

All randomness comes from one seeded PCG64; no wall clock, no external
data. Scale knobs follow FIXTURES.md §1 (megacity hotspot >=20% of rows
in one cell to exercise skew).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from gdal_vfr_spark.geo import cells, wkb

# Czech-like extent (the reference's EPSG:5514 footprint, but in WGS84
# lon/lat per SURVEY.md §1.3 — tile keys must be deterministic).
LON0, LON1 = 14.0, 15.0
LAT0, LAT1 = 49.5, 50.5
GRID = 10  # GRID x GRID = 100 obce polygons (FIXTURES.md §2)
KU_SUB = 2  # 2x2 katastralni uzemi per obec
PAR_SUB = 4  # 4x4 parcely per KU
TILE_RES = 15
OBEC_BASE = 500000
KU_BASE = 600000
PAR_BASE = 70000000
PARL_BASE = 50000000  # large-parcel grid (gen_parcely_large; distinct from AM_BASE)
ULICE_BASE = 100000
BASE_TS = np.datetime64("2024-01-01T00:00:00")

_WORDS = (
    "praha brno plzen ostrava street page data web text the of and to in "
    "a is for on with as by at from map city river castle square"
).split()


def _dx() -> float:
    return (LON1 - LON0) / GRID


def _dy() -> float:
    return (LAT1 - LAT0) / GRID


def obec_kod(ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    return OBEC_BASE + iy * GRID + ix


def truth_obec(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    ix = np.clip(np.floor((lon - LON0) / _dx()).astype(np.int64), 0, GRID - 1)
    iy = np.clip(np.floor((lat - LAT0) / _dy()).astype(np.int64), 0, GRID - 1)
    return obec_kod(ix, iy)


def gen_webpages_pdf(n: int = 10_000, seed: int = 42, null_frac: float = 0.05,
                     hotspot_frac: float = 0.25) -> pd.DataFrame:
    """Common-Crawl-style fact table with geotags + ground truth."""
    rng = np.random.default_rng(seed)
    i = np.arange(n, dtype=np.int64)
    lon = rng.uniform(LON0, LON1, n)
    lat = rng.uniform(LAT0, LAT1, n)
    # megacity hotspot: concentrate a block of rows into the middle
    # quarter of one obec cell (skew for salting/AQE tests)
    nhot = int(n * hotspot_frac)
    hx, hy = GRID // 2, GRID // 2
    lon[:nhot] = LON0 + (hx + 0.375 + rng.uniform(0, 0.25, nhot)) * _dx()
    lat[:nhot] = LAT0 + (hy + 0.375 + rng.uniform(0, 0.25, nhot)) * _dy()
    perm = rng.permutation(n)
    lon, lat = lon[perm], lat[perm]
    t_obec = truth_obec(lon, lat)
    t_tile = cells.cell_encode(lon, lat, TILE_RES)
    # null geotags (reference: 9/221 AdresniMista without AdresniBod)
    nulls = rng.random(n) < null_frac
    lon_o = np.where(nulls, np.nan, lon)
    lat_o = np.where(nulls, np.nan, lat)
    t_obec = np.where(nulls, -1, t_obec)
    t_tile = np.where(nulls, -1, t_tile)

    widx = rng.integers(0, len(_WORDS), (n, 8))
    words = np.asarray(_WORDS)
    text = np.array(
        ["page %d %s" % (k, " ".join(words[widx[k]])) for k in range(n)], dtype=object
    )
    lang = rng.choice(["cs", "en", "de", "sk"], n, p=[0.55, 0.3, 0.1, 0.05])
    pdf = pd.DataFrame(
        {
            "url": np.char.add("https://example.cz/p/", i.astype(str)),
            "warc_ts": BASE_TS + i * np.timedelta64(7, "s"),
            # realistic page chrome: style/script elements (dropped with
            # contents by extraction) + entity-escaped body text, so
            # extract_text_expr(html) == text holds BY CONSTRUCTION and
            # the per-url invariant test exercises the full pipeline
            "html": [
                b"<html><head><title></title><style>body{margin:0}</style></head>"
                b"<body><script>var a=1<2&&3>2;</script><p>"
                + t.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").encode()
                + b"</p></body></html>"
                for t in text
            ],
            "text": text,
            "lang": lang,
            "lon": lon_o,
            "lat": lat_o,
            "truth_obec_kod": t_obec.astype(np.int64),
            "truth_tile_key": t_tile.astype(np.int64),
        }
    )
    return pdf


def _grid_polygon(x0: float, y0: float, dx: float, dy: float, shrink: float = 0.0,
                  densify: int = 1):
    """Axis-aligned cell ring. densify>1 inserts collinear vertices
    along each side — identical geometry (containment/ground truth
    unchanged) but realistic vertex counts (real RUIAN municipality
    boundaries run to hundreds of vertices), so PIP refinement does
    honest per-edge work in benchmarks."""
    sx, sy = dx * shrink, dy * shrink
    corners = np.asarray(
        [
            [x0 + sx, y0 + sy],
            [x0 + dx - sx, y0 + sy],
            [x0 + dx - sx, y0 + dy - sy],
            [x0 + sx, y0 + dy - sy],
            [x0 + sx, y0 + sy],
        ]
    )
    if densify <= 1:
        return corners
    pts = []
    for a, b in zip(corners[:-1], corners[1:]):
        for t in np.linspace(0.0, 1.0, densify, endpoint=False):
            pts.append(a + (b - a) * t)
    pts.append(corners[-1])
    return np.asarray(pts)


def gen_obce_pdf(seed: int = 42, densify: int = 1) -> pd.DataFrame:
    """Municipality layer: 3 geometry columns + validity flags
    (gfs/Obce.gfs:8-24 analogue, multi-geometry per SURVEY.md §1.1)."""
    rng = np.random.default_rng(seed + 1)
    rows = []
    dx, dy = _dx(), _dy()
    for iy in range(GRID):
        for ix in range(GRID):
            kod = int(obec_kod(np.asarray([ix]), np.asarray([iy]))[0])
            x0, y0 = LON0 + ix * dx, LAT0 + iy * dy
            ring = _grid_polygon(x0, y0, dx, dy, densify=densify)
            # ~30% NULL generalizovane exercises the coalesce chain; the
            # pattern is a DETERMINISTIC function of kod so the A2/P4
            # oracles can recompute presence from pure arithmetic
            gen = (
                wkb.multipolygon([[_grid_polygon(x0, y0, dx, dy, shrink=0.02)]])
                if (kod * 7919) % 97 >= 29
                else None
            )
            rows.append(
                {
                    "kod": kod,
                    "nazev": f"Obec {kod}",
                    "nespravny": bool(rng.random() < 0.02),
                    "okres_kod": 40000 + (iy // 2) * (GRID // 2) + ix // 2,
                    "plati_od": pd.Timestamp("2020-01-01")
                    + pd.Timedelta(days=int(rng.integers(0, 365))),
                    "plati_do": pd.NaT,
                    "definicni_bod": wkb.multipoint([[x0 + dx / 2, y0 + dy / 2]]),
                    "originalni_hranice": wkb.multipolygon([[ring]]),
                    "generalizovane_hranice": gen,
                }
            )
    return pd.DataFrame(rows)


def gen_katastralni_uzemi_pdf(seed: int = 42) -> pd.DataFrame:
    rng = np.random.default_rng(seed + 2)
    rows = []
    dx, dy = _dx() / KU_SUB, _dy() / KU_SUB
    for iy in range(GRID * KU_SUB):
        for ix in range(GRID * KU_SUB):
            kod = KU_BASE + iy * GRID * KU_SUB + ix
            parent = int(obec_kod(np.asarray([ix // KU_SUB]), np.asarray([iy // KU_SUB]))[0])
            x0, y0 = LON0 + ix * dx, LAT0 + iy * dy
            ring = _grid_polygon(x0, y0, dx, dy)
            rows.append(
                {
                    "kod": kod,
                    "nazev": f"KU {kod}",
                    "nespravny": bool(rng.random() < 0.02),
                    "obec_kod": parent,
                    "plati_od": pd.Timestamp("2020-01-01"),
                    "plati_do": pd.NaT,
                    "definicni_bod": wkb.multipoint([[x0 + dx / 2, y0 + dy / 2]]),
                    "originalni_hranice": wkb.multipolygon([[ring]]),
                    "generalizovane_hranice": None,
                }
            )
    return pd.DataFrame(rows)


def truth_ku(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    nx = GRID * KU_SUB
    dx = (LON1 - LON0) / nx
    dy = (LAT1 - LAT0) / nx
    ix = np.clip(np.floor((lon - LON0) / dx).astype(np.int64), 0, nx - 1)
    iy = np.clip(np.floor((lat - LAT0) / dy).astype(np.int64), 0, nx - 1)
    return KU_BASE + iy * nx + ix


def gen_parcely_pdf(seed: int = 42, per_ku: int = 4) -> pd.DataFrame:
    """Parcel layer with IntegerList-analogue array columns
    (gfs/Parcely.gfs:111-116 → ArrayType, SURVEY.md §1.3)."""
    rng = np.random.default_rng(seed + 3)
    rows = []
    nku = GRID * KU_SUB
    dxu = (LON1 - LON0) / nku
    dyu = (LAT1 - LAT0) / nku
    pid = PAR_BASE
    for iy in range(nku):
        for ix in range(nku):
            ku = KU_BASE + iy * nku + ix
            for s in range(per_ku):
                sx, sy = s % 2, s // 2
                x0 = LON0 + ix * dxu + sx * dxu / 2
                y0 = LAT0 + iy * dyu + sy * dyu / 2
                ring = _grid_polygon(x0, y0, dxu / 2, dyu / 2)
                nlist = int(rng.integers(0, 3))
                rows.append(
                    {
                        "id": pid,
                        "katastralni_uzemi_kod": ku,
                        "vymera": int(rng.integers(100, 10000)),
                        "druh_pozemku_kod": int(rng.integers(2, 15)),
                        "bonitovany_dil_vymera": [
                            int(v) for v in rng.integers(10, 500, nlist)
                        ],
                        "zpusob_ochrany_kod": [int(v) for v in rng.integers(1, 9, nlist)],
                        "definicni_bod": wkb.point(x0 + dxu / 4, y0 + dyu / 4),
                        "originalni_hranice": wkb.polygon([ring]),
                    }
                )
                pid += 1
    return pd.DataFrame(rows)


def truth_parcel_large(lon: np.ndarray, lat: np.ndarray, n_side: int = 500) -> np.ndarray:
    """Ground-truth large-parcel kod from floor arithmetic (the layer is
    a regular n_side x n_side grid over the extent)."""
    dx = (LON1 - LON0) / n_side
    dy = (LAT1 - LAT0) / n_side
    ix = np.clip(np.floor((lon - LON0) / dx).astype(np.int64), 0, n_side - 1)
    iy = np.clip(np.floor((lat - LAT0) / dy).astype(np.int64), 0, n_side - 1)
    return PARL_BASE + iy * n_side + ix


def gen_parcely_large(spark, n_side: int = 500, densify: int = 1):
    """Parcel-scale dimension layer: n_side^2 (default 250,000) grid
    parcels GENERATED DISTRIBUTEDLY — spark.range -> mapInPandas emits
    WKB per task, so the layer never materializes on the driver (the
    whole point of the PartitionedPIPJoiner it exercises; the
    reference's analogue is Parcely, its biggest layer — 3,172 of
    3,716 features in test_suite/OB_UKSH.xml.gz).

    n_side=500 keeps parcel edges (multiples of 0.002 deg) provably
    disjoint from the events-geo point lattice (odd multiples of
    0.0005 deg): (2j+1)/1000 = k/500 would need 2j+1 = 2k — impossible
    — so no fixture point ever sits ON a parcel edge and containment
    oracles are exact in float64."""
    dx = (LON1 - LON0) / n_side
    dy = (LAT1 - LAT0) / n_side

    def _gen(batches):
        for pdf in batches:
            i = pdf["id"].to_numpy(dtype=np.int64)
            geom = []
            for k in i:
                ix, iy = int(k % n_side), int(k // n_side)
                ring = _grid_polygon(
                    LON0 + ix * dx, LAT0 + iy * dy, dx, dy, densify=densify
                )
                geom.append(wkb.polygon([ring]))
            yield pd.DataFrame({"kod": PARL_BASE + i, "originalni_hranice": geom})

    return spark.range(n_side * n_side).mapInPandas(
        _gen, "kod long, originalni_hranice binary"
    )


ULICE_L_BASE = 60000000  # large street grid (gen_ulice_large)


def gen_ulice_large(spark, n_side: int = 350):
    """Street-scale line layer: one horizontal street per cell of an
    n_side x n_side grid — segment (x0 + 0.2*dx, yc) -> (x0 + 0.8*dx,
    yc) with yc = y0 + 0.5*dy — GENERATED DISTRIBUTEDLY (spark.range ->
    mapInPandas), endpoints pure float arithmetic so oracles regenerate
    them bit-exactly. Pairs with PartitionedLineRangeJoiner the way
    gen_parcely_large pairs with PartitionedPIPJoiner."""
    dx = (LON1 - LON0) / n_side
    dy = (LAT1 - LAT0) / n_side

    def _gen(batches):
        for pdf in batches:
            i = pdf["id"].to_numpy(dtype=np.int64)
            geom = []
            for k in i:
                ix, iy = int(k % n_side), int(k // n_side)
                x0 = LON0 + ix * dx
                yc = (LAT0 + iy * dy) + 0.5 * dy
                line = np.asarray([[x0 + 0.2 * dx, yc], [x0 + 0.8 * dx, yc]])
                geom.append(wkb.multilinestring([line]))
            yield pd.DataFrame({"kod": ULICE_L_BASE + i, "definicni_cara": geom})

    return spark.range(n_side * n_side).mapInPandas(
        _gen, "kod long, definicni_cara binary"
    )


AM_L_BASE = 80000000  # large address-point grid (gen_adresni_mista_large)


def gen_adresni_mista_large(spark, n_side: int = 350):
    """Address-point-scale POINT layer: one definition point per cell
    of an n_side x n_side grid at (x0 + 0.3*dx, y0 + 0.7*dy) —
    GENERATED DISTRIBUTEDLY (spark.range -> mapInPandas), coordinates
    pure float arithmetic so oracles regenerate them bit-exactly. The
    countrywide-AdresniMista stand-in (gfs/AdresniMista.gfs:8-24 over
    6,258 OB files): n_side=350 gives 122,500 points, past any
    driver-broadcast comfort zone at real scale — pairs with
    PartitionedPointRangeJoiner (apply / apply_knn) the way
    gen_ulice_large pairs with PartitionedLineRangeJoiner."""
    dx = (LON1 - LON0) / n_side
    dy = (LAT1 - LAT0) / n_side

    def _gen(batches):
        for pdf in batches:
            i = pdf["id"].to_numpy(dtype=np.int64)
            ix = (i % n_side).astype(np.float64)
            iy = (i // n_side).astype(np.float64)
            yield pd.DataFrame(
                {
                    "kod": AM_L_BASE + i,
                    "lon": (LON0 + ix * dx) + 0.3 * dx,
                    "lat": (LAT0 + iy * dy) + 0.7 * dy,
                }
            )

    return spark.range(n_side * n_side).mapInPandas(
        _gen, "kod long, lon double, lat double"
    )


def gen_ulice_pdf(seed: int = 42, per_obec: int = 2) -> pd.DataFrame:
    """Street lines — the only line layer (gfs/Ulice.gfs:8-12); kNN
    target (nearest street to a page point)."""
    rows = []
    dx, dy = _dx(), _dy()
    kod = ULICE_BASE
    for iy in range(GRID):
        for ix in range(GRID):
            parent = int(obec_kod(np.asarray([ix]), np.asarray([iy]))[0])
            x0, y0 = LON0 + ix * dx, LAT0 + iy * dy
            for s in range(per_obec):
                frac = (s + 1) / (per_obec + 1)
                line = np.asarray(
                    [[x0 + 0.1 * dx, y0 + frac * dy], [x0 + 0.9 * dx, y0 + frac * dy]]
                )
                rows.append(
                    {
                        "kod": kod,
                        "nazev": f"Ulice {kod}",
                        "obec_kod": parent,
                        "definicni_cara": wkb.multilinestring([line]),
                    }
                )
                kod += 1
    return pd.DataFrame(rows)


SO_BASE = 20000000
AM_BASE = 30000000


def gen_stavebni_objekty_pdf(seed: int = 42, per_ku: int = 3) -> pd.DataFrame:
    """Building layer analogue (gfs/StavebniObjekty.gfs:44-75):
    definition point + FK to katastralni uzemi. Placement is a
    deterministic function of kod, strictly INSIDE the parent KU cell
    (odd ten-thousandth fractions, never on a grid boundary), so PIP
    containment equals the FK ground truth and oracles can regenerate
    everything arithmetically."""
    rows = []
    nku = GRID * KU_SUB
    dxu = (LON1 - LON0) / nku
    dyu = (LAT1 - LAT0) / nku
    for iy in range(nku):
        for ix in range(nku):
            ku = KU_BASE + iy * nku + ix
            for b in range(per_ku):
                kod = SO_BASE + (iy * nku + ix) * per_ku + b
                fx = (2 * ((kod * 7919) % 4999) + 1) / 10000.0
                fy = (2 * ((kod * 104729) % 4999) + 1) / 10000.0
                lon = LON0 + (ix + fx) * dxu
                lat = LAT0 + (iy + fy) * dyu
                rows.append(
                    {
                        "kod": kod,
                        "katastralni_uzemi_kod": ku,
                        "pocet_podlazi": int(kod % 9) + 1,
                        "definicni_bod": wkb.point(lon, lat),
                        "lon": lon,
                        "lat": lat,
                    }
                )
    return pd.DataFrame(rows)


def gen_adresni_mista_pdf(seed: int = 42, per_ku: int = 3) -> pd.DataFrame:
    """Address-point layer analogue (gfs/AdresniMista.gfs:63-80): FK to
    stavebni objekt + the nearest-street ulice FK ground truth
    (AdresniMista.UliceKod, gfs/AdresniMista.gfs:69-74), with ~4%
    missing AdresniBod (reference golden: 9/221). 1 + kod%3 addresses
    per building; kod sequential in (building, j) order."""
    so = gen_stavebni_objekty_pdf(seed, per_ku)
    nku = GRID * KU_SUB
    rows = []
    kod = AM_BASE
    for r in so.itertuples():
        ku_idx = r.katastralni_uzemi_kod - KU_BASE
        kiy, kix = ku_idx // nku, ku_idx % nku
        oiy, oix = kiy // KU_SUB, kix // KU_SUB
        # fraction of the OBEC cell covered by this point's latitude:
        # streets run horizontally at obec-fractions 1/3 and 2/3, so the
        # nearest street is s=0 below the midline, s=1 above (same x
        # span for all candidates -> decided purely by |dy|)
        frac_in_obec = (r.lat - (LAT0 + oiy * _dy())) / _dy()
        s = 0 if frac_in_obec < 0.5 else 1
        ulice = ULICE_BASE + (oiy * GRID + oix) * 2 + s
        for _ in range(1 + r.kod % 3):
            null_geo = (kod % 25) == 7
            rows.append(
                {
                    "kod": kod,
                    "stavebni_objekt_kod": r.kod,
                    "ulice_kod": ulice,
                    "cislo_domovni": int(kod % 1000),
                    "adresni_bod": None if null_geo else wkb.point(r.lon, r.lat),
                    "lon": None if null_geo else r.lon,
                    "lat": None if null_geo else r.lat,
                }
            )
            kod += 1
    return pd.DataFrame(rows)


def gen_changes_pdf(seed: int = 42, n_add: int = 20, n_update: int = 30) -> pd.DataFrame:
    """Change batch mirroring ST_ZKSH (vfrogr.py:992-1003 mode logic):
    rows whose gml_id exists in current state are updates, fresh ids are
    adds. gml_id format '{lcode}.{id}' per vfrogr.py:885."""
    rng = np.random.default_rng(seed + 4)
    ids_update = rng.choice(GRID * GRID, n_update, replace=False)
    rows = []
    for i in ids_update:
        kod = OBEC_BASE + int(i)
        rows.append(
            {
                "batch_id": "20240707_ST_ZKSH",
                "layer": "obce",
                "gml_id": f"OB.{kod}",
                "kod": kod,
                "nazev": f"Obec {kod} v2",
                "nespravny": False,
            }
        )
    for j in range(n_add):
        kod = OBEC_BASE + GRID * GRID + j
        rows.append(
            {
                "batch_id": "20240707_ST_ZKSH",
                "layer": "obce",
                "gml_id": f"OB.{kod}",
                "kod": kod,
                "nazev": f"Obec {kod} new",
                "nespravny": False,
            }
        )
    return pd.DataFrame(rows)


def gen_tombstones_pdf(seed: int = 42, n: int = 10) -> pd.DataFrame:
    """ZaniklePrvky analogue (gfs/ZaniklePrvky.gfs:3-27): layer-code +
    feature id; includes one unknown code (error path vfrogr.py:877-881)
    and one unmatched id (warn path vfrogr.py:902-906)."""
    rng = np.random.default_rng(seed + 5)
    ids = rng.choice(GRID * GRID, n - 2, replace=False)
    rows = [
        {"typ_prvku_kod": "OB", "prvek_id": OBEC_BASE + int(i), "id_transakce": 1000 + k}
        for k, i in enumerate(ids)
    ]
    rows.append({"typ_prvku_kod": "XX", "prvek_id": 1, "id_transakce": 2000})  # unknown code
    rows.append(
        {"typ_prvku_kod": "OB", "prvek_id": 999999999, "id_transakce": 2001}
    )  # no match
    return pd.DataFrame(rows)


def gen_webpages_sql(spark, n: int, null_frac_denom: int = 20, hotspot_denom: int = 4):
    """Spark-native webpages generator for bench scale: pure column
    expressions over spark.range(n) — distributed, deterministic, no
    driver-side pandas. Same semantics as gen_webpages_pdf: lon/lat in
    the obce extent, 1/null_frac_denom null geotags, 1/hotspot_denom of
    rows concentrated in the megacity obec (skew), ground-truth obec kod
    and tile key emitted by construction."""
    from pyspark.sql import functions as F

    from gdal_vfr_spark.geo import cells as C

    df = spark.range(n).withColumnRenamed("id", "i")
    # deterministic pseudo-randoms from multiplicative hashing (never on
    # the 0.1-degree grid boundaries: odd 1/10000 offsets)
    u1 = (F.lit(2) * ((F.col("i") * 7919) % 5000) + 1).cast("double") / F.lit(10000.0)
    u2 = (F.lit(2) * ((F.col("i") * 104729) % 5000) + 1).cast("double") / F.lit(10000.0)
    hot = (F.col("i") % hotspot_denom) == 0
    hx, hy = GRID // 2, GRID // 2
    dx, dy = _dx(), _dy()
    lon = F.when(
        hot, F.lit(LON0) + (F.lit(float(hx)) + F.lit(0.375) + u1 * F.lit(0.25)) * F.lit(dx)
    ).otherwise(F.lit(LON0) + u1 * F.lit(LON1 - LON0))
    lat = F.when(
        hot, F.lit(LAT0) + (F.lit(float(hy)) + F.lit(0.375) + u2 * F.lit(0.25)) * F.lit(dy)
    ).otherwise(F.lit(LAT0) + u2 * F.lit(LAT1 - LAT0))
    is_null = (F.col("i") % null_frac_denom) == 7
    lon = F.when(is_null, F.lit(None).cast("double")).otherwise(lon)
    lat = F.when(is_null, F.lit(None).cast("double")).otherwise(lat)
    ix = F.least(F.floor((lon - F.lit(LON0)) / F.lit(dx)).cast("long"), F.lit(GRID - 1))
    iy = F.least(F.floor((lat - F.lit(LAT0)) / F.lit(dy)).cast("long"), F.lit(GRID - 1))
    text = F.concat(F.lit("page "), F.col("i").cast("string"), F.lit(" content body"))
    # the tile key reads the projected lon/lat attributes through
    # with_cell's chained projections (null geotag -> -1), so the whole
    # generator stays inside whole-stage codegen
    pages = df.select(
        F.concat(F.lit("https://example.cz/p/"), F.col("i").cast("string")).alias("url"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_interval(secs=F.col("i") % 86400)).alias("warc_ts"),
        F.encode(text, "utf-8").alias("html"),
        text.alias("text"),
        F.element_at(
            F.array(F.lit("cs"), F.lit("cs"), F.lit("en"), F.lit("de")),
            (F.col("i") % 4 + 1).cast("int"),
        ).alias("lang"),
        lon.alias("lon"),
        lat.alias("lat"),
        F.when(is_null, F.lit(-1)).otherwise(F.lit(OBEC_BASE) + iy * GRID + ix).alias(
            "truth_obec_kod"
        ),
    )
    return C.with_cell(pages, TILE_RES, "lon", "lat", "truth_tile_key")


# ------------------------------------------------------------- Spark entry


def _schema(*fields):
    """Explicit StructType builder. Never infer: all-None columns
    (generalizovane_hranice, plati_do) crash schema inference in any
    session without Arrow enabled — the FIXTURES.md schemas are fixed,
    so declare them."""
    from pyspark.sql import types as T

    atom = {
        "long": T.LongType(),
        "double": T.DoubleType(),
        "string": T.StringType(),
        "boolean": T.BooleanType(),
        "timestamp": T.TimestampType(),
        "binary": T.BinaryType(),
        "array<long>": T.ArrayType(T.LongType()),
    }
    return T.StructType([T.StructField(n, atom[t], True) for n, t in fields])


def webpages_schema():
    return _schema(
        ("url", "string"), ("warc_ts", "timestamp"), ("html", "binary"),
        ("text", "string"), ("lang", "string"), ("lon", "double"),
        ("lat", "double"), ("truth_obec_kod", "long"), ("truth_tile_key", "long"),
    )


def _admin_schema(parent_col: str):
    return _schema(
        ("kod", "long"), ("nazev", "string"), ("nespravny", "boolean"),
        (parent_col, "long"), ("plati_od", "timestamp"), ("plati_do", "timestamp"),
        ("definicni_bod", "binary"), ("originalni_hranice", "binary"),
        ("generalizovane_hranice", "binary"),
    )


def parcely_schema():
    return _schema(
        ("id", "long"), ("katastralni_uzemi_kod", "long"), ("vymera", "long"),
        ("druh_pozemku_kod", "long"), ("bonitovany_dil_vymera", "array<long>"),
        ("zpusob_ochrany_kod", "array<long>"),
        ("definicni_bod", "binary"), ("originalni_hranice", "binary"),
    )


def ulice_schema():
    return _schema(
        ("kod", "long"), ("nazev", "string"), ("obec_kod", "long"),
        ("definicni_cara", "binary"),
    )


def changes_schema():
    return _schema(
        ("batch_id", "string"), ("layer", "string"), ("gml_id", "string"),
        ("kod", "long"), ("nazev", "string"), ("nespravny", "boolean"),
    )


def tombstones_schema():
    return _schema(
        ("typ_prvku_kod", "string"), ("prvek_id", "long"), ("id_transakce", "long"),
    )


def spark_df(spark, pdf: pd.DataFrame, schema):
    """createDataFrame with an explicit schema — works identically with
    and without Arrow (the driver's oracle harness runs Arrow-off).

    NaN in float columns means MISSING in these fixtures. Arrow-on maps
    NaN -> NULL but the plain converter keeps NaN (so `IS NOT NULL`
    would diverge between sessions) — normalize to None first."""
    for c in pdf.columns:
        if pd.api.types.is_float_dtype(pdf[c]) and pdf[c].isna().any():
            pdf = pdf.copy()
            pdf[c] = pdf[c].astype(object).where(pdf[c].notna(), None)
    return spark.createDataFrame(pdf, schema=schema)


def gen_webpages(spark, n: int = 10_000, seed: int = 42, **kw):
    return spark_df(spark, gen_webpages_pdf(n, seed, **kw), webpages_schema())


def gen_obce(spark, seed: int = 42, densify: int = 1):
    return spark_df(spark, gen_obce_pdf(seed, densify=densify), _admin_schema("okres_kod"))


def gen_katastralni_uzemi(spark, seed: int = 42):
    return spark_df(spark, gen_katastralni_uzemi_pdf(seed), _admin_schema("obec_kod"))


def gen_parcely(spark, seed: int = 42, per_ku: int = 4):
    return spark_df(spark, gen_parcely_pdf(seed, per_ku), parcely_schema())


def gen_ulice(spark, seed: int = 42, per_obec: int = 2):
    return spark_df(spark, gen_ulice_pdf(seed, per_obec), ulice_schema())


def stavebni_objekty_schema():
    return _schema(
        ("kod", "long"), ("katastralni_uzemi_kod", "long"),
        ("pocet_podlazi", "long"), ("definicni_bod", "binary"),
        ("lon", "double"), ("lat", "double"),
    )


def adresni_mista_schema():
    return _schema(
        ("kod", "long"), ("stavebni_objekt_kod", "long"), ("ulice_kod", "long"),
        ("cislo_domovni", "long"), ("adresni_bod", "binary"),
        ("lon", "double"), ("lat", "double"),
    )


def gen_stavebni_objekty(spark, seed: int = 42, per_ku: int = 3):
    return spark_df(spark, gen_stavebni_objekty_pdf(seed, per_ku), stavebni_objekty_schema())


def gen_adresni_mista(spark, seed: int = 42, per_ku: int = 3):
    return spark_df(spark, gen_adresni_mista_pdf(seed, per_ku), adresni_mista_schema())


def gen_changes(spark, seed: int = 42, **kw):
    return spark_df(spark, gen_changes_pdf(seed, **kw), changes_schema())


def gen_tombstones(spark, seed: int = 42, **kw):
    return spark_df(spark, gen_tombstones_pdf(seed, **kw), tombstones_schema())
