"""Expected answers, computed without the engine.

Obec and grid-parcel keys come from integer arithmetic on the lattice
indices (see gen.py); distances to grid streets are exact integer
squared distances in lattice units. Tile keys use the repo's DuckDB
Morton twin (``__spark_entry__._duck_cell``), the same expression the
DuckDB oracles use, evaluated by DuckDB rather than by Spark.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from gen import UNITS

OBEC_BASE, OBEC_GRID = 500_000, 10  # datagen.OBEC_BASE / GRID
PARL_BASE = 50_000_000  # datagen.PARL_BASE (gen_parcely_large)
ULICE_L_BASE = 60_000_000  # datagen.ULICE_L_BASE (gen_ulice_large)
TILE_RES, PREFIX_RES = 15, 6


def obec_kod(k_lon: np.ndarray, k_lat: np.ndarray) -> np.ndarray:
    """Obec of a lattice point: cells are 0.1 degrees = 1000 units."""
    per = UNITS // OBEC_GRID
    return OBEC_BASE + ((2 * k_lat + 1) // per) * OBEC_GRID + (2 * k_lon + 1) // per


def parcel_kod(k_lon: np.ndarray, k_lat: np.ndarray, n_side: int) -> np.ndarray:
    """Grid parcel of a lattice point: floor((2k + 1) / UNITS * n_side)."""
    return PARL_BASE + ((2 * k_lat + 1) * n_side // UNITS) * n_side + (2 * k_lon + 1) * n_side // UNITS


def street_pairs(k_lon: np.ndarray, k_lat: np.ndarray, n_side: int, max_dist: float):
    """(point index, street kod) for every grid street within max_dist.

    Street of cell (ix, iy) runs from x0 + 0.2 dx to x0 + 0.8 dx at
    y0 + 0.5 dy (datagen.gen_ulice_large). In units of 1 / (10 UNITS n)
    degrees every coordinate involved is an integer, so the comparison is
    exact. Only streets in the 3x3 cells around a point can be within
    max_dist when max_dist < the cell side."""
    scale = 10 * n_side  # lattice units -> exact integer units
    px = (2 * k_lon + 1) * scale
    py = (2 * k_lat + 1) * scale
    cell = 10 * UNITS  # one cell side in exact units
    lim = round(max_dist * UNITS * scale) ** 2
    ix = (2 * k_lon + 1) * n_side // UNITS
    iy = (2 * k_lat + 1) * n_side // UNITS
    pts, keys = [], []
    for ddx in (-1, 0, 1):
        for ddy in (-1, 0, 1):
            cx, cy = ix + ddx, iy + ddy
            ok = (cx >= 0) & (cx < n_side) & (cy >= 0) & (cy < n_side)
            x1, x2 = cx * cell + 2 * UNITS, cx * cell + 8 * UNITS
            yc = cy * cell + 5 * UNITS
            dx = np.maximum(np.maximum(x1 - px, px - x2), 0)
            d2 = dx * dx + (py - yc) ** 2
            hit = np.nonzero(ok & (d2 <= lim))[0]
            pts.append(hit)
            keys.append(ULICE_L_BASE + cy[hit] * n_side + cx[hit])
    return np.concatenate(pts), np.concatenate(keys)


def key_counts(keys: np.ndarray) -> dict[int, int]:
    u, c = np.unique(keys, return_counts=True)
    return dict(zip(u.tolist(), c.tolist()))


def _duck_cell():
    from __spark_entry__ import _duck_cell as cell

    return cell


def tile_counts(pages: pa.Table) -> dict[tuple[int, int], int]:
    """Expected pip_tiles answer: pages per (obec_kod, tile prefix)."""
    cell = _duck_cell()("lon", "lat", TILE_RES)
    shift = 2 * (TILE_RES - PREFIX_RES)
    valid = pages.filter(pc.is_valid(pages["k_lon"]))
    obec = obec_kod(valid["k_lon"].to_numpy(), valid["k_lat"].to_numpy())
    con = duckdb.connect()
    con.register("pts", pa.table({"obec_kod": obec, "lon": valid["lon"], "lat": valid["lat"]}))
    rows = con.sql(
        f"""SELECT obec_kod, ((({cell}) >> 5) >> {shift}) << 5 | {PREFIX_RES} AS p, count(*)
            FROM pts GROUP BY ALL"""
    ).fetchall()
    return {(int(o), int(p)): int(n) for o, p, n in rows}


def keyed_pages(pages: pa.Table) -> pa.Table:
    """Expected change_merge rows: the page columns plus obec_kod (NULL
    without a geotag, as a left join gives) and tile_key (-1 without)."""
    valid = pc.is_valid(pages["k_lon"]).to_numpy(zero_copy_only=False)
    k_lon = pages["k_lon"].fill_null(0).to_numpy()
    k_lat = pages["k_lat"].fill_null(0).to_numpy()
    obec = pa.array(obec_kod(k_lon, k_lat), mask=~valid)
    con = duckdb.connect()
    con.register("src", pages.select(["url", "page_id", "lon", "lat"]).append_column("obec_kod", obec))
    cell = _duck_cell()("lon", "lat", TILE_RES)
    return con.sql(f"SELECT url, page_id, lon, lat, obec_kod, {cell} AS tile_key FROM src").arrow()


CONTENT_HASH = "SELECT count(*), sum(hash(url, page_id, lon, lat, obec_kod, tile_key)::HUGEINT) FROM {}"
