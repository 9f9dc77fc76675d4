"""Hierarchical discrete global grid — the engine's H3/S2 analogue.

No h3/s2 library ships in this environment, so the engine defines its
own deterministic cell scheme (public-knowledge Morton/Z-order curve):

- resolution ``r`` in [0, 29]; the lon/lat plane is split into a
  ``2^r x 2^r`` grid (equirectangular).
- ``ix = floor((lon + 180) / 360 * 2^r)``, ``iy`` likewise on lat/180.
- cell id = ``(morton(ix, iy) << 5) | r`` — a single positive int64
  that encodes position *and* resolution; parent/child moves are bit
  shifts, and sorting by cell id is a Z-order (space-filling) sort, so
  cell id doubles as the Iceberg-style partition / clustering key.

This reproduces the roles H3/S2 play in the north star: mixed-res
encoding (resolution lives inside the id), k-ring neighborhoods, and
polygon cell covers. Everything here is numpy-vectorized; the Spark
entry point for fixed-res encoding is with_cell, a chain of Catalyst
projections inside whole-stage codegen, and mixed-res encoding is an
Arrow pandas UDF (no per-row Python either way).

Reference analogue: the reference has no spatial index at all — it
relies on PostGIS + a btree on gml_id (vfr4ogr/vfrpg.py:120-163).
The cell id is this engine's replacement for that index at 100 TB.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

MAX_RES = 29  # 2*29 bits morton + 5 bits res = 63 bits (sign bit free)
_RES_BITS = 5
_RES_MASK = (1 << _RES_BITS) - 1


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of each uint64 so a bit at position i
    lands at position 2i (standard Morton bit-twiddling)."""
    v = v.astype(np.uint64)
    v &= np.uint64(0xFFFFFFFF)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _compact1by1(v: np.ndarray) -> np.ndarray:
    """Inverse of _part1by1."""
    v = v.astype(np.uint64)
    v &= np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def morton_encode(ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    """Interleave two integer grids into a Z-order curve position."""
    return (_part1by1(np.asarray(ix)) | (_part1by1(np.asarray(iy)) << np.uint64(1))).astype(
        np.int64
    )


def morton_decode(m: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    m = np.asarray(m).astype(np.uint64)
    return (
        _compact1by1(m).astype(np.int64),
        _compact1by1(m >> np.uint64(1)).astype(np.int64),
    )


def lonlat_to_grid(lon: np.ndarray, lat: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Quantize lon/lat (degrees) to integer grid coords at resolution res."""
    n = np.int64(1) << np.int64(res)
    ix = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n).astype(np.int64)
    iy = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * n).astype(np.int64)
    np.clip(ix, 0, int(n) - 1, out=ix)
    np.clip(iy, 0, int(n) - 1, out=iy)
    return ix, iy


def cell_encode(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """lon/lat -> int64 cell id at resolution res. NaN -> -1."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    ix, iy = lonlat_to_grid(np.nan_to_num(lon), np.nan_to_num(lat), res)
    cell = (morton_encode(ix, iy) << np.int64(_RES_BITS)) | np.int64(res)
    bad = np.isnan(lon) | np.isnan(lat)
    cell = np.where(bad, np.int64(-1), cell)
    return cell.astype(np.int64)


def cell_decode(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell id -> (ix, iy, res)."""
    cell = np.asarray(cell).astype(np.int64)
    res = (cell & _RES_MASK).astype(np.int64)
    ix, iy = morton_decode((cell >> _RES_BITS).astype(np.int64))
    return ix, iy, res


def cell_parent(cell: np.ndarray, parent_res: int) -> np.ndarray:
    """Coarsen cell ids to an ancestor resolution (bit-shift, no trig)."""
    cell = np.asarray(cell).astype(np.int64)
    res = (cell & _RES_MASK).astype(np.int64)
    shift = 2 * (res - parent_res)
    if np.any(shift < 0):
        raise ValueError("parent_res coarser than cell res required")
    m = cell >> np.int64(_RES_BITS)
    return ((m >> shift) << np.int64(_RES_BITS)) | np.int64(parent_res)


def cell_center(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    ix, iy, res = cell_decode(cell)
    n = (np.int64(1) << res).astype(np.float64)
    lon = (ix + 0.5) / n * 360.0 - 180.0
    lat = (iy + 0.5) / n * 180.0 - 90.0
    return lon, lat


def cell_bounds(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(lon_min, lat_min, lon_max, lat_max) of each cell."""
    ix, iy, res = cell_decode(cell)
    n = (np.int64(1) << res).astype(np.float64)
    lon0 = ix / n * 360.0 - 180.0
    lat0 = iy / n * 180.0 - 90.0
    return lon0, lat0, lon0 + 360.0 / n, lat0 + 180.0 / n


def k_ring(cell: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k of `cell` (the (2k+1)^2
    block, clipped to the grid). Driver/UDF-side helper for kNN."""
    ix, iy, res = cell_decode(np.asarray([cell]))
    ix, iy, res = int(ix[0]), int(iy[0]), int(res[0])
    n = 1 << res
    xs = np.arange(max(ix - k, 0), min(ix + k, n - 1) + 1, dtype=np.int64)
    ys = np.arange(max(iy - k, 0), min(iy + k, n - 1) + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    return ((morton_encode(gx.ravel(), gy.ravel()) << np.int64(_RES_BITS)) | np.int64(res)).astype(
        np.int64
    )


def cover_bbox(
    lon_min: float, lat_min: float, lon_max: float, lat_max: float, res: int
) -> np.ndarray:
    """Cell ids covering a bbox at resolution res (inclusive of edges)."""
    return cover_bboxes(
        np.asarray([lon_min]), np.asarray([lat_min]),
        np.asarray([lon_max]), np.asarray([lat_max]), res,
    )[1]


def grid_ranges(ix0, iy0, ix1, iy1):
    """(row, gx, gy) arrays listing every grid cell of the inclusive
    index ranges ix0..ix1 x iy0..iy1, row by row, each row's cells in
    row-major (iy outer, ix inner) order; one repeat/cumsum pass, no
    per-row Python."""
    nx = ix1 - ix0 + 1
    cnt = nx * (iy1 - iy0 + 1)
    row = np.repeat(np.arange(len(cnt), dtype=np.int64), cnt)
    k = np.arange(int(cnt.sum()), dtype=np.int64) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    return row, ix0[row] + k % nx[row], iy0[row] + k // nx[row]


def cover_bboxes(lon_min, lat_min, lon_max, lat_max, res: int):
    """Vectorized cover of many bboxes: (row, cell) arrays listing every
    cell at resolution res that bbox `row` touches (edges inclusive),
    in grid_ranges order (the order cover_bbox's meshgrid produced)."""
    ix0, iy0 = lonlat_to_grid(lon_min, lat_min, res)
    ix1, iy1 = lonlat_to_grid(lon_max, lat_max, res)
    row, gx, gy = grid_ranges(ix0, iy0, ix1, iy1)
    return row, (morton_encode(gx, gy) << np.int64(_RES_BITS)) | np.int64(res)


# ------------------------------------------------------- Catalyst expression


_SPREAD_STEPS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _part1by1_expr(c):
    c = c.bitwiseAND(F.lit(0xFFFFFFFF))
    for shift, mask in _SPREAD_STEPS:
        c = (c.bitwiseOR(F.shiftleft(c, shift))).bitwiseAND(F.lit(mask))
    return c


def cell_from_indices_expr(ix, iy, res: int):
    """Cell id from integer grid indices (Catalyst) — for building
    raster-side tile dimensions (J6) without going through lon/lat."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    ix = F.col(ix) if isinstance(ix, str) else ix
    iy = F.col(iy) if isinstance(iy, str) else iy
    morton = _part1by1_expr(ix).bitwiseOR(F.shiftleft(_part1by1_expr(iy), 1))
    return F.shiftleft(morton, _RES_BITS).bitwiseOR(F.lit(res))


def with_cell(df, res: int, lon_col: str = "lon", lat_col: str = "lat", out_col: str = "cell"):
    """Attach a cell-id column — THE hot path for 10^12 rows, and the
    engine's one Catalyst lon/lat encoder (same bit layout as
    cell_encode; tests/test_cells.py pins it bit-for-bit).

    Built as a chain of small projections (one per Morton spread step)
    rather than one Column expression: a single nested expression
    duplicates its subtree at every step that references it twice
    (2^5 copies of the quantization arithmetic), which blows past the
    JVM codegen method limit and falls back to interpreted eval.
    Chained withColumns keep every step's input an *attribute*, which
    CollapseProject will not inline (non-cheap, referenced twice), so
    each step is computed exactly once inside whole-stage codegen.

    Null geotags map to cell -1 and can be filtered like the
    reference's null-geometry skip (vfrogr.py:592-598).
    """
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    lon, lat = F.col(lon_col), F.col(lat_col)
    n = 1 << res
    gx, gy = f"__gx_{out_col}", f"__gy_{out_col}"

    def quant(v, lo: float, span: float):
        q = F.floor((v + F.lit(lo)) / F.lit(span) * F.lit(float(n)))
        return F.least(F.greatest(q, F.lit(0)), F.lit(n - 1)).cast("long")

    out = df.withColumn(gx, quant(lon, 180.0, 360.0)).withColumn(gy, quant(lat, 90.0, 180.0))
    for shift, mask in _SPREAD_STEPS:
        cx, cy = F.col(gx), F.col(gy)
        out = out.withColumn(gx, (cx.bitwiseOR(F.shiftleft(cx, shift))).bitwiseAND(F.lit(mask)))
        out = out.withColumn(gy, (cy.bitwiseOR(F.shiftleft(cy, shift))).bitwiseAND(F.lit(mask)))
    morton = F.col(gx).bitwiseOR(F.shiftleft(F.col(gy), 1))
    cell = F.shiftleft(morton, _RES_BITS).bitwiseOR(F.lit(res))
    bad = lon.isNull() | lat.isNull() | F.isnan(lon) | F.isnan(lat)
    return out.withColumn(out_col, F.when(bad, F.lit(-1)).otherwise(cell)).drop(gx, gy)


# ---------------------------------------------------------------- Spark UDFs


@F.pandas_udf(LongType())
def cell_mixed_res_udf(lon: pd.Series, lat: pd.Series, res: pd.Series) -> pd.Series:
    """Mixed-resolution encode: each row carries its own resolution
    (north-star: 'batched H3/S2 cell encoding at mixed resolutions')."""
    lon_np = lon.to_numpy(dtype=np.float64)
    lat_np = lat.to_numpy(dtype=np.float64)
    res_np = res.to_numpy(dtype=np.int64)
    out = np.full(len(lon_np), -1, dtype=np.int64)
    for r in np.unique(res_np):
        sel = res_np == r
        out[sel] = cell_encode(lon_np[sel], lat_np[sel], int(r))
    return pd.Series(out)
