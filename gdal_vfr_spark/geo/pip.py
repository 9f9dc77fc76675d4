"""Point-in-polygon join: packed polygon index + cell-cover equi-join +
vectorized even-odd refinement.

North-star operator J4 (SURVEY.md §2.3). The reference never computes
containment — its data *carries* parent codes as FK columns
(gfs/AdresniMista.gfs:63-80, gfs/Parcely.gfs:76-81); this operator
re-derives them spatially, and the generated fixtures' ground-truth
columns verify the output row-for-row.

Two prepared joiners are the way in, each built once and applied per
batch like the reference's build-indexes-once import
(vfrpg.py:120-163): PIPJoiner collects and broadcasts the polygon layer
(admin layers: ~10^4-10^6 rows), PartitionedPIPJoiner keeps it on the
executors (parcel scale). Both take their cover resolution and cover
shape from the layer itself; `apply(points, how="inner"|"left")` is the
join.

Execution shape (scale rationale):
- The page side (10^12 rows) NEVER shuffles while the cover is
  broadcast: candidates come from a broadcast hash join on the cell id,
  refinement is a map-only Arrow UDF. The whole join is embarrassingly
  parallel over page partitions, which is what makes the >=0.8 scaling
  efficiency achievable — there is no shuffle to contend on.
- Megacity skew therefore cannot stall a reducer here; skew only
  matters in downstream groupBys, where AQE skew-split + optional
  salting (gdal_vfr_spark.operators.counts.salted_count) take over.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BooleanType, StructType
from pyspark.storagelevel import StorageLevel

from gdal_vfr_spark.geo import cells, halo, wkb

# Cover-resolution policy (PackedPolygonIndex.auto_res, pick_cover_res):
# ~16x16 cells per median polygon bbox, within a cover row budget — one
# for the driver-built broadcast cover, one for the distributed one.
_CELLS_PER_POLY = 256.0
_COVER_ROWS = 200_000.0
_PARTITIONED_COVER_ROWS = 250_000.0
# a PartitionedPIPJoiner group cell is 2^_GROUP_BITS cover cells a side
_GROUP_BITS = 4
_RID = "__pip_rid"  # row id a left join re-joins its hits on


@dataclass
class PackedPolygonIndex:
    """Flat-array ('packed STRtree'-style) polygon store, cheap to
    broadcast and NaN-free to evaluate with numpy inside Arrow UDFs.

    verts:     (V, 2) float64 — all ring vertices, concatenated
    ring_off:  (R+1,) int64   — ring i is verts[ring_off[i]:ring_off[i+1]]
    poly_ring: (P+1,) int64   — polygon p owns rings poly_ring[p]:poly_ring[p+1]
    bbox:      (P, 4) float64 — per-polygon (xmin, ymin, xmax, ymax)
    keys:      (P,)  int64    — user key (e.g. obec kod) per polygon
    """

    verts: np.ndarray
    ring_off: np.ndarray
    poly_ring: np.ndarray
    bbox: np.ndarray
    keys: np.ndarray

    @classmethod
    def build(cls, keys_and_wkb: Iterable[tuple[int, bytes]]) -> "PackedPolygonIndex":
        """Decode and pack (key, WKB) polygon rows — the one WKB decode
        of every polygon path here."""
        keys, polys = [], []
        for key, buf in keys_and_wkb:
            keys.append(key)
            polys.append(wkb.decode_rings(bytes(buf)))
        rings = [r for rs in polys for r in rs]
        allv = [np.concatenate(rs) for rs in polys]
        bbox = [(*v.min(axis=0), *v.max(axis=0)) for v in allv]
        return cls(
            verts=np.concatenate(rings) if rings else np.empty((0, 2)),
            ring_off=np.cumsum([0] + [len(r) for r in rings], dtype=np.int64),
            poly_ring=np.cumsum([0] + [len(rs) for rs in polys], dtype=np.int64),
            bbox=np.asarray(bbox, dtype=np.float64).reshape(-1, 4),
            keys=np.asarray(keys, dtype=np.int64),
        )

    # blocking keeps the (edges x points) temporaries L2-resident:
    # 64 edges x 2048 points x 8 B ≈ 1 MB per temporary. Unblocked, a
    # 65k-row Arrow batch against a 10^2-vertex ring churns >100 MB of
    # temporaries per polygon — memory-bandwidth-bound, which stops
    # scaling past a few cores.
    _EDGE_BLOCK = 64
    _POINT_BLOCK = 2048

    def contains_one(self, p: int, px: np.ndarray, py: np.ndarray) -> np.ndarray:
        """Even-odd (crossing number) test of many points against
        polygon p — vectorized over cache-sized (edge x point) blocks."""
        inside = np.zeros(len(px), dtype=bool)
        xmin, ymin, xmax, ymax = self.bbox[p]
        cand = (px >= xmin) & (px <= xmax) & (py >= ymin) & (py <= ymax)
        if not cand.any():
            return inside
        cx, cy = px[cand], py[cand]
        acc = np.zeros(len(cx), dtype=np.int64)
        for r in range(self.poly_ring[p], self.poly_ring[p + 1]):
            ring = self.verts[self.ring_off[r] : self.ring_off[r + 1]]
            x1a, y1a = ring[:-1, 0], ring[:-1, 1]
            x2a, y2a = ring[1:, 0], ring[1:, 1]
            with np.errstate(divide="ignore", invalid="ignore"):
                slope = (x2a - x1a) / (y2a - y1a)  # per-edge, tiny
            for e0 in range(0, len(x1a), self._EDGE_BLOCK):
                e1 = min(e0 + self._EDGE_BLOCK, len(x1a))
                x1, y1 = x1a[e0:e1, None], y1a[e0:e1, None]
                y2 = y2a[e0:e1, None]
                sl = slope[e0:e1, None]
                for p0 in range(0, len(cx), self._POINT_BLOCK):
                    p1 = min(p0 + self._POINT_BLOCK, len(cx))
                    bx, by = cx[None, p0:p1], cy[None, p0:p1]
                    ycross = (y1 > by) != (y2 > by)
                    xint = x1 + (by - y1) * sl
                    acc[p0:p1] += np.sum(ycross & (bx < xint), axis=0)
        inside[cand] = (acc % 2) == 1
        return inside

    def contains(self, pidx: np.ndarray, px: np.ndarray, py: np.ndarray) -> np.ndarray:
        """Batched test: row i asks 'is (px[i], py[i]) inside polygon
        pidx[i]?'. Groups by polygon so each polygon's edges are
        evaluated once per batch."""
        out = np.zeros(len(pidx), dtype=bool)
        order = np.argsort(pidx, kind="stable")
        sorted_p = pidx[order]
        bounds = np.flatnonzero(np.diff(sorted_p)) + 1
        for grp in np.split(order, bounds):
            p = int(pidx[grp[0]])
            out[grp] = self.contains_one(p, px[grp], py[grp])
        return out

    def cover(self, res: int) -> pd.DataFrame:
        """(cell, pidx, poly_key, interior) cover table at resolution
        res: every cell whose bbox intersects the polygon's bbox, per
        polygon in cells.cover_bboxes order.

        `interior` certifies cells whose closed rectangle no polygon
        edge touches AND whose center the even-odd test puts inside:
        containment is then CONSTANT over the cell (parity can only
        change across an edge), so candidate points in interior cells
        are hits with no refinement — they never cross the Python
        boundary. The test is conservative (exact SAT segment-vs-rect
        against an epsilon-inflated rect), so a misclassification can
        only send extra rows to the refine step, never skip it. Boundary
        cells keep the exact winding refine.

        One vectorised pass, ~edges + cells work instead of cells x
        edges per polygon: each ring edge is paired only with the cells
        of its own bbox grown by one cell (a superset of those whose
        inflated rect it can touch), clipped to its polygon's range, and
        each touching pair maps back to its cover row arithmetically."""
        n = 1 << res
        dx, dy = 360.0 / n, 180.0 / n
        eps_x, eps_y = dx * 1e-9, dy * 1e-9
        ix0, iy0 = cells.lonlat_to_grid(self.bbox[:, 0], self.bbox[:, 1], res)
        ix1, iy1 = cells.lonlat_to_grid(self.bbox[:, 2], self.bbox[:, 3], res)
        pidx, gx, gy = cells.grid_ranges(ix0, iy0, ix1, iy1)
        nx = ix1 - ix0 + 1
        cnt = nx * (iy1 - iy0 + 1)
        start = np.cumsum(cnt) - cnt
        # ring edges (v, v+1): every vertex but a ring's last starts one
        e = np.setdiff1d(np.arange(len(self.verts) - 1), self.ring_off[1:] - 1)
        n_verts = np.diff(self.ring_off[self.poly_ring])
        ep = np.repeat(np.arange(len(self.keys), dtype=np.int64), n_verts)[e]
        (x1, y1), (x2, y2) = self.verts[e].T, self.verts[e + 1].T
        exmin, exmax = np.minimum(x1, x2), np.maximum(x1, x2)
        eymin, eymax = np.minimum(y1, y2), np.maximum(y1, y2)
        fx0, fy0 = cells.lonlat_to_grid(exmin, eymin, res)
        fx1, fy1 = cells.lonlat_to_grid(exmax, eymax, res)
        fx0, fy0 = np.maximum(fx0 - 1, ix0[ep]), np.maximum(fy0 - 1, iy0[ep])
        fx1, fy1 = np.minimum(fx1 + 1, ix1[ep]), np.minimum(fy1 + 1, iy1[ep])
        ends = np.cumsum((fx1 - fx0 + 1) * (fy1 - fy0 + 1))
        touched = np.zeros(len(pidx), dtype=bool)
        e0 = 0
        while e0 < len(e):
            # edge blocks of ~2^17 (edge, cell) pairs keep each temporary
            # ~1 MB, L2-resident like contains_one's; a block holds at
            # least one edge, whose pairs never exceed its polygon's rows
            done = ends[e0 - 1] if e0 else 0
            e1 = max(int(np.searchsorted(ends, done + (1 << 17), side="right")), e0 + 1)
            k, px, py = cells.grid_ranges(fx0[e0:e1], fy0[e0:e1], fx1[e0:e1], fy1[e0:e1])
            k += e0
            cxmin = px * dx - 180.0 - eps_x
            cxmax = (px + 1) * dx - 180.0 + eps_x
            cymin = py * dy - 90.0 - eps_y
            cymax = (py + 1) * dy - 90.0 + eps_y
            # exact SAT segment-vs-rect: separating axes are x, y
            # (edge bbox vs rect) and the segment normal (all 4 rect
            # corners strictly on one side). A corner exactly ON the
            # line counts as touching (conservative).
            hit = (
                (exmin[k] <= cxmax) & (exmax[k] >= cxmin)
                & (eymin[k] <= cymax) & (eymax[k] >= cymin)
            )
            k, px, py, cxmin, cxmax, cymin, cymax = (
                v[hit] for v in (k, px, py, cxmin, cxmax, cymin, cymax)
            )
            edx, edy, ex, ey = x2[k] - x1[k], y2[k] - y1[k], x1[k], y1[k]
            d = np.stack([
                edx * (cy - ey) - edy * (cx - ex) for cx in (cxmin, cxmax) for cy in (cymin, cymax)
            ])
            sel = ~((d.min(axis=0) > 0) | (d.max(axis=0) < 0))
            p = ep[k[sel]]
            touched[start[p] + (py[sel] - iy0[p]) * nx[p] + (px[sel] - ix0[p])] = True
            e0 = e1
        interior = ~touched
        cand = np.flatnonzero(interior)
        if len(cand):
            interior[cand] = self.contains(
                pidx[cand], gx[cand] * dx - 180.0 + dx / 2, gy[cand] * dy - 90.0 + dy / 2
            )
        return pd.DataFrame(
            {
                "cell": (cells.morton_encode(gx, gy) << np.int64(5)) | np.int64(res),
                "pidx": pidx,
                "poly_key": self.keys[pidx],
                "interior": interior,
            }
        )

    def auto_res(self) -> int:
        """Pick a cover resolution: median polygon bbox ≈ target cells,
        CAPPED so the whole cover table stays within a fixed row budget.
        Coarser -> more refine work; finer -> wider cover table. The
        per-poly target is ~16x16 cells so the interior-cell
        certification (see cover()) exempts the bulk of candidate rows
        from the Python refine (measured on the 240M-page bench:
        9.96M pages/s at 8x8 / 72% interior, 12.14M at 16x16 / 85%,
        11.40M at 32x32 / 92% where the broadcast probe cost starts to
        win — 16x16 is the knee). The ROW budget is what makes the
        policy scale-safe and it is BINDING (pick_cover_res): cover
        size is n_polys x cells_per_poly, so a fixed per-poly density
        makes the broadcast grow linearly with dimension cardinality
        (10^6 parcels x 256 cells = 2.6x10^8 rows — not broadcastable,
        and minutes of driver-side build). Budgeted at 200k rows, a
        100-polygon layer keeps the full 16x16, a 1,600-parcel layer
        gets ~11x11, and huge layers coarsen until the estimate
        bottoms out near ~4 rows/poly — past ~budget/4 polygons use
        the partitioned joiner, which shuffles its cover past
        BROADCAST_POLY_BUDGET polygons."""
        if len(self.keys) == 0:
            return 0
        w = np.median(self.bbox[:, 2] - self.bbox[:, 0])
        h = np.median(self.bbox[:, 3] - self.bbox[:, 1])
        return pick_cover_res(len(self.keys), float(max(w, h)), _COVER_ROWS)


def pick_cover_res(n_polys: int, median_span: float, cover_budget_rows: float) -> int:
    """Cover-resolution policy shared by the broadcast and partitioned
    joiners (see PackedPolygonIndex.auto_res for the rationale): median
    polygon bbox ≈ target cells, capped so estimated cover rows stay
    within the budget. The budget is enforced on ESTIMATED rows at the
    quantized res (the ceil rounds the per-poly target up to the next
    power-of-4 cell count, so budgeting the pre-rounding target
    undershoots). There is deliberately NO per-poly density floor: a
    floor that overrides the budget re-creates the unbounded broadcast
    the budget exists to prevent (measured: 10^6 polys with a
    floor-stopped res produced a 9.6M-row / ~250MB cover). Coarser
    covers only cost refine work, never correctness. Cover rows can
    never go below ~n_polys (every polygon emits >= 1 row), so the
    loop's target bottoms out at ~4*n_polys — past ~budget/4 polygons
    the broadcast is inherently over budget, which is why
    PartitionedPIPJoiner shuffles its cover past BROADCAST_POLY_BUDGET
    polygons."""
    span = max(float(median_span), 1e-12)
    per_side = max(_CELLS_PER_POLY**0.5, 1.0)
    res = int(np.clip(np.ceil(np.log2(360.0 / span * per_side)), 0, cells.MAX_RES))
    target = max(cover_budget_rows, 4.0 * max(n_polys, 1))
    while res > 0:
        side = 360.0 / (1 << res)
        est = n_polys * (np.ceil(span / side) + 1.0) ** 2
        if est <= target:
            break
        res -= 1
    return res


# Polygon budget of the broadcast shapes: PIPJoiner refuses a layer
# past it (its vertex arrays stop being driver/broadcast material), and
# PartitionedPIPJoiner broadcasts its cover up to it and shuffles the
# candidate join beyond. Measured: an 810k-polygon layer broadcast its
# 4.2M-row cover exactly, and a 12.25M-polygon grid ran exact on the
# shuffle (BASELINE.md).
BROADCAST_POLY_BUDGET = 1_000_000


def _candidates(points_df, res, cover_sdf, broadcast, lon_col, lat_col, how):
    """The candidate stage both joiners share: check `how`, tag the
    points with a row id for a left join, encode their cells JVM-side
    and equi-join the cover on the cell (the page side never shuffles
    when the cover is broadcast). Returns (tagged points, candidates)."""
    if how not in ("inner", "left"):
        raise ValueError(f"unsupported how={how!r}")
    base = points_df
    if how == "left":
        # unique row id so the hit rows rejoin 1:1 — joining back on
        # the full column set multiplies duplicate input rows and is
        # fragile on float columns. monotonically_increasing_id is
        # stable for a deterministic scan (partition id + offset).
        base = points_df.withColumn(_RID, F.monotonically_increasing_id())
    pts = cells.with_cell(base, res, lon_col, lat_col, out_col="__cell")
    cover = F.broadcast(cover_sdf) if broadcast else cover_sdf
    cand = pts.join(cover, on=pts["__cell"] == cover_sdf["cell"], how="inner")
    return base, cand.drop("cell")


def _finish(base, hits, out_key, how):
    """Name the hits' key column; a left join re-joins them to every
    tagged point, so misses keep a NULL key."""
    hits = hits.withColumnRenamed("poly_key", out_key)
    if how == "inner":
        return hits
    return base.join(hits.select(_RID, out_key), on=_RID, how="left").drop(_RID)


class PIPJoiner:
    """Prepared point-in-polygon join: index build + cover table +
    broadcast happen ONCE (driver-side, seconds), then `apply()` joins
    any number of point DataFrames/batches — the once-per-job vs
    per-batch split a production pipeline needs (the reference's
    analogue: PostGIS indexes built once at import, vfrpg.py:120-163).
    An empty polygon layer gives an empty cover: inner joins return no
    rows, left joins every point with a NULL key.

    The polygon side is the dimension table: it is collected to the
    driver, packed and broadcast (SURVEY.md §4 item 3). A layer past
    BROADCAST_POLY_BUDGET raises instead of OOMing the driver (round-3
    verdict item 8); PartitionedPIPJoiner builds its cover distributedly
    and never moves the geometry.
    """

    def __init__(
        self,
        polys_df: DataFrame,
        poly_key: str,
        geom_col: str = "geometry",
        out_key: str | None = None,
    ):
        self.out_key = out_key or poly_key
        pruned = polys_df.select(poly_key, geom_col).where(F.col(geom_col).isNotNull())
        halo._check_broadcast_budget(
            pruned, BROADCAST_POLY_BUDGET, "gdal_vfr_spark.geo.pip.PartitionedPIPJoiner"
        )
        self.index = PackedPolygonIndex.build((int(k), bytes(g)) for k, g in pruned.collect())
        self.res = self.index.auto_res()
        spark = polys_df.sparkSession
        self._bc = spark.sparkContext.broadcast(self.index)
        self._cover_sdf = spark.createDataFrame(
            self.index.cover(self.res), "cell long, pidx long, poly_key long, interior boolean"
        )

    def apply(
        self,
        points_df: DataFrame,
        lon_col: str = "lon",
        lat_col: str = "lat",
        how: str = "inner",
    ) -> DataFrame:
        # (round-6 measured negative result: unconditionally spreading
        # points_df here cost more than it saved for interior-heavy
        # joins — geo_pip_counts 1.37s -> 1.8s at sf1.0, the exchange
        # of the full-width point rows outweighing the mostly-JVM
        # refine. Callers with boundary-heavy refines spread their own
        # narrow point projection instead: q_geo_pip_hierarchy3.)
        base, cand = _candidates(points_df, self.res, self._cover_sdf, True, lon_col, lat_col, how)
        bc = self._bc

        @F.pandas_udf(BooleanType())
        def _refine(lon: pd.Series, lat: pd.Series, pidx: pd.Series) -> pd.Series:
            # null pidx = interior-certified row (hit decided JVM-side);
            # the winding test runs only on boundary-cell rows
            idx: PackedPolygonIndex = bc.value
            mask = pidx.notna().to_numpy()
            out = np.zeros(len(pidx), dtype=bool)
            if mask.any():
                out[mask] = idx.contains(
                    pidx.to_numpy(dtype=np.float64)[mask].astype(np.int64),
                    lon.to_numpy(dtype=np.float64)[mask],
                    lat.to_numpy(dtype=np.float64)[mask],
                )
            return pd.Series(out)

        # interior-certified candidates skip the winding compute: their
        # UDF inputs are nulled, so the Arrow pass does no per-edge work
        # for them (the bulk of candidates at the default cover res) and
        # the hit bit comes from the broadcast cover row itself.
        # (Measured alternative: splitting the plan into an interior
        # branch and a UDF boundary branch unioned back — the double
        # scan+encode costs MORE than the nulled Arrow transfer saves,
        # 13.4M vs 14.4M pages/s at local[8] on the 240M-page bench.)
        need = ~F.col("interior")
        refined = _refine(
            F.when(need, F.col(lon_col)),
            F.when(need, F.col(lat_col)),
            F.when(need, F.col("pidx")),
        )
        hits = (
            cand.withColumn("__hit", F.col("interior") | refined)
            .where(F.col("__hit"))
            .drop("__hit", "pidx", "__cell", "interior")
        )
        return _finish(base, hits, self.out_key, how)


def _span_stats(polys: DataFrame, geom_col: str) -> tuple[int, float]:
    """Distributed bbox statistics for cover-resolution selection: one
    pass over the polygon table, only TWO scalars (row count, median
    bbox span) reach the driver — never the geometry."""

    @F.pandas_udf("double")
    def _span(geom: pd.Series) -> pd.Series:
        bbox = PackedPolygonIndex.build(enumerate(geom)).bbox
        return pd.Series(np.maximum(bbox[:, 2] - bbox[:, 0], bbox[:, 3] - bbox[:, 1]))

    row = (
        polys.select(_span(F.col(geom_col)).alias("s"))
        .agg(F.count("*").alias("n"), F.percentile_approx("s", 0.5).alias("med"))
        .first()
    )
    return int(row["n"]), float(row["med"] if row["med"] is not None else 0.0)


def _pack(pdf: pd.DataFrame) -> PackedPolygonIndex:
    """Pack a batch of (__pkey, __geom) polygon rows."""
    return PackedPolygonIndex.build(zip(pdf["__pkey"], pdf["__geom"]))


class PartitionedPIPJoiner:
    """Point-in-polygon join for HUGE dimension layers (parcel-scale:
    10^5-10^7 polygons), where PIPJoiner's driver-collect + monolithic
    vertex broadcast stops scaling (10^6 parcels x ~256 verts/ring is
    ~4 GB of float64 on the driver and in every executor).

    Scale shape — the dimension's VERTEX ARRAYS never leave the
    executors and are never broadcast; only two bounded artifacts move:

    1. cover table (cell, poly_key, interior) — built DISTRIBUTEDLY via
       mapInPandas (each task packs its polygon batch and emits its
       cover rows), row-budgeted by pick_cover_res, broadcast to keep
       the page side map-only exactly like the broadcast path up to
       BROADCAST_POLY_BUDGET polygons, and shuffle-joined on the cell
       key past it (the polygon count comes from _span_stats). The
       250k-row budget (_PARTITIONED_COVER_ROWS) bounds it regardless
       of vertex counts (measured: a 2M-row budget triples per-action
       broadcast-rebuild cost for no candidate-quality gain on the
       parcel fixture — the budget trades JVM-side pruning for
       broadcast size, and the knee is early).
    2. packed-geometry group table (__grp, __gsalt, __pkey, __geom) —
       polygons keyed by the coarse gres-cells their bbox intersects
       (cells.cover_bboxes: a polygon is duplicated only across the
       few groups it straddles). Stays a distributed DataFrame; the
       refine shuffles it by bucket.

    apply(): the same candidate stage as PIPJoiner (pages get cells
    JVM-side and join the cover map-only), interior-certified
    candidates are hits with zero Python, and ONLY boundary-cell
    candidates shuffle — keyed by the bucket of their cell's gres
    parent (halo.refine_by_bucket) — into one kernel call per bucket
    that packs the bucket's polygons once and runs the same vectorized
    even-odd test as the broadcast path. Identical results (pip parity
    pinned in tests/test_pip.py); one extra shuffle of the boundary
    slice is the price of not broadcasting vertices.

    Megacity skew: a hot group's boundary candidates all land in one
    bucket, i.e. one task. salt>1 replicates each polygon row into
    `salt` copies per group and routes candidates by hash(lon,lat) %
    salt; the bucket key hashes (__grp, __gsalt), so a hot group spreads
    over up to `salt` buckets at the cost of `salt`x geometry
    duplication in the group table (geometry only — the candidate side
    is partitioned, not replicated).

    Requires poly keys unique per polygon row (RUIAN kod semantics);
    the reference's Parcely is exactly this layer at country scale
    (3,172 of 3,716 features in test_suite/OB_UKSH.xml.gz, SURVEY §5).
    """

    def __init__(
        self,
        polys_df: DataFrame,
        poly_key: str,
        geom_col: str = "geometry",
        out_key: str | None = None,
        salt: int = 1,
    ):
        self.out_key = out_key or poly_key
        polys = polys_df.select(
            F.col(poly_key).cast("long").alias("__pkey"),
            F.col(geom_col).alias("__geom"),
        ).where(F.col(geom_col).isNotNull())
        n, med = _span_stats(polys, "__geom")
        # cover res is budget-driven (pick_cover_res): coarser covers
        # cost refine fan-out (~(cell/poly + 1)^2 candidates per point),
        # finer ones cost broadcast-rebuild time, and on the
        # 122,500-parcel fixture the rebuild dominates (res 16 vs 17:
        # 380k vs 770k rows, ~2.4x faster per action)
        self.res = res = pick_cover_res(n, med, _PARTITIONED_COVER_ROWS)
        self.gres = max(res - _GROUP_BITS, 0)
        self.salt = max(int(salt), 1)
        # cover rows are bounded below by n_polys (>= 1 row each): past
        # BROADCAST_POLY_BUDGET polygons the candidate join becomes a
        # shuffle join on the cell key (pages repartition once; the
        # cover stays a distributed table) — slower per page, but the
        # only shape that holds at 10^7+ polygons
        self.broadcast_cover = n <= BROADCAST_POLY_BUDGET
        rres, gres, nsalt = self.res, self.gres, self.salt

        def _cover(batches):
            for pdf in batches:
                if len(pdf):
                    yield _pack(pdf).cover(rres)[["cell", "poly_key", "interior"]]

        # persisted: the cover is re-joined by every apply()/action and
        # is small by construction (the row budget)
        self._cover_sdf = polys.mapInPandas(
            _cover, "cell long, poly_key long, interior boolean"
        ).persist()

        def _groups(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                row, grp = cells.cover_bboxes(*_pack(pdf).bbox.T, gres)
                row, grp = np.repeat(row, nsalt), np.repeat(grp, nsalt)
                yield pd.DataFrame(
                    {
                        "__grp": grp,
                        "__gsalt": np.tile(np.arange(nsalt, dtype=np.int32), len(row) // nsalt),
                        "__pkey": pdf["__pkey"].to_numpy(dtype=np.int64)[row],
                        "__geom": pdf["__geom"].to_numpy()[row],
                    }
                )

        # persisted like the cover: this IS the prepared index (the
        # partitioned analogue of PIPJoiner's one-time broadcast build),
        # O(dimension) with small duplication, disk-backed so a 10^7-poly
        # layer spills instead of evicting
        self._groups_sdf = polys.mapInPandas(
            _groups, "__grp long, __gsalt int, __pkey long, __geom binary"
        ).persist(StorageLevel.MEMORY_AND_DISK)

    def apply(
        self,
        points_df: DataFrame,
        lon_col: str = "lon",
        lat_col: str = "lat",
        how: str = "inner",
    ) -> DataFrame:
        # re-arm the prepared-index caches: spark.catalog.clearCache()
        # (or an explicit unpersist) silently REMOVES the persist mark,
        # after which every action would rebuild the cover and group
        # tables from the raw dimension — measured 3-4x per-action cost
        # on the parcel fixture. persist() after unpersist re-registers.
        halo.ensure_persisted(self._cover_sdf)
        halo.ensure_persisted(self._groups_sdf)
        res, gres, nsalt = self.res, self.gres, self.salt
        base, cand = _candidates(
            points_df, res, self._cover_sdf, self.broadcast_cover, lon_col, lat_col, how
        )
        inner_hits = cand.where(F.col("interior")).drop("__cell", "interior")
        # cell -> gres parent, pure bit ops in codegen: drop the 5 res
        # bits and 2*(res-gres) morton bits, re-tag with gres
        shift = 5 + 2 * (res - gres)
        grp_expr = F.shiftleft(F.shiftright(F.col("__cell"), shift), 5).bitwiseOR(
            F.lit(gres)
        )
        salt_expr = (
            F.lit(0)
            if nsalt == 1
            else F.pmod(F.xxhash64(F.col(lon_col), F.col(lat_col)), F.lit(nsalt))
        )
        boundary = (
            cand.where(~F.col("interior"))
            .withColumn("__grp", grp_expr)
            .withColumn("__gsalt", salt_expr.cast("int"))
        )
        helper = ("__cell", "interior", "__grp", "__gsalt")
        out_fields = [f for f in boundary.schema.fields if f.name not in helper]
        names = [f.name for f in out_fields]

        def _refine(cand_pdf: pd.DataFrame, poly_pdf: pd.DataFrame) -> pd.DataFrame:
            # one call per bucket: every group hashed here arrives at
            # once, so the bucket's polygons are packed ONCE (duplicates
            # across groups and salts dropped, only keys a candidate
            # asks for decoded) and each candidate row names its own
            # polygon through poly_key
            if not len(cand_pdf) or not len(poly_pdf):
                return cand_pdf.loc[:, names].iloc[0:0]
            want = cand_pdf["poly_key"].to_numpy(dtype=np.int64)
            polys = poly_pdf[poly_pdf["__pkey"].isin(want)]
            idx = _pack(polys.drop_duplicates("__pkey").sort_values("__pkey"))
            hit = idx.contains(
                np.searchsorted(idx.keys, want),
                cand_pdf[lon_col].to_numpy(dtype=np.float64),
                cand_pdf[lat_col].to_numpy(dtype=np.float64),
            )
            return cand_pdf.loc[hit, names]

        refined = halo.refine_by_bucket(
            boundary, self._groups_sdf, ["__grp", "__gsalt"], _refine, StructType(out_fields)
        )
        return _finish(base, inner_hits.unionByName(refined), self.out_key, how)

    # ---- index persistence -------------------------------------------
    # The cover + group tables ARE the prepared index (build-once /
    # apply-per-batch, the reference's build-indexes-once import —
    # vfrpg.py:120-163). Saving them to parquet makes the build a
    # one-time storage cost shared by every later job: a production
    # pipeline (and the two-cluster-size scaling measurement) loads the
    # index instead of re-decoding 10^7 WKB polygons per cluster spin-up.

    def save_index(self, path: str) -> None:
        """Write the prepared index (cover, groups, params) under `path`.

        Parquet keeps both tables distributed end-to-end — neither the
        cover nor the packed-geometry groups ever pass through the
        driver; meta.json carries the scalar params needed to re-arm
        apply() without the raw dimension layer."""
        self._cover_sdf.write.mode("overwrite").parquet(os.path.join(path, "cover"))
        self._groups_sdf.write.mode("overwrite").parquet(os.path.join(path, "groups"))
        with open(os.path.join(path, "meta.json"), "w") as f:
            json.dump(
                {
                    "res": self.res,
                    "gres": self.gres,
                    "salt": self.salt,
                    "out_key": self.out_key,
                    "broadcast_cover": self.broadcast_cover,
                },
                f,
            )

    @classmethod
    def load_index(cls, spark, path: str) -> "PartitionedPIPJoiner":
        """Re-arm a joiner from a save_index() directory. apply() is
        bit-identical to the builder's (parity pinned in tests/test_pip.py),
        with the cover shape the builder derived from its polygon count."""
        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        obj = cls.__new__(cls)
        obj.res = int(meta["res"])
        obj.gres = int(meta["gres"])
        obj.salt = int(meta["salt"])
        obj.out_key = meta["out_key"]
        obj.broadcast_cover = bool(meta["broadcast_cover"])
        obj._cover_sdf = spark.read.parquet(os.path.join(path, "cover")).persist()
        obj._groups_sdf = spark.read.parquet(os.path.join(path, "groups")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        return obj

