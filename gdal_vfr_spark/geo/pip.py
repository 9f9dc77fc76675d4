"""Point-in-polygon join: broadcast packed polygon index + cell-cover
equi-join + vectorized even-odd refinement.

North-star operator J4 (SURVEY.md §2.3). The reference never computes
containment — its data *carries* parent codes as FK columns
(gfs/AdresniMista.gfs:63-80, gfs/Parcely.gfs:76-81); this operator
re-derives them spatially, and the generated fixtures' ground-truth
columns verify the output row-for-row.

Execution shape (scale rationale):
- The polygon side (admin layers: ~10^4-10^6 rows) is packed into flat
  numpy arrays and broadcast once; the page side (10^12 rows) NEVER
  shuffles: candidates come from a broadcast hash join on the cell id,
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
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BooleanType

from gdal_vfr_spark.geo import cells, halo, wkb


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
    def build(cls, keys_and_wkb: list[tuple[int, bytes]]) -> "PackedPolygonIndex":
        verts_list: list[np.ndarray] = []
        ring_off = [0]
        poly_ring = [0]
        bboxes = []
        keys = []
        total = 0
        for key, buf in keys_and_wkb:
            rings = wkb.decode_rings(bytes(buf))
            for r in rings:
                verts_list.append(r)
                total += len(r)
                ring_off.append(total)
            poly_ring.append(len(ring_off) - 1)
            allv = np.concatenate(rings)
            bboxes.append(
                (allv[:, 0].min(), allv[:, 1].min(), allv[:, 0].max(), allv[:, 1].max())
            )
            keys.append(key)
        return cls(
            verts=np.concatenate(verts_list) if verts_list else np.empty((0, 2)),
            ring_off=np.asarray(ring_off, dtype=np.int64),
            poly_ring=np.asarray(poly_ring, dtype=np.int64),
            bbox=np.asarray(bboxes, dtype=np.float64).reshape(-1, 4),
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

    def _edges(self, p: int) -> np.ndarray:
        """(E, 4) per-edge endpoints (x1, y1, x2, y2) over all rings of
        polygon p — used once at cover-build time."""
        out = []
        for r in range(self.poly_ring[p], self.poly_ring[p + 1]):
            ring = self.verts[self.ring_off[r] : self.ring_off[r + 1]]
            out.append(
                np.stack([ring[:-1, 0], ring[:-1, 1], ring[1:, 0], ring[1:, 1]], axis=1)
            )
        return np.concatenate(out) if out else np.empty((0, 4))

    def cover(self, res: int) -> pd.DataFrame:
        """(cell, pidx, key, interior) cover table at resolution res:
        every cell whose bbox intersects the polygon's bbox.

        `interior` certifies cells whose closed rectangle no polygon
        edge touches AND whose center the even-odd test puts inside:
        containment is then CONSTANT over the cell (parity can only
        change across an edge), so candidate points in interior cells
        are hits with no refinement — they never cross the Python
        boundary. The test is conservative (edge-bbox overlap against
        an epsilon-inflated rect), so a misclassification can only
        send extra rows to the refine step, never skip it. Boundary
        cells keep the exact winding refine."""
        n = 1 << res
        dx, dy = 360.0 / n, 180.0 / n
        eps_x, eps_y = dx * 1e-9, dy * 1e-9
        cells_out, pidx_out, key_out, int_out = [], [], [], []
        for p in range(len(self.keys)):
            lon_min, lat_min, lon_max, lat_max = self.bbox[p]
            ix0, iy0 = cells.lonlat_to_grid(
                np.asarray([lon_min]), np.asarray([lat_min]), res
            )
            ix1, iy1 = cells.lonlat_to_grid(
                np.asarray([lon_max]), np.asarray([lat_max]), res
            )
            xs = np.arange(int(ix0[0]), min(int(ix1[0]), n - 1) + 1, dtype=np.int64)
            ys = np.arange(int(iy0[0]), min(int(iy1[0]), n - 1) + 1, dtype=np.int64)
            gx, gy = np.meshgrid(xs, ys)
            gx, gy = gx.ravel(), gy.ravel()
            cc = (
                (cells.morton_encode(gx, gy) << np.int64(5)) | np.int64(res)
            ).astype(np.int64)
            cxmin = gx * dx - 180.0 - eps_x
            cxmax = (gx + 1) * dx - 180.0 + eps_x
            cymin = gy * dy - 90.0 - eps_y
            cymax = (gy + 1) * dy - 90.0 + eps_y
            ed = self._edges(p)
            touched = np.zeros(len(cc), dtype=bool)
            if len(ed):
                # exact SAT segment-vs-rect, (C, E) blocked over edges:
                # separating axes are x, y (edge-bbox vs rect) and the
                # segment normal (all 4 rect corners strictly on one
                # side). Corner exactly ON the line counts as touching
                # (conservative).
                for e0 in range(0, len(ed), 2048):
                    e = ed[e0 : e0 + 2048]
                    x1, y1, x2, y2 = e[:, 0], e[:, 1], e[:, 2], e[:, 3]
                    bb = (
                        (np.minimum(x1, x2)[None, :] <= cxmax[:, None])
                        & (np.maximum(x1, x2)[None, :] >= cxmin[:, None])
                        & (np.minimum(y1, y2)[None, :] <= cymax[:, None])
                        & (np.maximum(y1, y2)[None, :] >= cymin[:, None])
                    )
                    edx, edy = (x2 - x1)[None, :], (y2 - y1)[None, :]
                    pos = np.zeros(bb.shape, dtype=bool)
                    neg = np.zeros(bb.shape, dtype=bool)
                    first = True
                    for cx, cy in (
                        (cxmin, cymin), (cxmin, cymax), (cxmax, cymin), (cxmax, cymax)
                    ):
                        d = edx * (cy[:, None] - y1[None, :]) - edy * (
                            cx[:, None] - x1[None, :]
                        )
                        if first:
                            pos, neg, first = d > 0, d < 0, False
                        else:
                            pos &= d > 0
                            neg &= d < 0
                    touched |= (bb & ~pos & ~neg).any(axis=1)
            centers_x = gx * dx - 180.0 + dx / 2
            centers_y = gy * dy - 90.0 + dy / 2
            interior = ~touched
            if interior.any():
                inside = self.contains_one(p, centers_x[interior], centers_y[interior])
                tmp = np.zeros(len(cc), dtype=bool)
                tmp[np.flatnonzero(interior)[inside]] = True
                interior = tmp
            cells_out.append(cc)
            pidx_out.append(np.full(len(cc), p, dtype=np.int64))
            key_out.append(np.full(len(cc), self.keys[p], dtype=np.int64))
            int_out.append(interior)
        return pd.DataFrame(
            {
                "cell": np.concatenate(cells_out),
                "pidx": np.concatenate(pidx_out),
                "poly_key": np.concatenate(key_out),
                "interior": np.concatenate(int_out),
            }
        )

    def auto_res(
        self,
        target_cells_per_poly: float = 256.0,
        cover_budget_rows: float = 200_000.0,
    ) -> int:
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
        the partitioned joiner (broadcast_cover=False at the extreme)."""
        if len(self.keys) == 0:
            return 0
        w = np.median(self.bbox[:, 2] - self.bbox[:, 0])
        h = np.median(self.bbox[:, 3] - self.bbox[:, 1])
        return pick_cover_res(
            len(self.keys),
            float(max(w, h)),
            target_cells_per_poly,
            cover_budget_rows,
        )


def pick_cover_res(
    n_polys: int,
    median_span: float,
    target_cells_per_poly: float = 256.0,
    cover_budget_rows: float = 200_000.0,
) -> int:
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
    the broadcast is inherently over budget and the caller should
    switch to the shuffled candidate join
    (PartitionedPIPJoiner(broadcast_cover=False))."""
    span = max(float(median_span), 1e-12)
    per_side = max(target_cells_per_poly**0.5, 1.0)
    res = int(np.clip(np.ceil(np.log2(360.0 / span * per_side)), 0, cells.MAX_RES))
    target = max(cover_budget_rows, 4.0 * max(n_polys, 1))
    while res > 0:
        side = 360.0 / (1 << res)
        est = n_polys * (np.ceil(span / side) + 1.0) ** 2
        if est <= target:
            break
        res -= 1
    return res


# Driver-collect budget for the broadcast PIP path: past this the
# vertex arrays stop being driver/broadcast material and the caller
# must use PartitionedPIPJoiner (distributed cover build; past
# ~budget/4 polys broadcast_cover=False too). Verified exact at 810k
# polygons on the partitioned path (BASELINE.md).
BROADCAST_POLY_BUDGET = 1_000_000


def build_index(
    polys_df: DataFrame,
    key_col: str,
    geom_col: str,
    max_broadcast_rows: int = BROADCAST_POLY_BUDGET,
) -> PackedPolygonIndex:
    """Collect the (small) polygon side and pack it. At 100 TB the
    polygon side is the dimension table — collecting it to the driver
    and broadcasting is the intended strategy (SURVEY.md §4 item 3).
    Layers beyond max_broadcast_rows raise instead of OOMing the
    driver (round-3 verdict item 8): use PartitionedPIPJoiner, whose
    cover is built distributedly and whose geometry never leaves the
    executors."""
    pruned = polys_df.select(key_col, geom_col).where(F.col(geom_col).isNotNull())
    halo._check_broadcast_budget(
        pruned,
        max_broadcast_rows,
        "gdal_vfr_spark.geo.pip.PartitionedPIPJoiner (distributed cover; "
        "broadcast_cover=False past ~budget/4 polygons)",
    )
    rows = pruned.collect()
    return PackedPolygonIndex.build([(int(r[0]), bytes(r[1])) for r in rows])


class PIPJoiner:
    """Prepared point-in-polygon join: index build + cover table +
    broadcast happen ONCE (driver-side, seconds), then `apply()` joins
    any number of point DataFrames/batches — the once-per-job vs
    per-batch split a production pipeline needs (the reference's
    analogue: PostGIS indexes built once at import, vfrpg.py:120-163).
    """

    def __init__(
        self,
        polys_df: DataFrame,
        poly_key: str,
        geom_col: str = "geometry",
        res: int | None = None,
        out_key: str | None = None,
    ):
        self.out_key = out_key or poly_key
        spark = polys_df.sparkSession
        self.index = build_index(polys_df, poly_key, geom_col)
        self.res = res if res is not None else self.index.auto_res()
        self._bc = spark.sparkContext.broadcast(self.index)
        self._cover_sdf = (
            spark.createDataFrame(self.index.cover(self.res))
            if len(self.index.keys)
            else None
        )

    def apply(
        self,
        points_df: DataFrame,
        lon_col: str = "lon",
        lat_col: str = "lat",
        how: str = "inner",
    ) -> DataFrame:
        out_key = self.out_key
        if self._cover_sdf is None:
            # empty dimension side: inner join is empty; left join
            # keeps all points with a NULL key
            empty_key = F.lit(None).cast("long").alias(out_key)
            if how == "inner":
                return points_df.withColumn(out_key, empty_key).limit(0)
            return points_df.withColumn(out_key, empty_key)

        cover_sdf = self._cover_sdf
        bc = self._bc
        # (round-6 measured negative result: unconditionally spreading
        # points_df here cost more than it saved for interior-heavy
        # joins — geo_pip_counts 1.37s -> 1.8s at sf1.0, the exchange
        # of the full-width point rows outweighing the mostly-JVM
        # refine. Callers with boundary-heavy refines spread their own
        # narrow point projection instead: q_geo_pip_hierarchy3.)
        base = points_df
        rid = "__pip_rid"
        if how == "left":
            # unique row id so the hit rows rejoin 1:1 — joining back on
            # the full column set multiplies duplicate input rows and is
            # fragile on float columns. monotonically_increasing_id is
            # stable for a deterministic scan (partition id + offset).
            base = points_df.withColumn(rid, F.monotonically_increasing_id())
        pts = cells.with_cell(base, self.res, lon_col, lat_col, out_col="__cell")
        cand = pts.join(
            F.broadcast(cover_sdf), on=pts["__cell"] == cover_sdf["cell"], how="inner"
        ).drop("cell")

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
            .withColumnRenamed("poly_key", out_key)
        )
        if how == "inner":
            return hits
        if how == "left":
            keyed = hits.select(rid, out_key)
            return base.join(keyed, on=rid, how="left").drop(rid)
        raise ValueError(f"unsupported how={how!r}")


def _span_stats(polys: DataFrame, geom_col: str) -> tuple[int, float]:
    """Distributed bbox statistics for cover-resolution selection: one
    pass over the polygon table, only TWO scalars (row count, median
    bbox span) reach the driver — never the geometry."""

    @F.pandas_udf("double")
    def _span(geom: pd.Series) -> pd.Series:
        out = np.empty(len(geom), dtype=np.float64)
        for i, buf in enumerate(geom):
            allv = np.concatenate(wkb.decode_rings(bytes(buf)))
            out[i] = max(
                float(allv[:, 0].max() - allv[:, 0].min()),
                float(allv[:, 1].max() - allv[:, 1].min()),
            )
        return pd.Series(out)

    row = (
        polys.select(_span(F.col(geom_col)).alias("s"))
        .agg(F.count("*").alias("n"), F.percentile_approx("s", 0.5).alias("med"))
        .first()
    )
    return int(row["n"]), float(row["med"] if row["med"] is not None else 0.0)


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
       the page side map-only exactly like the broadcast path. At the
       default 500k-row budget that is ~15 MB — bounded regardless of
       vertex counts (measured: a 2M-row budget triples per-action
       broadcast-rebuild cost for no candidate-quality gain on the
       parcel fixture — the budget trades JVM-side pruning for
       broadcast size, and the knee is early).
    2. packed-geometry group table (__grp, __gsalt, __pkey, __geom) —
       polygons keyed by the coarse gres-cells their bbox intersects
       (cells.cover_bboxes: a polygon is duplicated only across the
       few groups it straddles). Stays a distributed DataFrame; the
       refine shuffles it by bucket.

    apply(): pages get cells JVM-side, broadcast-join the cover
    (map-only, pages never shuffle for candidate generation),
    interior-certified candidates are hits with zero Python, and ONLY
    boundary-cell candidates shuffle — keyed by the bucket of their
    cell's gres parent (halo.refine_by_bucket) — into one kernel call
    per bucket that packs the bucket's polygons once and runs the same
    vectorized even-odd test as the broadcast path. Identical results
    (pip parity pinned in tests/test_pip.py); one extra shuffle of the
    boundary slice is the price of not broadcasting vertices.

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
        res: int | None = None,
        out_key: str | None = None,
        cover_budget_rows: float = 250_000.0,
        group_bits: int = 4,
        salt: int = 1,
        broadcast_cover: bool = True,
    ):
        self.out_key = out_key or poly_key
        polys = polys_df.select(
            F.col(poly_key).cast("long").alias("__pkey"),
            F.col(geom_col).alias("__geom"),
        ).where(F.col(geom_col).isNotNull())
        self._polys = polys
        if res is None:
            n, med = _span_stats(polys, "__geom")
            # cover res is budget-driven (pick_cover_res): coarser
            # covers cost refine fan-out (~(cell/poly + 1)^2 candidates
            # per point), finer ones cost broadcast-rebuild time, and on
            # the 122,500-parcel fixture the rebuild dominates (res 16
            # vs 17: 380k vs 770k rows, ~2.4x faster per action)
            res = pick_cover_res(n, med, cover_budget_rows=cover_budget_rows)
        self.res = res
        self.gres = max(res - group_bits, 0)
        self.salt = max(int(salt), 1)
        # cover rows are bounded below by n_polys (>= 1 row each), so
        # past ~budget/4 polygons the broadcast is inherently over
        # budget: broadcast_cover=False switches the candidate join to
        # a shuffle join on the cell key (pages repartition once; the
        # cover stays a distributed table) — slower per page, but the
        # only shape that holds at 10^7+ polygons
        self.broadcast_cover = broadcast_cover
        rres, gres, nsalt = self.res, self.gres, self.salt

        def _cover(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                idx = PackedPolygonIndex.build(
                    [(int(k), bytes(b)) for k, b in zip(pdf["__pkey"], pdf["__geom"])]
                )
                yield idx.cover(rres)[["cell", "poly_key", "interior"]]

        # persisted: the cover is re-joined by every apply()/action and
        # is small by construction (the row budget)
        self._cover_sdf = polys.mapInPandas(
            _cover, "cell long, poly_key long, interior boolean"
        ).persist()

        def _groups(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                geom = pdf["__geom"].to_numpy()
                bbox = np.empty((len(pdf), 4))
                for i, buf in enumerate(geom):
                    allv = np.concatenate(wkb.decode_rings(bytes(buf)))
                    bbox[i] = (*allv.min(axis=0), *allv.max(axis=0))
                row, grp = cells.cover_bboxes(*bbox.T, gres)
                row, grp = np.repeat(row, nsalt), np.repeat(grp, nsalt)
                yield pd.DataFrame(
                    {
                        "__grp": grp,
                        "__gsalt": np.tile(np.arange(nsalt, dtype=np.int32), len(row) // nsalt),
                        "__pkey": pdf["__pkey"].to_numpy(dtype=np.int64)[row],
                        "__geom": geom[row],
                    }
                )

        # persisted like the cover: this IS the prepared index (the
        # partitioned analogue of PIPJoiner's one-time broadcast build),
        # O(dimension) with small duplication, disk-backed so a 10^7-poly
        # layer spills instead of evicting
        from pyspark.storagelevel import StorageLevel

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
        if how not in ("inner", "left"):
            raise ValueError(f"unsupported how={how!r}")
        # re-arm the prepared-index caches: spark.catalog.clearCache()
        # (or an explicit unpersist) silently REMOVES the persist mark,
        # after which every action would rebuild the cover and group
        # tables from the raw dimension — measured 3-4x per-action cost
        # on the parcel fixture. persist() after unpersist re-registers.
        halo.ensure_persisted(self._cover_sdf)
        halo.ensure_persisted(self._groups_sdf)
        out_key = self.out_key
        res, gres, nsalt = self.res, self.gres, self.salt
        base = points_df
        rid = "__pip_rid"
        if how == "left":
            base = points_df.withColumn(rid, F.monotonically_increasing_id())
        pts = cells.with_cell(base, res, lon_col, lat_col, out_col="__cell")
        cover = self._cover_sdf
        cover_side = F.broadcast(cover) if self.broadcast_cover else cover
        cand = pts.join(
            cover_side, on=pts["__cell"] == cover["cell"], how="inner"
        ).drop("cell")
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
        from pyspark.sql.types import StructType

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
            polys = polys.drop_duplicates("__pkey").sort_values("__pkey")
            idx = PackedPolygonIndex.build(
                list(zip(polys["__pkey"].tolist(), polys["__geom"]))
            )
            hit = idx.contains(
                np.searchsorted(idx.keys, want),
                cand_pdf[lon_col].to_numpy(dtype=np.float64),
                cand_pdf[lat_col].to_numpy(dtype=np.float64),
            )
            return cand_pdf.loc[hit, names]

        refined = halo.refine_by_bucket(
            boundary, self._groups_sdf, ["__grp", "__gsalt"], _refine, StructType(out_fields)
        )
        hits = inner_hits.unionByName(refined).withColumnRenamed("poly_key", out_key)
        if how == "inner":
            return hits
        keyed = hits.select(rid, out_key)
        return base.join(keyed, on=rid, how="left").drop(rid)

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
    def load_index(
        cls, spark, path: str, broadcast_cover: bool | None = None
    ) -> "PartitionedPIPJoiner":
        """Re-arm a joiner from a save_index() directory. apply() is
        bit-identical to the builder's (parity pinned in tests/test_pip.py);
        `broadcast_cover` may be overridden at load time (the budget rule
        depends on cluster memory, not on how the index was built)."""
        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        from pyspark.storagelevel import StorageLevel

        obj = cls.__new__(cls)
        obj.res = int(meta["res"])
        obj.gres = int(meta["gres"])
        obj.salt = int(meta["salt"])
        obj.out_key = meta["out_key"]
        obj.broadcast_cover = (
            bool(meta["broadcast_cover"]) if broadcast_cover is None else broadcast_cover
        )
        obj._polys = None
        obj._cover_sdf = spark.read.parquet(os.path.join(path, "cover")).persist()
        obj._groups_sdf = spark.read.parquet(os.path.join(path, "groups")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        return obj


def point_in_polygon_join(
    points_df: DataFrame,
    polys_df: DataFrame,
    poly_key: str,
    geom_col: str = "geometry",
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int | None = None,
    how: str = "inner",
    out_key: str | None = None,
) -> DataFrame:
    """points ⋈_contains polys → points columns + `out_key` (polygon key).

    One-shot convenience over PIPJoiner (prepare + apply). how='inner'
    drops non-matching points; how='left' keeps them with a NULL key
    (the reference's keep-and-count semantics for features without
    geometry, vfrogr.py:592-598).
    """
    joiner = PIPJoiner(polys_df, poly_key, geom_col, res=res, out_key=out_key)
    return joiner.apply(points_df, lon_col=lon_col, lat_col=lat_col, how=how)
