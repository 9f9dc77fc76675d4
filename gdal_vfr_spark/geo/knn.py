"""kNN and distance-band joins via k-ring cell expansion +
distance-bounded merge (J5).

Not in the reference (SURVEY.md §2.3 J5) — required by the north star:
"kNN via k-ring cell expansion with a distance-bounded heap merge".

Every target is a line segment, and a point target is the zero-length
segment (x, y, x, y): for it _point_seg_dist2 returns
(qx-x)^2 + (qy-y)^2 bit-for-bit (l2 = 0 forces t = 0, so px = x). One
packed index (PackedSegmentIndex), one ring walk, one band kernel
(_band_lines) and one broadcast shell therefore serve point and line
targets alike.

Execution shape: the target set (streets / municipality centroids — the
dimension side) is packed into cell-bucketed numpy arrays and broadcast;
the query side maps over Arrow batches with NO shuffle. Inside a batch,
candidates are gathered ring-by-ring with vectorized bucket lookups
(sorted-cell searchsorted, never per-row Python); a point is finished
when its kth distance is within the ring's guarantee radius, and the
few stragglers fall back to a vectorized brute-force pass — so results
are EXACT, not approximate. Target layers past the broadcast budget
take the partitioned halo-grid joiners at the bottom of this module.

The prepared joiners are the way in, each built once and applied per
batch: LineKNNJoiner (a line layer) and LineKNNJoiner.from_points (a
point layer) broadcast their index and give kNN (apply) and the
distance band (apply_range); PartitionedLineRangeJoiner and
PartitionedPointRangeJoiner keep the targets on the executors and give
the band (apply) and the bounded-radius kNN on top of it (apply_knn).

Distance: planar squared-euclidean on lon/lat degrees (documented
engine-wide; deterministic — products/sums of float64 only, no libm
trig). A query's neighbors are distinct target keys, each at its
minimum distance over the key's segments, ranked by (dist2, key).
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from gdal_vfr_spark.geo import cells, halo, wkb

# Broadcast-path budget: targets beyond this refuse the driver-collect
# joiners instead of OOMing the driver at scale. ~2M points x 32 B/row
# ≈ 64 MB packed — the sensible ceiling for a broadcast index; RUIAN's
# countrywide AdresniMista (~3M definition points over 6,258 OB files,
# gfs/AdresniMista.gfs:8-24 + test_suite/db_uksh.txt) already exceeds
# it, which is exactly why the partitioned path exists.
BROADCAST_TARGET_BUDGET = 2_000_000


def _reduce_min_per_key(qi, kv, d2):
    """Collapse (query, key) duplicates keeping the min distance: one
    street contributes many segments, and a segment may register in
    several cover cells. Output is sorted by (query, key)."""
    order = np.lexsort((d2, kv, qi))
    q, v, d = qi[order], kv[order], d2[order]
    first = np.ones(len(q), dtype=bool)
    first[1:] = (q[1:] != q[:-1]) | (v[1:] != v[:-1])
    return q[first], v[first], d[first]


def _topk_merge_vals(qi, kv, d2, k):
    """Per-query top-k from (query, key, dist2) triples already reduced
    per key. Sorted merge (lexsort) — the vectorized equivalent of a
    bounded heap; deterministic tie-break on (dist2, key). Returns
    (query, key, dist2, rank)."""
    order = np.lexsort((kv, d2, qi))
    qs, vs, ds = qi[order], kv[order], d2[order]
    first = np.ones(len(qs), dtype=bool)
    first[1:] = qs[1:] != qs[:-1]
    grp_start = np.flatnonzero(first)
    rank = np.arange(len(qs)) - np.repeat(
        grp_start, np.diff(np.append(grp_start, len(qs)))
    )
    keep = rank < k
    return qs[keep], vs[keep], ds[keep], rank[keep]


def _point_seg_dist2(qx, qy, x1, y1, x2, y2):
    """Squared distance point -> segment, clamped projection. Pure
    elementwise float64 (broadcast-safe); op order fixed so the DuckDB
    oracle can reproduce it bit-for-bit."""
    dx = x2 - x1
    dy = y2 - y1
    l2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = ((qx - x1) * dx + (qy - y1) * dy) / l2
    t = np.where(l2 > 0, np.clip(t, 0.0, 1.0), 0.0)
    px = x1 + t * dx
    py = y1 + t * dy
    ex = qx - px
    ey = qy - py
    return ex * ex + ey * ey


def _band_lines(qx, qy, x1, y1, x2, y2, keys, maxd2):
    """Every (query, key) pair within sqrt(maxd2), min squared distance
    per key, over ALL given segments: blocked so each (points x
    segments) temporary stays near 2e7 cells. Pairs outside the band
    drop BEFORE the per-key min-reduce, so its sort sees only band
    pairs; a key with any pair in the band keeps its overall minimum,
    so rows, order and d2 are those of reducing first. Returns
    (query_idx, key, d2), sorted by (query_idx, key) per block."""
    chunk = max(1, int(2e7 / max(len(x1), 1)))
    out_q: list[np.ndarray] = []
    out_k: list[np.ndarray] = []
    out_d: list[np.ndarray] = []
    for s in range(0, len(qx), chunk):
        d2 = _point_seg_dist2(
            qx[s : s + chunk][:, None], qy[s : s + chunk][:, None],
            x1[None, :], y1[None, :], x2[None, :], y2[None, :],
        )
        qi, ti = np.nonzero(d2 <= maxd2)
        rq, rk, rd = _reduce_min_per_key(qi + s, keys[ti], d2[qi, ti])
        out_q.append(rq)
        out_k.append(rk)
        out_d.append(rd)
    return np.concatenate(out_q), np.concatenate(out_k), np.concatenate(out_d)


def _decode_segments(keys_and_wkb):
    """(x1, y1, x2, y2, key) arrays, one entry per line segment of the
    given (key, WKB) rows."""
    x1l, y1l, x2l, y2l, keyl = [], [], [], [], []
    for key, buf in keys_and_wkb:
        for line in wkb.decode_lines(bytes(buf)):
            if len(line) < 2:
                continue
            x1l.append(line[:-1, 0])
            y1l.append(line[:-1, 1])
            x2l.append(line[1:, 0])
            y2l.append(line[1:, 1])
            keyl.append(np.full(len(line) - 1, key, dtype=np.int64))
    if not keyl:
        e = np.empty(0)
        return e, e, e, e, np.empty(0, np.int64)
    return (np.concatenate(x1l), np.concatenate(y1l), np.concatenate(x2l),
            np.concatenate(y2l), np.concatenate(keyl))


@dataclass
class PackedSegmentIndex:
    """Cell-bucketed line segments — the one target index of this
    module. Streets (J5 extension: nearest street, the reference's
    AdresniMista.UliceKod ground truth, gfs/AdresniMista.gfs:69-74, over
    gfs/Ulice.gfs:8-12 geometry) come in through build(); a point layer
    is passed straight to the constructor as (x, y, x, y, keys, res).

    Each segment registers in every cell its bbox intersects (same
    cover idea as the polygon side; a point's bbox is its own cell);
    entries are sorted by cell id so a bucket is one searchsorted range.
    keys repeat per segment — queries reduce to distinct keys via
    min-distance before ranking."""

    x1: np.ndarray  # (S,) float64 segment endpoints
    y1: np.ndarray
    x2: np.ndarray
    y2: np.ndarray
    keys: np.ndarray  # (S,) int64 target key per segment
    res: int
    cell_ids: np.ndarray = field(init=False)  # (E,) int64 sorted cover entries
    seg_idx: np.ndarray = field(init=False)  # (E,) int64 segment per entry

    def __post_init__(self):
        x1, y1, x2, y2 = self.x1, self.y1, self.x2, self.y2
        seg_idx, cell_ids = cells.cover_bboxes(
            np.minimum(x1, x2), np.minimum(y1, y2),
            np.maximum(x1, x2), np.maximum(y1, y2), self.res,
        )
        order = np.argsort(cell_ids, kind="stable")
        self.cell_ids, self.seg_idx = cell_ids[order], seg_idx[order]

    @classmethod
    def build(cls, keys_and_wkb: list[tuple[int, bytes]], res: int) -> "PackedSegmentIndex":
        return cls(*_decode_segments(keys_and_wkb), res)

    def ring_candidates(self, ix: np.ndarray, iy: np.ndarray, r: int):
        """For query grid coords (ix, iy), return (segment, query) index
        arrays for every cover entry in the cells at Chebyshev distance
        exactly r (r=0 → own cell), offset by offset and query by query.
        A segment can appear in several cells; the per-key min-reduce
        collapses duplicates downstream. One searchsorted per ring
        offset, and each bucket range expands by repeat/cumsum as in
        cells.cover_bboxes — no per-query Python."""
        n = np.int64(1) << np.int64(self.res)
        if r == 0:
            offs = [(0, 0)]
        else:
            offs = []
            for d in range(-r, r + 1):
                offs += [(d, -r), (d, r)]
            for d in range(-r + 1, r):
                offs += [(-r, d), (r, d)]
        cand_idx: list[np.ndarray] = []
        cand_q: list[np.ndarray] = []
        for dx, dy in offs:
            cx = ix + dx
            cy = iy + dy
            ok = (cx >= 0) & (cx < n) & (cy >= 0) & (cy < n)
            if not ok.any():
                continue
            cid = (cells.morton_encode(cx[ok], cy[ok]) << np.int64(5)) | np.int64(self.res)
            lo = np.searchsorted(self.cell_ids, cid, side="left")
            counts = np.searchsorted(self.cell_ids, cid, side="right") - lo
            total = int(counts.sum())
            if not total:
                continue
            flat = np.repeat(lo - np.cumsum(counts) + counts, counts) + np.arange(total)
            cand_idx.append(self.seg_idx[flat])
            cand_q.append(np.repeat(np.flatnonzero(ok), counts))
        if not cand_idx:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        return np.concatenate(cand_idx), np.concatenate(cand_q)


# above this many Chebyshev rings the per-ring candidate walk costs more
# than one vectorized scan of every segment — switch to brute force
_RANGE_MAX_RINGS = 64


def range_lines_batch(
    idx: PackedSegmentIndex, qx: np.ndarray, qy: np.ndarray, max_dist: float
):
    """Distance-band (range) join: ALL distinct line keys within
    max_dist of each query point, with the min squared distance per
    key. Ring radius is certified up front — a segment not registered
    within Chebyshev ring r is at distance >= r*guard (same bound the
    kNN expansion uses), so gathering rings 0..R with R*guard >
    max_dist provably covers the band. Returns (query_idx, key, d2).

    Rings are clamped to the grid extent (beyond ring n_grid every cell
    is out of bounds), and when max_dist is large relative to the cell
    size — more than _RANGE_MAX_RINGS rings — the per-ring walk would
    cost O(rings^2) candidate passes, so it falls back to one blocked
    brute-force scan over all segments (same fallback knn_lines_batch
    uses for stragglers)."""
    nq = len(qx)
    if nq == 0 or len(idx.x1) == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.float64)
    ix, iy = cells.lonlat_to_grid(qx, qy, idx.res)
    n_grid = 1 << idx.res
    guard = min(360.0 / n_grid, 180.0 / n_grid)
    rings = min(int(max_dist / guard) + 1, n_grid)
    if rings > _RANGE_MAX_RINGS:
        return _band_lines(
            qx, qy, idx.x1, idx.y1, idx.x2, idx.y2, idx.keys, max_dist * max_dist
        )
    acc_q: list[np.ndarray] = []
    acc_v: list[np.ndarray] = []
    acc_d: list[np.ndarray] = []
    for r in range(rings + 1):
        ti, qpos = idx.ring_candidates(ix, iy, r)
        if len(ti):
            d2 = _point_seg_dist2(
                qx[qpos], qy[qpos], idx.x1[ti], idx.y1[ti], idx.x2[ti], idx.y2[ti]
            )
            acc_q.append(qpos)
            acc_v.append(idx.keys[ti])
            acc_d.append(d2)
    if not acc_q:
        return np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.float64)
    # band filter before the per-key reduce, as in _band_lines
    d2 = np.concatenate(acc_d)
    keep = d2 <= max_dist * max_dist
    return _reduce_min_per_key(np.concatenate(acc_q)[keep], np.concatenate(acc_v)[keep], d2[keep])


def knn_lines_batch(
    idx: PackedSegmentIndex, qx: np.ndarray, qy: np.ndarray, k: int, max_ring: int = 8
):
    """Exact k nearest targets (distinct keys) per query point, for
    line and point (zero-length segment) targets alike. Returns
    (query_idx, key, dist2, rank).

    Rings expand until the kth best distance is certified: a segment
    not registered within Chebyshev ring r has its bbox outside the
    (2r+1)^2 block, so its distance is >= r*guard. Stragglers left
    after max_ring fall back to a blocked brute-force pass over all
    segments; both paths rank by (dist2, key)."""
    nq = len(qx)
    ix, iy = cells.lonlat_to_grid(qx, qy, idx.res)
    n_grid = 1 << idx.res
    guard = min(360.0 / n_grid, 180.0 / n_grid)

    # Running top-k per query, sorted by (query, dist2, key). A key that
    # drops out of it never returns to the final top-k: the kth entry
    # only improves as rings add candidates, and a key's segments in
    # later rings bring their own distances. So each ring reduces just
    # its new candidates plus at most k kept rows per query.
    best_q = np.empty(0, np.int64)
    best_v = np.empty(0, np.int64)
    best_d = np.empty(0, np.float64)
    best_r = np.empty(0, np.int64)
    active = np.arange(nq, dtype=np.int64)
    for r in range(max_ring + 1):
        if len(active) == 0:
            break
        ti, qpos = idx.ring_candidates(ix[active], iy[active], r)
        if len(ti):
            qglob = active[qpos]
            d2 = _point_seg_dist2(
                qx[qglob], qy[qglob], idx.x1[ti], idx.y1[ti], idx.x2[ti], idx.y2[ti]
            )
            best_q, best_v, best_d, best_r = _topk_merge_vals(
                *_reduce_min_per_key(
                    np.concatenate([best_q, qglob]),
                    np.concatenate([best_v, idx.keys[ti]]),
                    np.concatenate([best_d, d2]),
                ),
                k,
            )
        if r >= n_grid:  # every cell searched: each top-k is complete
            active = active[:0]
            break
        kth = np.full(nq, np.inf)  # inf while a query has < k keys
        last = best_r == k - 1
        kth[best_q[last]] = best_d[last]
        active = active[~(np.sqrt(kth[active]) <= r * guard)]

    done = np.ones(nq, dtype=bool)
    done[active] = False
    sel = done[best_q]
    out = [(best_q[sel], best_v[sel], best_d[sel], best_r[sel])]
    chunk = max(1, int(2e7 / max(len(idx.x1), 1)))
    for s in range(0, len(active), chunk):
        a = active[s : s + chunk]
        d2 = _point_seg_dist2(
            qx[a][:, None], qy[a][:, None],
            idx.x1[None, :], idx.y1[None, :], idx.x2[None, :], idx.y2[None, :],
        )
        out.append(_topk_merge_vals(
            *_reduce_min_per_key(np.repeat(a, d2.shape[1]), np.tile(idx.keys, len(a)), d2.ravel()),
            k,
        ))
    return tuple(np.concatenate(c) for c in zip(*out))


def _default_res(n_targets: int) -> int:
    """Index resolution aiming for ~2 targets per cell: 4^res ≈
    n_targets/2, clamped to [3, MAX_RES]."""
    return int(np.clip(np.ceil(np.log2(max(n_targets, 2)) / 2) + 1, 3, cells.MAX_RES))


def _map_points(bc, points_df, lon_col, lat_col, id_col, batch, ranked: bool) -> DataFrame:
    """The broadcast shell of every map-only join here: keep the
    geotagged (id, lon, lat) rows and run `batch(index, qx, qy)` ->
    (query_idx, key, dist2[, rank]) over each Arrow batch against the
    broadcast index `bc` — one pass, zero shuffle on the point side.
    Output: (id_col, neighbor_key, dist2[, rank])."""
    from gdal_vfr_spark.plans.skew import spread_small_input

    fields = [
        points_df.schema[id_col],
        T.StructField("neighbor_key", T.LongType()),
        T.StructField("dist2", T.DoubleType()),
    ]
    if ranked:
        fields.append(T.StructField("rank", T.IntegerType()))
    # round-6: the ring-walk kernel is the whole cost of these joins;
    # spread a few-partition point scan so it runs on every core
    # (no-op on production partition counts)
    src = spread_small_input(
        points_df.select(id_col, lon_col, lat_col).where(
            F.col(lon_col).isNotNull() & F.col(lat_col).isNotNull()
        )
    )

    def _map(batches):
        index: PackedSegmentIndex = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qi, keys, d2, *rank = batch(
                index,
                pdf[lon_col].to_numpy(dtype=np.float64),
                pdf[lat_col].to_numpy(dtype=np.float64),
            )
            out = {id_col: pdf[id_col].to_numpy()[qi], "neighbor_key": keys, "dist2": d2}
            if ranked:
                out["rank"] = rank[0].astype(np.int32)
            yield pd.DataFrame(out)

    return src.mapInPandas(_map, schema=T.StructType(fields))


def _point_segments(rows):
    """(x1, y1, x2, y2, key) arrays of (key, x, y) point rows: each
    point is the zero-length segment (x, y, x, y)."""
    tk = np.asarray([r[0] for r in rows], dtype=np.int64)
    tx = np.asarray([r[1] for r in rows], dtype=np.float64)
    ty = np.asarray([r[2] for r in rows], dtype=np.float64)
    return tx, ty, tx, ty, tk


class LineKNNJoiner:
    """Prepared kNN / distance-band join over a broadcast target index:
    decode + cell cover + broadcast happen ONCE; apply() and
    apply_range() join any number of point batches — the same
    once-per-job vs per-batch split as PIPJoiner (the street layer is a
    dimension table; its prepared index amortizes across batches).

    The constructor takes a line layer (WKB column); from_points() takes a
    point layer (lon/lat columns), packed as zero-length segments. Both
    refuse a layer past BROADCAST_TARGET_BUDGET rows: the partitioned
    range joiners below hold it instead."""

    def __init__(self, targets_df: DataFrame, target_key: str, geom_col: str = "definicni_cara"):
        pruned = targets_df.select(target_key, geom_col).where(F.col(geom_col).isNotNull())
        self._prepare(pruned, "gdal_vfr_spark.geo.knn.PartitionedLineRangeJoiner", _decode_segments)

    @classmethod
    def from_points(
        cls,
        targets_df: DataFrame,
        target_key: str,
        target_lon: str = "lon",
        target_lat: str = "lat",
    ) -> "LineKNNJoiner":
        """The joiner over a POINT target layer: each (lon, lat) target
        is the zero-length segment (x, y, x, y), served by the same
        kernel and broadcast shell as a street."""
        pruned = targets_df.select(target_key, target_lon, target_lat).where(
            F.col(target_lon).isNotNull() & F.col(target_lat).isNotNull()
        )
        obj = cls.__new__(cls)
        obj._prepare(pruned, "gdal_vfr_spark.geo.knn.PartitionedPointRangeJoiner", _point_segments)
        return obj

    def _prepare(self, pruned: DataFrame, partitioned: str, segments) -> None:
        """Budget guard, one collect, `segments(rows)` -> (x1, y1, x2,
        y2, key) packed at the ~2-targets-per-cell res, broadcast."""
        halo._check_broadcast_budget(pruned, BROADCAST_TARGET_BUDGET, partitioned)
        rows = pruned.collect()
        self.index = PackedSegmentIndex(*segments(rows), _default_res(len(rows)))
        self._bc = pruned.sparkSession.sparkContext.broadcast(self.index)

    def apply(
        self,
        points_df: DataFrame,
        k: int,
        lon_col: str = "lon",
        lat_col: str = "lat",
        id_col: str = "url",
    ) -> DataFrame:
        """k nearest targets (distinct keys) per point: (id_col,
        neighbor_key, dist2, rank), map-only over the broadcast index."""
        batch = functools.partial(knn_lines_batch, k=k)
        return _map_points(self._bc, points_df, lon_col, lat_col, id_col, batch, ranked=True)

    def apply_range(
        self,
        points_df: DataFrame,
        max_dist: float,
        lon_col: str = "lon",
        lat_col: str = "lat",
        id_col: str = "url",
    ) -> DataFrame:
        """Distance-band join over the prepared index: every (point,
        line key) pair within max_dist, with the min squared distance.
        Same map-only shape as kNN apply(): broadcast index, one Arrow
        pass, zero shuffle on the point side."""
        batch = functools.partial(range_lines_batch, max_dist=max_dist)
        return _map_points(self._bc, points_df, lon_col, lat_col, id_col, batch, ranked=False)


class _PartitionedRangeJoiner:
    """Shared skeleton of the partitioned distance-band joiners (lines
    and points). Target geometry NEVER reaches the driver and is never
    broadcast:

    1. group table (__grp, __key, <coords>): each target is registered
       in every coarse gres-cell its bbox, inflated by max_dist (the
       HALO), touches (cells.cover_bboxes) — a point is a zero-size
       bbox. A target within max_dist of any point in group G
       is therefore registered in G: candidate completeness holds at
       any gres, and each (point, key) pair is found in exactly one
       group (the point's own). Persisted: this IS the prepared index.
    2. presence set (distinct __grp, one long per group) — the only
       broadcast artifact; points drop map-side when their group holds
       no target (most of the planet, for a street layer).
    3. surviving points shuffle ONCE, keyed by the bucket of their gres
       cell (halo.refine_by_bucket), into one kernel call per bucket
       that runs the blocked _band_lines on each group's slice, reading
       the segment endpoints from the subclass's `_coords` columns (a
       point target's endpoints are (x, y, x, y)).

    gres defaults to halo.default_gres(max_dist) (cell side >=
    16*max_dist); pass gres to tune. A hot group is one slice of one
    bucket's kernel call."""

    _coords: tuple[str, ...] = ()  # group-table x1, y1, x2, y2 columns

    def __init__(self, max_dist: float, gres: int | None):
        self.max_dist = float(max_dist)
        self.gres = halo.default_gres(self.max_dist) if gres is None else gres

    def _index(self, groups: DataFrame) -> None:
        from pyspark.storagelevel import StorageLevel

        self._groups_sdf = groups.persist(StorageLevel.MEMORY_AND_DISK)
        self._present = self._groups_sdf.select("__grp").distinct()

    def apply(
        self,
        points_df: DataFrame,
        lon_col: str = "lon",
        lat_col: str = "lat",
        id_col: str = "url",
    ) -> DataFrame:
        halo.ensure_persisted(self._groups_sdf)
        maxd2 = self.max_dist * self.max_dist
        coords = self._coords
        out_schema = T.StructType(
            [
                points_df.schema[id_col],
                T.StructField("neighbor_key", T.LongType()),
                T.StructField("dist2", T.DoubleType()),
            ]
        )
        src = cells.with_cell(
            points_df.select(id_col, lon_col, lat_col).where(
                F.col(lon_col).isNotNull() & F.col(lat_col).isNotNull()
            ),
            self.gres, lon_col, lat_col, "__grp",
        ).join(F.broadcast(self._present), "__grp", "leftsemi")

        def _refine(pts: pd.DataFrame, tgt: pd.DataFrame) -> pd.DataFrame:
            qx = pts[lon_col].to_numpy(dtype=np.float64)
            qy = pts[lat_col].to_numpy(dtype=np.float64)
            tc = [tgt[c].to_numpy(dtype=np.float64) for c in coords]
            keys = tgt["__key"].to_numpy(dtype=np.int64)
            out_i = [np.empty(0, np.int64)]
            out_k = [np.empty(0, np.int64)]
            out_d = [np.empty(0, np.float64)]
            for qi, ti in halo.group_slices(
                pts["__grp"].to_numpy(dtype=np.int64), tgt["__grp"].to_numpy(dtype=np.int64)
            ):
                rq, rk, rd = _band_lines(qx[qi], qy[qi], *(c[ti] for c in tc), keys[ti], maxd2)
                out_i.append(qi[rq])
                out_k.append(rk)
                out_d.append(rd)
            return pd.DataFrame(
                {
                    id_col: pts[id_col].to_numpy()[np.concatenate(out_i)],
                    "neighbor_key": np.concatenate(out_k),
                    "dist2": np.concatenate(out_d),
                }
            )

        return halo.refine_by_bucket(src, self._groups_sdf, ["__grp"], _refine, out_schema)

    def apply_knn(
        self,
        points_df: DataFrame,
        k: int,
        lon_col: str = "lon",
        lat_col: str = "lat",
        id_col: str = "url",
    ) -> DataFrame:
        """Bounded-radius kNN: the k nearest targets WITHIN max_dist per
        point, with no driver collect of the target side (round-3
        verdict item 3) — apply()'s band, then one rank window per id
        with the engine-wide tie-break (dist2, neighbor_key). Output is
        apply()'s plus a 0-based int `rank`, as LineKNNJoiner.apply.
        The radius bound keeps the refine work per group finite at 10^7+
        targets; unbounded kNN at that scale widens max_dist (a new
        joiner) for the points left with fewer than k rows."""
        from pyspark.sql import Window

        band = self.apply(points_df, lon_col, lat_col, id_col)
        w = Window.partitionBy(id_col).orderBy(F.col("dist2").asc(), F.col("neighbor_key").asc())
        return (
            band.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .withColumn("rank", (F.col("rank") - 1).cast("int"))
        )


class PartitionedLineRangeJoiner(_PartitionedRangeJoiner):
    """Distance-band join for HUGE line layers (street-scale: 10^6-10^8
    segments), where LineKNNJoiner's driver-collect + broadcast index
    stops scaling — the partitioned counterpart to
    pip.PartitionedPIPJoiner, same contract as apply_range.

    Each target row is decoded ONCE in mapInPandas and its segments
    registered (vectorized) with the max_dist halo; the refine computes
    exact clamped-projection distances (_band_lines: blocked numpy, the
    same float64 op order as _point_seg_dist2 everywhere else) and keeps
    the min per (point, key) within the band. See
    _PartitionedRangeJoiner for the shared skeleton."""

    _coords = ("x1", "y1", "x2", "y2")

    def __init__(
        self,
        targets_df: DataFrame,
        target_key: str,
        max_dist: float,
        geom_col: str = "definicni_cara",
        gres: int | None = None,
    ):
        super().__init__(max_dist, gres)
        maxd, gres = self.max_dist, self.gres

        def _groups(batches):
            for pdf in batches:
                x1, y1, x2, y2, keys = _decode_segments(zip(pdf["__key"], pdf["__geom"]))
                if not len(keys):
                    continue
                row, grp = cells.cover_bboxes(
                    np.minimum(x1, x2) - maxd, np.minimum(y1, y2) - maxd,
                    np.maximum(x1, x2) + maxd, np.maximum(y1, y2) + maxd, gres,
                )
                yield pd.DataFrame(
                    {"__grp": grp, "__key": keys[row],
                     "x1": x1[row], "y1": y1[row], "x2": x2[row], "y2": y2[row]}
                )

        segs = targets_df.select(
            F.col(target_key).cast("long").alias("__key"),
            F.col(geom_col).alias("__geom"),
        ).where(F.col(geom_col).isNotNull())
        self._index(segs.mapInPandas(
            _groups, "__grp long, __key long, x1 double, y1 double, x2 double, y2 double"
        ))


class PartitionedPointRangeJoiner(_PartitionedRangeJoiner):
    """Distance-band join for HUGE point target layers (countrywide
    AdresniMista scale: ~3M definition points, gfs/AdresniMista.gfs:
    8-24 x 6,258 OB files in test_suite/db_uksh.txt — past the
    broadcast budget of LineKNNJoiner.points), the point twin of
    PartitionedLineRangeJoiner: a target point is the zero-length
    segment (x, y, x, y) for registration and for the refine, whose
    _band_lines distance is then the exact squared-euclidean one. The
    group table keeps one (x, y) pair per row. See
    _PartitionedRangeJoiner for the shared skeleton; apply_knn() is
    the bounded-radius kNN on top, as for the street layer."""

    _coords = ("x", "y", "x", "y")

    def __init__(
        self,
        targets_df: DataFrame,
        target_key: str,
        max_dist: float,
        target_lon: str = "lon",
        target_lat: str = "lat",
        gres: int | None = None,
    ):
        super().__init__(max_dist, gres)
        maxd, gres = self.max_dist, self.gres

        def _groups(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                x = pdf["x"].to_numpy(dtype=np.float64)
                y = pdf["y"].to_numpy(dtype=np.float64)
                row, grp = cells.cover_bboxes(x - maxd, y - maxd, x + maxd, y + maxd, gres)
                yield pd.DataFrame(
                    {"__grp": grp, "__key": pdf["__key"].to_numpy(dtype=np.int64)[row],
                     "x": x[row], "y": y[row]}
                )

        pts = targets_df.select(
            F.col(target_key).cast("long").alias("__key"),
            F.col(target_lon).cast("double").alias("x"),
            F.col(target_lat).cast("double").alias("y"),
        ).where(F.col(target_lon).isNotNull() & F.col(target_lat).isNotNull())
        self._index(pts.mapInPandas(_groups, "__grp long, __key long, x double, y double"))

