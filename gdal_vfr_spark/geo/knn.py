"""kNN join via k-ring cell expansion + distance-bounded merge (J5).

Not in the reference (SURVEY.md §2.3 J5) — required by the north star:
"kNN via k-ring cell expansion with a distance-bounded heap merge".

Execution shape: the target set (streets / municipality centroids — the
dimension side) is packed into cell-bucketed numpy arrays and broadcast;
the query side maps over Arrow batches with NO shuffle. Inside a batch,
candidates are gathered ring-by-ring with vectorized bucket lookups
(sorted-cell searchsorted, never per-row Python); a point is finished
when its kth distance is within the ring's guarantee radius, and the
few stragglers fall back to a vectorized brute-force pass — so results
are EXACT, not approximate.

Distance: planar squared-euclidean on lon/lat degrees (documented
engine-wide; deterministic — products/sums of float64 only, no libm
trig), ties broken by target key then insertion order.
"""

from __future__ import annotations

from dataclasses import dataclass

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


def _check_broadcast_budget(targets_df: DataFrame, budget: int, partitioned_path: str):
    """Fail fast when a driver-collect joiner is pointed at a layer that
    only the partitioned path can hold (round-3 verdict item 8). The
    count is one job over the (dimension-sized) target projection —
    trivially cheaper than the collect it guards."""
    n = targets_df.count()
    if n > budget:
        raise ValueError(
            f"target layer has {n} rows — beyond the {budget}-row broadcast "
            f"budget for this driver-collect joiner; use {partitioned_path} "
            "(partitioned: targets never reach the driver)"
        )


@dataclass
class PackedPointIndex:
    """Cell-bucketed target points: arrays sorted by cell id so a cell's
    bucket is one searchsorted range."""

    x: np.ndarray  # (N,) float64, sorted by cell
    y: np.ndarray
    keys: np.ndarray  # (N,) int64
    cell_ids: np.ndarray  # (N,) int64 sorted
    res: int

    @classmethod
    def build(cls, x, y, keys, res: int) -> "PackedPointIndex":
        x = np.asarray(x, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        keys = np.asarray(keys, dtype=np.int64)
        cell_ids = cells.cell_encode(x, y, res)
        order = np.lexsort((keys, cell_ids))
        return cls(x[order], y[order], keys[order], cell_ids[order], res)

    def ring_candidates(self, ix: np.ndarray, iy: np.ndarray, r: int):
        """For query grid coords (ix, iy), return ragged candidate index
        lists for all targets in cells at Chebyshev distance exactly r
        (r=0 → own cell). Vectorized: one searchsorted per ring offset."""
        n = np.int64(1) << np.int64(self.res)
        offs = []
        if r == 0:
            offs = [(0, 0)]
        else:
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
            hi = np.searchsorted(self.cell_ids, cid, side="right")
            lens = hi - lo
            nz = lens > 0
            if not nz.any():
                continue
            qidx = np.flatnonzero(ok)[nz]
            starts, counts = lo[nz], lens[nz]
            flat = np.concatenate([np.arange(s, s + c) for s, c in zip(starts, counts)])
            cand_idx.append(flat)
            cand_q.append(np.repeat(qidx, counts))
        if not cand_idx:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        return np.concatenate(cand_idx), np.concatenate(cand_q)


def _topk_merge(qi, ti, d2, keys, k, nq):
    """Per-query top-k from ragged (query, target, dist2) triples.
    Sorted merge (lexsort) — the vectorized equivalent of a bounded
    heap; deterministic tie-break on (dist2, key)."""
    order = np.lexsort((keys[ti], d2, qi))
    qs, ts, ds = qi[order], ti[order], d2[order]
    # rank within query group
    first = np.ones(len(qs), dtype=bool)
    first[1:] = qs[1:] != qs[:-1]
    grp_start = np.flatnonzero(first)
    rank = np.arange(len(qs)) - np.repeat(grp_start, np.diff(np.append(grp_start, len(qs))))
    keep = rank < k
    return qs[keep], ts[keep], ds[keep], rank[keep]


def knn_batch(
    idx: PackedPointIndex, qx: np.ndarray, qy: np.ndarray, k: int, max_ring: int = 8
):
    """Exact kNN of query points against the packed index.

    Returns (query_row, target_key, dist2, rank) arrays. Expands rings
    until the kth best distance is certified ≤ the unsearched region's
    minimum possible distance; remaining points brute-force.
    """
    nq = len(qx)
    ix, iy = cells.lonlat_to_grid(qx, qy, idx.res)
    n_grid = 1 << idx.res
    cell_w = 360.0 / n_grid
    cell_h = 180.0 / n_grid
    guard = min(cell_w, cell_h)

    best_q = np.empty(0, np.int64)
    best_t = np.empty(0, np.int64)
    best_d = np.empty(0, np.float64)
    acc_q: list[np.ndarray] = []
    acc_t: list[np.ndarray] = []
    acc_d: list[np.ndarray] = []
    active = np.arange(nq, dtype=np.int64)
    max_possible_ring = int(np.ceil(n_grid))

    for r in range(0, max_ring + 1):
        if len(active) == 0:
            break
        ti, qpos = idx.ring_candidates(ix[active], iy[active], r)
        if len(ti):
            qglob = active[qpos]
            dx = idx.x[ti] - qx[qglob]
            dy = idx.y[ti] - qy[qglob]
            acc_q.append(qglob)
            acc_t.append(ti)
            acc_d.append(dx * dx + dy * dy)
        # certification: a target beyond ring r is at distance >= r*guard
        if acc_q:
            all_q = np.concatenate(acc_q)
            all_t = np.concatenate(acc_t)
            all_d = np.concatenate(acc_d)
            counts = np.bincount(all_q, minlength=nq)
            # kth distance per active query (inf if < k candidates)
            kth = np.full(nq, np.inf)
            if len(all_q):
                oq, ot, od, orank = _topk_merge(all_q, all_t, all_d, idx.keys, k, nq)
                last = orank == np.minimum(counts[oq] - 1, k - 1)
                kth_vals = od[last]
                kth_q = oq[last]
                kth[kth_q] = np.where(counts[kth_q] >= k, kth_vals, np.inf)
            certified = np.sqrt(kth[active]) <= r * guard
            done = active[certified]
            active = active[~certified]
            if r >= max_ring and len(active):
                break
        if r >= max_possible_ring:
            active = active[:0]
            break

    # finalize ring-certified results
    if acc_q:
        all_q = np.concatenate(acc_q)
        all_t = np.concatenate(acc_t)
        all_d = np.concatenate(acc_d)
        done_mask = np.ones(nq, dtype=bool)
        done_mask[active] = False
        sel = done_mask[all_q]
        best_q, best_t, best_d, best_r = _topk_merge(
            all_q[sel], all_t[sel], all_d[sel], idx.keys, k, nq
        )
    else:
        best_r = np.empty(0, np.int64)

    # brute-force stragglers (uncertified after max_ring)
    if len(active):
        chunk = max(1, int(2e7 / max(len(idx.x), 1)))
        bq, bt, bd, br = [], [], [], []
        for s in range(0, len(active), chunk):
            a = active[s : s + chunk]
            dx = idx.x[None, :] - qx[a][:, None]
            dy = idx.y[None, :] - qy[a][:, None]
            d2 = dx * dx + dy * dy
            kk = min(k, d2.shape[1])
            part = np.argpartition(d2, kk - 1, axis=1)[:, :kk]
            qi = np.repeat(a, kk)
            ti = part.ravel()
            di = d2[np.repeat(np.arange(len(a)), kk), ti]
            q2, t2, d2f, r2 = _topk_merge(qi, ti, di, idx.keys, k, nq)
            bq.append(q2), bt.append(t2), bd.append(d2f), br.append(r2)
        best_q = np.concatenate([best_q] + bq)
        best_t = np.concatenate([best_t] + bt)
        best_d = np.concatenate([best_d] + bd)
        best_r = np.concatenate([best_r] + br)

    return best_q, idx.keys[best_t], best_d, best_r


def _reduce_min_per_key(qi, kv, d2):
    """Collapse (query, key) duplicates keeping the min distance —
    needed for segment targets, where one street contributes many
    segments (and a segment may register in several cover cells)."""
    order = np.lexsort((d2, kv, qi))
    q, v, d = qi[order], kv[order], d2[order]
    first = np.ones(len(q), dtype=bool)
    first[1:] = (q[1:] != q[:-1]) | (v[1:] != v[:-1])
    return q[first], v[first], d[first]


def _topk_merge_vals(qi, kv, d2, k):
    """_topk_merge over key VALUES (already reduced per key) instead of
    target indices."""
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
    segments) temporary stays near 2e7 cells. Returns (query_idx, key,
    d2)."""
    chunk = max(1, int(2e7 / max(len(x1), 1)))
    out_q: list[np.ndarray] = []
    out_k: list[np.ndarray] = []
    out_d: list[np.ndarray] = []
    for s in range(0, len(qx), chunk):
        e = min(s + chunk, len(qx))
        d2 = _point_seg_dist2(
            qx[s:e][:, None], qy[s:e][:, None],
            x1[None, :], y1[None, :], x2[None, :], y2[None, :],
        )
        qi = np.repeat(np.arange(s, e, dtype=np.int64), d2.shape[1])
        rq, rk, rd = _reduce_min_per_key(qi, np.tile(keys, e - s), d2.ravel())
        keep = rd <= maxd2
        out_q.append(rq[keep])
        out_k.append(rk[keep])
        out_d.append(rd[keep])
    return np.concatenate(out_q), np.concatenate(out_k), np.concatenate(out_d)


def _band_points(qx, qy, tx, ty, keys, maxd2):
    """Every (query, target) pair within sqrt(maxd2) with its squared
    euclidean distance, blocked like _band_lines. Returns (query_idx,
    key, d2)."""
    chunk = max(1, int(2e7 / max(len(tx), 1)))
    out_q: list[np.ndarray] = []
    out_k: list[np.ndarray] = []
    out_d: list[np.ndarray] = []
    for s in range(0, len(qx), chunk):
        e = min(s + chunk, len(qx))
        dx = qx[s:e][:, None] - tx[None, :]
        dy = qy[s:e][:, None] - ty[None, :]
        d2 = dx * dx + dy * dy
        qi, ti = np.nonzero(d2 <= maxd2)
        out_q.append(qi + s)
        out_k.append(keys[ti])
        out_d.append(d2[qi, ti])
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
    """Cell-bucketed line segments for point-to-LINE kNN (J5 extension:
    nearest street — the reference's AdresniMista.UliceKod ground truth,
    gfs/AdresniMista.gfs:69-74, over gfs/Ulice.gfs:8-12 geometry).

    Each segment registers in every cell its bbox intersects (same
    cover idea as the polygon side); entries are sorted by cell id so a
    bucket is one searchsorted range. keys repeat per segment — queries
    reduce to distinct keys via min-distance before ranking."""

    x1: np.ndarray  # (S,) float64 segment endpoints
    y1: np.ndarray
    x2: np.ndarray
    y2: np.ndarray
    keys: np.ndarray  # (S,) int64 target key per segment
    cell_ids: np.ndarray  # (E,) int64 sorted cover entries
    seg_idx: np.ndarray  # (E,) int64 segment per entry
    res: int

    @classmethod
    def build(cls, keys_and_wkb: list[tuple[int, bytes]], res: int) -> "PackedSegmentIndex":
        x1, y1, x2, y2, keys = _decode_segments(keys_and_wkb)
        seg_idx, cell_ids = cells.cover_bboxes(
            np.minimum(x1, x2), np.minimum(y1, y2),
            np.maximum(x1, x2), np.maximum(y1, y2), res,
        )
        order = np.argsort(cell_ids, kind="stable")
        return cls(x1, y1, x2, y2, keys, cell_ids[order], seg_idx[order], res)

    # same ring-walk as PackedPointIndex.ring_candidates, over cover
    # entries (a segment can appear in several cells; the per-key
    # min-reduce collapses duplicates downstream)
    def ring_candidates(self, ix: np.ndarray, iy: np.ndarray, r: int):
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
            hi = np.searchsorted(self.cell_ids, cid, side="right")
            lens = hi - lo
            nz = lens > 0
            if not nz.any():
                continue
            qidx = np.flatnonzero(ok)[nz]
            starts, counts = lo[nz], lens[nz]
            flat = np.concatenate([np.arange(s, s + c) for s, c in zip(starts, counts)])
            cand_idx.append(self.seg_idx[flat])
            cand_q.append(np.repeat(qidx, counts))
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
    rq, rv, rd = _reduce_min_per_key(
        np.concatenate(acc_q), np.concatenate(acc_v), np.concatenate(acc_d)
    )
    keep = rd <= max_dist * max_dist
    return rq[keep], rv[keep], rd[keep]


def knn_lines_batch(
    idx: PackedSegmentIndex, qx: np.ndarray, qy: np.ndarray, k: int, max_ring: int = 8
):
    """Exact k nearest LINE targets (distinct keys) per query point.
    Ring expansion with the same certification as knn_batch: a segment
    not registered within Chebyshev ring r has its bbox outside the
    (2r+1)^2 block, so its distance is >= r*guard. Stragglers fall back
    to a blocked brute-force pass over all segments."""
    nq = len(qx)
    ix, iy = cells.lonlat_to_grid(qx, qy, idx.res)
    n_grid = 1 << idx.res
    guard = min(360.0 / n_grid, 180.0 / n_grid)

    acc_q: list[np.ndarray] = []
    acc_v: list[np.ndarray] = []
    acc_d: list[np.ndarray] = []
    active = np.arange(nq, dtype=np.int64)
    max_possible_ring = int(np.ceil(n_grid))
    best = None

    for r in range(0, max_ring + 1):
        if len(active) == 0:
            break
        ti, qpos = idx.ring_candidates(ix[active], iy[active], r)
        if len(ti):
            qglob = active[qpos]
            d2 = _point_seg_dist2(
                qx[qglob], qy[qglob], idx.x1[ti], idx.y1[ti], idx.x2[ti], idx.y2[ti]
            )
            acc_q.append(qglob)
            acc_v.append(idx.keys[ti])
            acc_d.append(d2)
        if acc_q:
            rq, rv, rd = _reduce_min_per_key(
                np.concatenate(acc_q), np.concatenate(acc_v), np.concatenate(acc_d)
            )
            counts = np.bincount(rq, minlength=nq)
            kth = np.full(nq, np.inf)
            if len(rq):
                oq, ov, od, orank = _topk_merge_vals(rq, rv, rd, k)
                last = orank == np.minimum(counts[oq] - 1, k - 1)
                kth[oq[last]] = np.where(counts[oq[last]] >= k, od[last], np.inf)
            certified = np.sqrt(kth[active]) <= r * guard
            active = active[~certified]
            if r >= max_ring and len(active):
                break
        if r >= max_possible_ring:
            active = active[:0]
            break

    out_q = np.empty(0, np.int64)
    out_v = np.empty(0, np.int64)
    out_d = np.empty(0, np.float64)
    out_r = np.empty(0, np.int64)
    if acc_q:
        rq, rv, rd = _reduce_min_per_key(
            np.concatenate(acc_q), np.concatenate(acc_v), np.concatenate(acc_d)
        )
        done_mask = np.ones(nq, dtype=bool)
        done_mask[active] = False
        sel = done_mask[rq]
        out_q, out_v, out_d, out_r = _topk_merge_vals(rq[sel], rv[sel], rd[sel], k)

    if len(active):
        nseg = max(len(idx.x1), 1)
        chunk = max(1, int(2e7 / nseg))
        for s in range(0, len(active), chunk):
            a = active[s : s + chunk]
            d2 = _point_seg_dist2(
                qx[a][:, None], qy[a][:, None],
                idx.x1[None, :], idx.y1[None, :], idx.x2[None, :], idx.y2[None, :],
            )
            qi = np.repeat(a, d2.shape[1])
            kv = np.tile(idx.keys, len(a))
            rq, rv, rd = _reduce_min_per_key(qi, kv, d2.ravel())
            q2, v2, d2f, r2 = _topk_merge_vals(rq, rv, rd, k)
            out_q = np.concatenate([out_q, q2])
            out_v = np.concatenate([out_v, v2])
            out_d = np.concatenate([out_d, d2f])
            out_r = np.concatenate([out_r, r2])

    return out_q, out_v, out_d, out_r


class LineKNNJoiner:
    """Prepared line-kNN join: segment decode + cell cover + broadcast
    happen ONCE; apply() joins any number of point batches — the same
    once-per-job vs per-batch split as PIPJoiner (the street layer is a
    dimension table; its prepared index amortizes across batches)."""

    def __init__(
        self,
        targets_df: DataFrame,
        target_key: str,
        geom_col: str = "definicni_cara",
        res: int | None = None,
        max_broadcast_rows: int = BROADCAST_TARGET_BUDGET,
    ):
        spark = targets_df.sparkSession
        pruned = targets_df.select(target_key, geom_col).where(
            F.col(geom_col).isNotNull()
        )
        _check_broadcast_budget(
            pruned,
            max_broadcast_rows,
            "gdal_vfr_spark.geo.knn.PartitionedLineRangeJoiner",
        )
        rows = pruned.collect()
        pairs = [(int(r[0]), bytes(r[1])) for r in rows]
        if res is None:
            nseg = max(len(pairs), 2)
            res = int(np.clip(np.ceil(np.log2(nseg) / 2) + 1, 3, cells.MAX_RES))
        self.index = PackedSegmentIndex.build(pairs, res)
        self._bc = spark.sparkContext.broadcast(self.index)

    def apply(
        self,
        points_df: DataFrame,
        k: int,
        lon_col: str = "lon",
        lat_col: str = "lat",
        id_col: str = "url",
        max_ring: int = 8,
    ) -> DataFrame:
        bc = self._bc
        id_field = points_df.schema[id_col]
        out_schema = T.StructType(
            [
                id_field,
                T.StructField("neighbor_key", T.LongType()),
                T.StructField("dist2", T.DoubleType()),
                T.StructField("rank", T.IntegerType()),
            ]
        )
        from gdal_vfr_spark.plans.skew import spread_small_input

        # round-6: the ring-walk kernel is the whole cost of this join;
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
                qx = pdf[lon_col].to_numpy(dtype=np.float64)
                qy = pdf[lat_col].to_numpy(dtype=np.float64)
                qi, keys, d2, rank = knn_lines_batch(index, qx, qy, k, max_ring=max_ring)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].to_numpy()[qi],
                        "neighbor_key": keys,
                        "dist2": d2,
                        "rank": rank.astype(np.int32),
                    }
                )

        return src.mapInPandas(_map, schema=out_schema)

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
        bc = self._bc
        id_field = points_df.schema[id_col]
        out_schema = T.StructType(
            [
                id_field,
                T.StructField("neighbor_key", T.LongType()),
                T.StructField("dist2", T.DoubleType()),
            ]
        )
        from gdal_vfr_spark.plans.skew import spread_small_input

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
                qx = pdf[lon_col].to_numpy(dtype=np.float64)
                qy = pdf[lat_col].to_numpy(dtype=np.float64)
                qi, keys, d2 = range_lines_batch(index, qx, qy, max_dist)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].to_numpy()[qi],
                        "neighbor_key": keys,
                        "dist2": d2,
                    }
                )

        return src.mapInPandas(_map, schema=out_schema)


def range_join_lines(
    points_df: DataFrame,
    targets_df: DataFrame,
    max_dist: float,
    target_key: str,
    geom_col: str = "definicni_cara",
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int | None = None,
    id_col: str = "url",
) -> DataFrame:
    """One-shot distance-band join (all lines within max_dist per
    point) over a fresh LineKNNJoiner."""
    joiner = LineKNNJoiner(targets_df, target_key, geom_col, res=res)
    return joiner.apply_range(
        points_df, max_dist, lon_col=lon_col, lat_col=lat_col, id_col=id_col
    )


def knn_join_lines(
    points_df: DataFrame,
    targets_df: DataFrame,
    k: int,
    target_key: str,
    geom_col: str = "definicni_cara",
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int | None = None,
    id_col: str = "url",
    max_ring: int = 8,
) -> DataFrame:
    """k nearest LINE features (streets) per point: (id_col,
    neighbor_key, dist2, rank). One-shot convenience over LineKNNJoiner
    — broadcast packed index, map-only Arrow pass, zero shuffle on the
    point side."""
    joiner = LineKNNJoiner(targets_df, target_key, geom_col, res=res)
    return joiner.apply(
        points_df, k, lon_col=lon_col, lat_col=lat_col, id_col=id_col, max_ring=max_ring
    )


def knn_join(
    points_df: DataFrame,
    targets_df: DataFrame,
    k: int,
    target_key: str,
    target_lon: str = "lon",
    target_lat: str = "lat",
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int | None = None,
    id_col: str = "url",
    max_ring: int = 8,
    max_broadcast_rows: int = BROADCAST_TARGET_BUDGET,
) -> DataFrame:
    """For each point, its k nearest targets: (id_col, neighbor_key,
    dist2, rank). Map-only over the point side; targets broadcast.
    Targets beyond max_broadcast_rows raise — use
    knn_join_points_large / PartitionedPointRangeJoiner for huge point
    dimensions (countrywide AdresniMista scale)."""
    spark = points_df.sparkSession
    pruned = targets_df.select(target_key, target_lon, target_lat).where(
        F.col(target_lon).isNotNull() & F.col(target_lat).isNotNull()
    )
    _check_broadcast_budget(
        pruned, max_broadcast_rows, "gdal_vfr_spark.geo.knn.knn_join_points_large"
    )
    rows = pruned.collect()
    tx = np.asarray([r[1] for r in rows], dtype=np.float64)
    ty = np.asarray([r[2] for r in rows], dtype=np.float64)
    tk = np.asarray([r[0] for r in rows], dtype=np.int64)
    if res is None:
        # aim for ~2 targets per cell: res s.t. 4^res ≈ n_targets/2
        res = int(np.clip(np.ceil(np.log2(max(len(tk), 2)) / 2) + 1, 3, cells.MAX_RES))
    idx = PackedPointIndex.build(tx, ty, tk, res)
    bc = spark.sparkContext.broadcast(idx)

    id_field = points_df.schema[id_col]
    out_schema = T.StructType(
        [
            id_field,
            T.StructField("neighbor_key", T.LongType()),
            T.StructField("dist2", T.DoubleType()),
            T.StructField("rank", T.IntegerType()),
        ]
    )

    from gdal_vfr_spark.plans.skew import spread_small_input

    src = spread_small_input(
        points_df.select(id_col, lon_col, lat_col).where(
            F.col(lon_col).isNotNull() & F.col(lat_col).isNotNull()
        )
    )

    def _map(batches):
        index: PackedPointIndex = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qx = pdf[lon_col].to_numpy(dtype=np.float64)
            qy = pdf[lat_col].to_numpy(dtype=np.float64)
            qi, keys, d2, rank = knn_batch(index, qx, qy, k, max_ring=max_ring)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[qi],
                    "neighbor_key": keys,
                    "dist2": d2,
                    "rank": rank.astype(np.int32),
                }
            )

    return src.mapInPandas(_map, schema=out_schema)


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
       that runs the subclass's blocked `_band` on each group's slice.

    gres defaults to halo.default_gres(max_dist) (cell side >=
    16*max_dist); pass gres to tune. A hot group is one slice of one
    bucket's kernel call."""

    _coords: tuple[str, ...] = ()  # group-table coordinate columns
    _band = None  # (qx, qy, *coords, keys, maxd2) -> (query_idx, key, d2)

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
        band, coords = self._band, self._coords
        out_schema = T.StructType(
            [
                points_df.schema[id_col],
                T.StructField("neighbor_key", T.LongType()),
                T.StructField("dist2", T.DoubleType()),
            ]
        )
        src = (
            points_df.select(id_col, lon_col, lat_col)
            .where(F.col(lon_col).isNotNull() & F.col(lat_col).isNotNull())
            .withColumn("__grp", cells.cell_expr(F.col(lon_col), F.col(lat_col), self.gres))
            .join(F.broadcast(self._present), "__grp", "leftsemi")
        )

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
                rq, rk, rd = band(qx[qi], qy[qi], *(c[ti] for c in tc), keys[ti], maxd2)
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
    _band = staticmethod(_band_lines)

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
    broadcast budget of knn_join), the point twin of
    PartitionedLineRangeJoiner: a target point is a zero-length segment
    for registration, and the refine computes exact squared-euclidean
    distances (_band_points, blocked numpy) within the band. See
    _PartitionedRangeJoiner for the shared skeleton.

    Bounded-radius kNN on top = apply() + a rank window (see
    knn_join_points_large) — the same recipe the street layer uses."""

    _coords = ("x", "y")
    _band = staticmethod(_band_points)

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


def knn_join_points_large(
    points_df: DataFrame,
    targets_df: DataFrame,
    k: int,
    max_dist: float,
    target_key: str,
    target_lon: str = "lon",
    target_lat: str = "lat",
    lon_col: str = "lon",
    lat_col: str = "lat",
    id_col: str = "url",
    joiner: "PartitionedPointRangeJoiner | None" = None,
) -> DataFrame:
    """Bounded-radius kNN against a HUGE point target layer: the k
    nearest targets within max_dist per query point, with no driver
    collect of the target side (round-3 verdict item 3). Band join via
    PartitionedPointRangeJoiner, then a rank window per query id with
    the engine-wide deterministic tie-break (dist2, neighbor_key).
    The radius bound is what keeps the refine work per group finite at
    10^7+ targets; callers needing unbounded kNN at that scale should
    widen max_dist adaptively (double-and-retry on points with < k
    neighbors), each retry reusing the same prepared joiner."""
    from pyspark.sql import Window

    if joiner is None:
        joiner = PartitionedPointRangeJoiner(
            targets_df, target_key, max_dist, target_lon=target_lon, target_lat=target_lat
        )
    band = joiner.apply(points_df, lon_col=lon_col, lat_col=lat_col, id_col=id_col)
    w = Window.partitionBy(id_col).orderBy(F.col("dist2").asc(), F.col("neighbor_key").asc())
    return (
        band.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .withColumn("rank", (F.col("rank") - 1).cast("int"))
    )
