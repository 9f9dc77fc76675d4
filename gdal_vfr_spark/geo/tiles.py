"""Z-order tile keys + raster<->vector tile join (north-star J6).

A tile key is a cell id at a fixed resolution (gdal_vfr_spark.geo.cells
— the id already sorts in Z-order). Materialized as a partition /
clustering column it plays the role Iceberg partition transforms play
at 100 TB: equi-join on tile key replaces any spatial predicate between
rasters and vectors, and Z-order locality keeps neighboring tiles in
neighboring files (the engine's analogue of the reference's gml_id
index, vfr4ogr/vfrpg.py:120-163).

No Iceberg runtime ships in this sandbox, so the writer materializes
Hive-style parquet partitions on a coarse Z-order prefix — the layout
an Iceberg `PARTITIONED BY (tile_prefix)` + `WRITE ORDERED BY tile_key`
table would produce; swap `write_tiled` for `df.writeTo(...)` on a real
cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from gdal_vfr_spark.geo import cells

DEFAULT_TILE_RES = 15


def with_tile_key(
    df: DataFrame,
    res: int = DEFAULT_TILE_RES,
    lon_col: str = "lon",
    lat_col: str = "lat",
    out_col: str = "tile_key",
) -> DataFrame:
    # a tile key is a cell id: cells.with_cell's one SQL select, whose
    # Morton steps Catalyst plans as chained projections inside codegen
    return cells.with_cell(df, res, lon_col, lat_col, out_col)


def tile_prefix_expr(
    tile_col: str = "tile_key", prefix_res: int = 6, tile_res: int = DEFAULT_TILE_RES
):
    """Coarse ancestor of a tile key — the partition column. 4^prefix_res
    directories upper-bounds the partition count; prefix_res=6 → ≤4096
    partitions, sane for both HMS-style listings and Iceberg manifests.
    tile_res is the (table-constant) resolution of tile_col. Written as
    SQL text, like cells.with_cell: one py4j call instead of a dozen."""
    shift = 2 * (tile_res - prefix_res)
    if shift < 0:
        raise ValueError("prefix_res must be coarser than tile_res")
    tile = cells.quote_name(tile_col)
    return F.expr(
        f"CASE WHEN {tile} < 0 THEN -1"
        f" ELSE shiftleft(shiftright(shiftright({tile}, 5), {shift}), 5) | {prefix_res} END"
    )


def write_tiled(
    df: DataFrame,
    path: str,
    res: int = DEFAULT_TILE_RES,
    prefix_res: int = 6,
    lon_col: str = "lon",
    lat_col: str = "lat",
    mode: str = "overwrite",
) -> None:
    """Materialize tile_key + partition by its Z-order prefix, sorting
    rows within each file by tile_key (locality for range scans)."""
    out = with_tile_key(df, res, lon_col, lat_col)
    out = out.withColumn("tile_prefix", tile_prefix_expr("tile_key", prefix_res, tile_res=res))
    (
        out.repartition("tile_prefix")
        .sortWithinPartitions("tile_key")
        .write.mode(mode)
        .partitionBy("tile_prefix")
        .parquet(path)
    )


def read_tiles_bbox(
    spark,
    path: str,
    lon_min: float,
    lat_min: float,
    lon_max: float,
    lat_max: float,
    prefix_res: int = 6,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Partition-pruned bbox scan over a write_tiled layout — the read
    half of the Iceberg-partition-transform story: the bbox's cover
    cells at prefix_res become a STATIC IN-list on the partition column
    (PartitionFilters on the scan — directories outside the bbox are
    never listed or read; asserted in tests/test_tiles.py), and the
    residual row-level bbox predicate pushes to parquet. Half-open
    semantics: [min, max) on both axes. At 100 TB this is the
    difference between scanning the planet and scanning the city."""
    prefixes = [
        int(c)
        for c in cells.cover_bbox(lon_min, lat_min, lon_max, lat_max, prefix_res)
    ]
    df = spark.read.parquet(path)
    return df.where(
        F.col("tile_prefix").isin(prefixes)
        & (F.col(lon_col) >= F.lit(lon_min))
        & (F.col(lon_col) < F.lit(lon_max))
        & (F.col(lat_col) >= F.lit(lat_min))
        & (F.col(lat_col) < F.lit(lat_max))
    )


def tile_join(
    vector_df: DataFrame,
    raster_df: DataFrame,
    res: int = DEFAULT_TILE_RES,
    lon_col: str = "lon",
    lat_col: str = "lat",
    raster_tile_col: str = "tile_key",
    how: str = "inner",
) -> DataFrame:
    """raster<->vector join as a pure equi-join on the tile key.

    The raster side is tile-keyed payload (elevation, population, image
    tile metadata...). Broadcast when small; otherwise both sides are
    already hash-partitioned by the same key, so the shuffle is a
    co-partitioned exchange AQE can skew-split."""
    keyed = with_tile_key(vector_df, res, lon_col, lat_col)
    return keyed.join(raster_df, on=keyed["tile_key"] == raster_df[raster_tile_col], how=how)
