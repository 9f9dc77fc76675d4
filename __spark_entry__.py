"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry runs an engine operator (SURVEY.md §2) on the
driver-provided parquet tables; ``oracle_sql()`` carries the exact
DuckDB twin. Cross-engine exactness rules used throughout:

- Geo columns are DERIVED from ``events`` with pure integer arithmetic
  (identical doubles in both engines); points are constructed to never
  fall on polygon/grid boundaries, so geometric containment (Spark
  side, real PIP machinery) equals floor arithmetic (oracle side).
- Float aggregations go through DECIMAL casts (order-independent exact
  sums), then to double — avoids summation-order divergence.
- Text hashing is md5-hex (both engines agree bit-for-bit); MinHash
  minimizes hex strings lexicographically (order-preserving transform
  of the 128-bit value).
"""

from __future__ import annotations

import functools
import sys
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from gdal_vfr_spark import datagen  # noqa: E402
from gdal_vfr_spark.geo import cells  # noqa: E402
from gdal_vfr_spark.geo.knn import (  # noqa: E402
    LineKNNJoiner,
    PartitionedLineRangeJoiner,
    PartitionedPointRangeJoiner,
)
from gdal_vfr_spark.geo.pip import (  # noqa: E402
    PartitionedPIPJoiner,
    PIPJoiner,
)
from gdal_vfr_spark.duck_sql import (  # noqa: E402
    GEO_SQL,
    ORACLE_OBEC,
    _PAGE_HEAD,
    _PAGE_TAIL,
    _TILE_RES,
    _TX0,
    _TX1,
    _TY0,
    _TY1,
    _DECON_ORACLE,
    _duck_cell,  # perfbench/truth.py imports it from this module
    _duck_cosine_topk_sql,
    _duck_int8_topk_sql,
    _duck_ivf_topk_sql,
    _duck_jaccard_sql,
    _duck_lang_sql,
    _duck_minhash_sql,
    _duck_minhash_star_sql,
    _duck_pagerank_sql,
    _duck_pipeline_sql,
    _duck_points_large_scored_ctes,
    _duck_quality_sql,
    _duck_repetition_sql,
    _duck_semantic_dedup_sql,
    _duck_sig_bands_cte,
    _duck_simhash_sql,
    _duck_srp_near_dup_sql,
    _duck_srp_topk_sql,
    _duck_streets_large_scored_ctes,
    _duck_streets_scored_ctes,
    _duck_text_extract_sql,
    _duck_tile_join_sql,
    _duck_tokens,
)
from gdal_vfr_spark.functions import html_text  # noqa: E402
from gdal_vfr_spark.operators import dedup, similarity, text as text_ops  # noqa: E402
from gdal_vfr_spark.session import ship_package  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # a driver-owned session has not shipped the engine to its
    # executors; every query that reads a table ships it here, once
    # per application
    ship_package(spark)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# round-6: a global-sort range exchange SAMPLES its child to compute
# partition bounds, so the child subtree — everything up to the nearest
# shuffle/materialization boundary, Python kernels and regex chains
# included — executes TWICE (once for the sampler, once for the real
# shuffle write). For queries whose final orderBy sits directly on an
# expensive map-side chain, a lazy localCheckpoint materializes the
# (small) result rows once and lets both the sampler and the exchange
# re-read them (guide §1.2 "don't compute things twice"; measured e.g.
# geo_range_join_large 5.9s -> 3.2s, the refine kernel 2x -> 1x).
# The queries that use it take sort_barrier=True; plan_variants()
# passes False to expose the un-hidden plan to the audit tooling
# (localCheckpoint shows as Scan ExistingRDD).
def _sort_once(df: DataFrame, sort_barrier: bool) -> DataFrame:
    return df.localCheckpoint(eager=False) if sort_barrier else df


# --------------------------------------------------------------------------
# Derived deterministic geotags (engine + oracle twins)
# --------------------------------------------------------------------------
# lon in (14, 15), lat in (49.5, 50.5); odd thousandths => never on the
# 0.1-degree obce grid boundaries; event_id % 20 == 0 => NULL geotag
# (the reference's missing-geometry rows, vfrogr.py:592-598).
# The oracle side is duck_sql.GEO_SQL.


def _geo_projection(e: DataFrame) -> DataFrame:
    """Deterministic geotag synthesis over an events DataFrame — pure
    projections, so it applies identically to batch and streaming
    inputs (q_stream_pip_counts reuses it on a readStream source)."""
    null_geo = (F.col("event_id") % 20) == 0
    lon = F.lit(14.0) + (
        (F.lit(2) * ((F.col("event_id") * 7919) % 500) + 1).cast("double") / F.lit(1000.0)
    )
    lat = F.lit(49.5) + (
        (F.lit(2) * ((F.col("event_id") * 104729) % 500) + 1).cast("double") / F.lit(1000.0)
    )
    return e.select(
        "event_id",
        "event_type",
        "user_id",
        "value",
        F.when(null_geo, F.lit(None).cast("double")).otherwise(lon).alias("lon"),
        F.when(null_geo, F.lit(None).cast("double")).otherwise(lat).alias("lat"),
    )


def _events_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _geo_projection(_read(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Spark query callables
# --------------------------------------------------------------------------

def q_a1_pricing_summary(spark, sf_dir):
    """A1 analogue + TPC-H Q1 shape: per-layer (returnflag/linestatus)
    counts and exact decimal sums (vfrogr.py:409-426 counts)."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_a2_presence(spark, sf_dir):
    """A2 — per-column non-null counts (geometry presence analogue,
    vfrogr.py:745-762) over the derived geo table."""
    g = _events_geo(spark, sf_dir)
    return g.agg(
        F.count("*").alias("n_total"),
        F.count("lon").alias("n_lon"),
        F.count("lat").alias("n_lat"),
    )


def q_a4_null_tally(spark, sf_dir):
    """A4 — missing-geometry tally (vfrogr.py:592-598)."""
    g = _events_geo(spark, sf_dir)
    return g.agg(
        F.sum(F.when(F.col("lon").isNull(), 1).otherwise(0)).alias("n_missing"),
        F.count("*").alias("n_total"),
    )


def q_j1_classify(spark, sf_dir):
    """J1 — upsert classification join (vfrogr.py:793-836)."""
    from gdal_vfr_spark.operators.merge import classify_changes

    orders = _read(spark, sf_dir, "orders")
    current = orders.where(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("gml_id")
    )
    changes = orders.where(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("gml_id")
    )
    return (
        classify_changes(changes, current, key="gml_id")
        .groupBy("action")
        .agg(F.count("*").alias("n"))
        .orderBy("action")
    )


def q_j2_tombstone_anti(spark, sf_dir):
    """J2 — tombstone anti-join delete (vfrogr.py:838-915)."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    tomb = orders.where(
        (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 5 == 0)
    ).select(F.col("o_orderkey").alias("l_orderkey"))
    survivors = li.join(tomb, on="l_orderkey", how="left_anti")
    return survivors.groupBy("l_returnflag").agg(F.count("*").alias("n")).orderBy("l_returnflag")


def q_j3_dedup_window(spark, sf_dir):
    """J3 — duplicate-key dedup via window (vfrogr.py:817-829): first
    event per (user_id, event_type) by (ts, event_id)."""
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    kept = e.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return (
        kept.where(F.col("user_id") < 100)
        .select("user_id", "event_type", F.col("event_id").alias("first_event_id"))
    )


def q_p4_coalesce_chain(spark, sf_dir):
    """P4 — geometry preference fallback chain (vfrogr.py:490-506) over
    three derived columns with distinct null patterns."""
    e = _read(spark, sf_dir, "events")
    g1 = F.when(F.col("event_id") % 3 != 0, F.lit("generalizovana"))
    g2 = F.when(F.col("event_id") % 4 != 0, F.lit("originalni"))
    g3 = F.when(F.col("event_id") % 5 != 0, F.lit("bod"))
    return (
        e.select(F.coalesce(g1, g2, g3).alias("geometry_source"))
        .groupBy("geometry_source")
        .agg(F.count("*").alias("n"))
        .orderBy("geometry_source")
    )


def q_so1_symmetric_diff(spark, sf_dir):
    """SO1 — symmetric set diff (utils.py:108-120): customers with no
    orders vs order-custkeys with no customer row."""
    c = _read(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    o = _read(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k")).distinct()
    only_c = c.exceptAll(o).withColumn("diff", F.lit("+"))
    only_o = o.exceptAll(c).withColumn("diff", F.lit("-"))
    return only_c.unionByName(only_o).orderBy("diff", "k")


def q_sort_topk(spark, sf_dir):
    """§2.5 — top-k with deterministic tie-break (engine extra; absent
    in the reference)."""
    o = _read(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(10)
    )


def q_window_rank(spark, sf_dir):
    """Analytic window: per-customer order sequence (engine extra)."""
    o = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    return (
        o.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("o_custkey") < 50)
        .select("o_custkey", "o_orderkey", "rn")
    )


def q_f_dates(spark, sf_dir):
    """F1/F2/F4 — the reference's date arithmetic (utils.py:122-146):
    last day of previous month + yesterday, per order sample."""
    o = _read(spark, sf_dir, "orders").where(F.col("o_orderkey") % 100 == 0)
    return o.select(
        "o_orderkey",
        F.date_sub(F.to_date(F.date_trunc("MONTH", F.col("o_orderdate"))), 1)
        .cast("timestamp")
        .alias("last_day_prev_month"),
        F.date_sub(F.to_date(F.col("o_orderdate")), 1).cast("timestamp").alias("yesterday"),
    )


def q_f_interval_expand(spark, sf_dir):
    """F3 — date-interval expansion to day list (utils.py:148-176)."""
    o = _read(spark, sf_dir, "orders").where(F.col("o_orderkey") % 500 == 0)
    days = F.sequence(
        F.to_date("o_orderdate"), F.date_add(F.to_date("o_orderdate"), 2)
    )
    return o.select("o_orderkey", F.explode(days).alias("day")).select(
        "o_orderkey", F.col("day").cast("timestamp").alias("day")
    )


def q_f_json_extract(spark, sf_dir):
    """§2.7 json — props JSON field aggregation."""
    e = _read(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count("*").alias("n"))
        .orderBy("event_type")
    )


def q_w_tumbling_hour(spark, sf_dir):
    """Tumbling-window aggregation (batch twin of the streaming path):
    hourly event counts + exact decimal sums."""
    e = _read(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("HOUR", F.col("ts")).alias("hour_ts"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .orderBy("hour_ts", "event_type")
    )


# ------------------------------- spatial ----------------------------------


# Prepared polygon-side joiners, memoized per SparkSession: index
# build + cover + broadcast happen once per job like the reference's
# build-indexes-once import (vfrpg.py:120-163) and the bench's
# make_joiner — queries then measure the per-batch join cost only.
_JOINER_CACHE: dict = {}


def _joiner(spark, name: str, build: Callable[[], object]):
    """The prepared joiner `name` of this SparkSession, built once."""
    key = (spark.sparkContext.applicationId, name)
    if key not in _JOINER_CACHE:
        ship_package(spark)  # the build runs Python workers
        _JOINER_CACHE[key] = build()
    return _JOINER_CACHE[key]


def _obce_joiner(spark):
    return _joiner(spark, "obce", lambda: PIPJoiner(
        datagen.gen_obce(spark), poly_key="kod", geom_col="originalni_hranice", out_key="obec_kod",
    ))


def _ku_joiner(spark):
    return _joiner(spark, "ku", lambda: PIPJoiner(
        datagen.gen_katastralni_uzemi(spark),
        poly_key="kod", geom_col="originalni_hranice", out_key="ku_kod",
    ))


def _parcely_large_joiner(spark):
    return _joiner(spark, "parcely_large", lambda: PartitionedPIPJoiner(
        datagen.gen_parcely_large(spark, n_side=350),
        poly_key="kod", geom_col="originalni_hranice", out_key="parcel_kod",
    ))


def _ulice_joiner(spark):
    return _joiner(
        spark, "ulice", lambda: LineKNNJoiner(datagen.gen_ulice(spark), target_key="kod")
    )


def q_geo_pip_counts(spark, sf_dir):
    """J4 north-star — point-in-polygon page counts per municipality,
    via the REAL cell-cover + winding-refine machinery; oracle = floor
    arithmetic (grid ground truth, SURVEY.md §1.4)."""
    g = _events_geo(spark, sf_dir)
    joined = _obce_joiner(spark).apply(g)
    return joined.groupBy("obec_kod").agg(F.count("*").alias("n_pages")).orderBy("obec_kod")


def q_geo_pip_rows(spark, sf_dir):
    """J4 row-level containment assignments (sampled)."""
    g = _events_geo(spark, sf_dir).where(F.col("event_id") % 10 == 1)
    joined = _obce_joiner(spark).apply(g)
    return joined.select("event_id", "obec_kod")


def q_geo_pip_parcely_large(spark, sf_dir):
    """J4 at PARCEL scale — the round-2 verdict's one remaining
    scale-killer closed: PartitionedPIPJoiner joins sampled pages to a
    122,500-polygon parcel grid (datagen.gen_parcely_large, generated
    distributedly) with NO driver collect of the dimension and NO
    vertex broadcast — distributed cover build (mapInPandas), bounded
    cover broadcast, cogrouped boundary refine. Mirrors the reference's
    biggest layer (Parcely: 3,172 of 3,716 features in
    test_suite/OB_UKSH.xml.gz, SURVEY §5). Oracle = floor arithmetic
    over the same grid; n_side=350 provably keeps the point lattice off
    parcel edges (7*(2j+1) = 20k has no integer solution)."""
    g = _events_geo(spark, sf_dir).where(F.col("event_id") % 3 == 0)
    joined = _parcely_large_joiner(spark).apply(g)
    return (
        joined.groupBy("parcel_kod")
        .agg(F.count("*").alias("n_pages"))
        .orderBy("parcel_kod")
    )


def q_geo_pip_hierarchy_parcel(spark, sf_dir):
    """FK-hierarchy rollup at PARCEL scale (SURVEY §1.4 composed with
    the partitioned path): pages -> parcel via PartitionedPIPJoiner
    (122,500 polygons, no vertex broadcast) -> obec via the integer FK
    the grid construction guarantees (350 parcels per axis = exactly 35
    per obec cell, so parcel (ix, iy) -> obec (ix div 35, iy div 35) is
    the containment FK) -> per-obec page counts. Oracle = the direct
    floor-arithmetic obec assignment — equal BY CONSTRUCTION because
    every parcel nests exactly inside one obec."""
    g = _events_geo(spark, sf_dir).where(F.col("event_id") % 3 == 0)
    joined = _parcely_large_joiner(spark).apply(g)
    return (
        joined.withColumn(
            "obec_kod",
            F.lit(500000)
            + F.expr("((parcel_kod - 50000000) div 350) div 35") * F.lit(10)
            + F.expr("((parcel_kod - 50000000) % 350) div 35"),
        )
        .groupBy("obec_kod")
        .agg(F.count("*").alias("n_pages"))
        .orderBy("obec_kod")
    )


_TILE_STORE: dict = {}


def _tile_store_dir(prefix: str = "gvs_tiles_") -> str:
    """mkdtemp + atexit cleanup: every bench/correctness session would
    otherwise leak a full tiled copy of the geo fixture in /tmp
    (round-3 advice)."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, True)
    return d


def _stage_stream(prefix: str, batches) -> tuple[str, str]:
    """Stage a stream's micro-batches in a fresh _tile_store_dir(prefix):
    each DataFrame of `batches` becomes ONE parquet file
    <dir>/src/0001.parquet, 0002.parquet, ... Names and mtimes both
    increase with the batch number, so a file source's order is the
    batch order. Returns (dir, source dir); the dir's unique basename
    also names the stream's memory sink."""
    import glob
    import shutil

    tmp = _tile_store_dir(prefix=prefix)
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    for i, batch in enumerate(batches, start=1):
        stage = os.path.join(tmp, f"stage{i}")
        batch.coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(src, f"{i:04d}.parquet"))
    return tmp, src


def q_geo_tile_bbox_read(spark, sf_dir):
    """M5 read path — partition-pruned bbox scan over the tile-
    partitioned layout (write_tiled once per session; read_tiles_bbox
    turns the bbox's prefix-res cover cells into a static IN-list on
    the partition column, so directories outside the bbox are never
    read — PartitionFilters asserted in tests/test_tiles.py).
    prefix_res=10 so the 1-degree fixture extent actually spans
    multiple partitions (at the production default 6, 4096 global
    partitions, the whole extent is one directory). Oracle =
    arithmetic bbox filter + direct prefix-res cell assignment (the
    prefix of a res-15 tile IS the res-10 cell, by floor nesting)."""
    from gdal_vfr_spark.geo import tiles

    key = (spark.sparkContext.applicationId, sf_dir)
    path = _TILE_STORE.get(key)
    if path is None:
        path = _tile_store_dir() + "/pages"
        g = _events_geo(spark, sf_dir).where(F.col("lon").isNotNull())
        tiles.write_tiled(g, path, prefix_res=10)
        _TILE_STORE[key] = path
    out = tiles.read_tiles_bbox(spark, path, 14.2, 49.7, 14.6, 50.1, prefix_res=10)
    return (
        out.groupBy(F.col("tile_prefix").cast("long").alias("tile_prefix"))
        .agg(F.count("*").alias("n"))
        .orderBy("tile_prefix")
    )


def q_a2_wkb_validity(spark, sf_dir):
    """A2-adjacent structural geometry validity (the north-star's
    "geometry-validity checks"): obce generalized boundaries with a
    deterministic corruption pattern (kod % 7 == 3 -> truncated WKB
    header) tallied as valid/invalid/null via the vectorized validity
    UDF. Oracle = pure arithmetic over the kod range (the corruption
    and the generator's null pattern are both functions of kod)."""
    ship_package(spark)
    from gdal_vfr_spark.operators import counts as counts_ops

    obce = datagen.gen_obce(spark)
    corrupted = obce.withColumn(
        "generalizovane_hranice",
        F.when(
            F.col("kod") % 7 == 3, F.lit(b"\x01\x03\x00\x00\x00")
        ).otherwise(F.col("generalizovane_hranice")),
    )
    return counts_ops.geometry_validity_stats(corrupted, "generalizovane_hranice")


def q_geo_shape_stats(spark, sf_dir):
    """Per-feature WKB shape statistics (shoelace area, perimeter,
    area-weighted centroid — the OGR_G_Area/Centroid analogue QA pass,
    vectorized Arrow decode, map-only): obce original boundaries plus
    the nullable generalized (2% shrunk) boundaries. Stats are floats,
    so the contract emits FIXED-POINT roundings (e9 area/perimeter,
    e6 centroid) with ~1e6x error margin over float64 noise; the
    oracle recomputes every value in closed form from the generator
    arithmetic (x0 = 14.0 + ix*dx rectangles; shrink 0.02; the
    generalized-null pattern is a function of kod), so a header
    off-by-one, a wrong hole sign, or a centroid normalization bug
    breaks the hash."""
    ship_package(spark)
    from gdal_vfr_spark.operators import counts as counts_ops

    obce = datagen.gen_obce(spark)
    orig = counts_ops.geometry_shape_stats(obce, "originalni_hranice", "kod")
    gen = counts_ops.geometry_shape_stats(
        obce, "generalizovane_hranice", "kod"
    ).select("kod", F.col("area").alias("gen_area"))
    out = orig.join(gen, "kod")
    return out.select(
        "kod",
        F.round(F.col("area") * 1e9).cast("long").alias("area_e9"),
        F.round(F.col("perimeter") * 1e9).cast("long").alias("perim_e9"),
        F.round(F.col("cx") * 1e6).cast("long").alias("cx_e6"),
        F.round(F.col("cy") * 1e6).cast("long").alias("cy_e6"),
        F.round(F.col("gen_area") * 1e9).cast("long").alias("gen_area_e9"),
    ).orderBy("kod")


def _centers_joiner(spark):
    """Point-target kNN joiner over the 10x10 municipality centers."""
    return _joiner(spark, "centers", lambda: LineKNNJoiner.from_points(
        spark.createDataFrame(
            [
                (500000 + iy * 10 + ix, 14.0 + (ix + 0.5) * 0.1, 49.5 + (iy + 0.5) * 0.1)
                for iy in range(10)
                for ix in range(10)
            ],
            "kod long, lon double, lat double",
        ),
        target_key="kod",
    ))


def q_geo_knn(spark, sf_dir):
    """J5 north-star — 3 nearest municipality centers per sampled page
    (k-ring expansion + certified merge); oracle = cross join + rank."""
    g = _events_geo(spark, sf_dir).where(F.col("event_id") % 100 == 1)
    out = _centers_joiner(spark).apply(g, k=3, id_col="event_id")
    return out.select(
        "event_id", F.col("neighbor_key").alias("kod"), (F.col("rank") + 1).cast("long").alias("rank")
    )


def _knn_rows(out: DataFrame) -> DataFrame:
    """(event_id, kod, 1-based rank) rows of a kNN result."""
    return out.select(
        "event_id",
        F.col("neighbor_key").alias("kod"),
        (F.col("rank") + 1).cast("long").alias("rank"),
    ).orderBy("event_id", "rank")


def q_geo_knn_lines(spark, sf_dir):
    """J5 extension — 3 nearest STREETS per sampled page point: real
    point-to-segment distance over gen_ulice's MultiLineString WKB (the
    reference's nearest-street ground truth, AdresniMista.UliceKod FK,
    gfs/AdresniMista.gfs:69-74 over gfs/Ulice.gfs:8-12 geometry). The
    oracle regenerates the street endpoints arithmetically (bit-equal
    doubles) and ranks by the same clamped-projection distance in the
    same float64 op order."""
    g = _events_geo(spark, sf_dir).where(F.col("event_id") % 100 == 1)
    out = _ulice_joiner(spark).apply(g, k=3, id_col="event_id")
    # (round-6 measured negative result: a pre-sort localCheckpoint
    # barrier here was +0.1s — the kernel reads from a reusable
    # shuffle, so the sort sampler's re-run is already cheap)
    return _knn_rows(out)


def q_geo_range_join(spark, sf_dir):
    """Distance-band join — every street within 0.01 deg of each
    sampled page point (the third spatial-join flavor next to PIP and
    kNN). Certified ring cover over the same broadcast segment index;
    oracle = the same clamped-projection distance vs the same literal
    threshold, so the pair set and the d2 values are bit-equal."""
    g = _events_geo(spark, sf_dir).where(F.col("event_id") % 100 == 1)
    out = _ulice_joiner(spark).apply_range(g, max_dist=0.01, id_col="event_id")
    return out.select(
        "event_id", F.col("neighbor_key").alias("kod"), "dist2"
    ).orderBy("event_id", "kod")


def q_a2_wkb_presence(spark, sf_dir):
    """A2 over the REAL multi-geometry WKB columns (gfs/Obce.gfs:8-24
    analogue, vfrogr.py:745-762): per-geometry-column non-null counts on
    gen_obce's three binary columns. The generalizovane null pattern is
    a deterministic function of kod, so the oracle recomputes presence
    from pure arithmetic — this also regression-guards the explicit
    fixture schemas in Arrow-off sessions (round-1 crash path)."""
    from gdal_vfr_spark.operators import counts as counts_ops

    obce = datagen.gen_obce(spark)
    return counts_ops.geometry_presence(
        obce, ["definicni_bod", "originalni_hranice", "generalizovane_hranice"]
    )


def q_p4_wkb_coalesce(spark, sf_dir):
    """P4 over the REAL WKB columns: the reference's fallback chain
    (vfrogr.py:490-506) on actual binary geometry — per obec, which
    source column the coalesce picked (binary equality against the
    sources) plus the coalesced WKB byte length."""
    from gdal_vfr_spark.operators import projections

    obce = datagen.gen_obce(spark)
    g = projections.geometry_coalesce(obce, drop_sources=False)
    return g.select(
        "kod",
        F.when(
            F.col("geometry") == F.col("generalizovane_hranice"),
            F.lit("generalizovane_hranice"),
        )
        .otherwise(F.lit("originalni_hranice"))
        .alias("src"),
        F.length("geometry").alias("geom_len"),
    ).orderBy("kod")


def q_geo_tile_counts(spark, sf_dir):
    """J6 north-star — Z-order tile assignment (res 12) counts; oracle
    recomputes the Morton interleave in SQL bit ops."""
    g = _events_geo(spark, sf_dir)
    return (
        cells.with_cell(g, 12, out_col="tile_key")
        .groupBy("tile_key")
        .agg(F.count("*").alias("n"))
        .orderBy("tile_key")
    )


def q_a3_change_tally(spark, sf_dir):
    """A3 — added/updated/deleted per layer after a change pass
    (vfrogr.py:617-627), via operators.counts.change_tally."""
    from gdal_vfr_spark.operators import counts as counts_ops

    o = _read(spark, sf_dir, "orders")
    changes = o.select(
        F.col("o_orderstatus").alias("layer"),
        F.element_at(
            F.array(F.lit("add"), F.lit("update"), F.lit("delete")),
            (F.col("o_orderkey") % 3 + 1).cast("int"),
        ).alias("action"),
    )
    return counts_ops.change_tally(changes).orderBy("layer", "action")


def q_p1_layer_select(spark, sf_dir):
    """P1 — `--layer a,b` restriction as a partition-prunable isin
    predicate (parse.py:69-72, vfrogr.py:464-466)."""
    from gdal_vfr_spark.operators import projections

    e = _read(spark, sf_dir, "events").withColumnRenamed("event_type", "layer")
    return (
        projections.select_layers(e, ["click", "view"])
        .groupBy("layer")
        .agg(F.count("*").alias("n"))
        .orderBy("layer")
    )


def q_p5_list_downgrade(spark, sf_dir):
    """P5 — Shapefile-style list->string downgrade (vfrogr.py:723-729):
    array columns become joined strings on export."""
    from gdal_vfr_spark.operators import projections

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", F.slice(F.split(F.lower("text"), "[^a-z0-9]+"), 1, 3).alias("head_tokens")
    )
    return projections.stringify_lists_for_export(docs).orderBy("doc_id")


def q_p6_align_schema(spark, sf_dir):
    """P6 — positional field-map projection (SetFromWithMap,
    vfrogr.py:553,:586): schema alignment by explicit column order."""
    from gdal_vfr_spark.operators import projections

    e = _read(spark, sf_dir, "events")
    return projections.align_schema(
        e.where(F.col("event_id") % 250 == 0), ["event_type", "event_id", "user_id"]
    ).orderBy("event_id")


def q_f9_dsn_extract(spark, sf_dir):
    """F9 — DSN extraction (vfr2pg PG connection strings): synthesize
    'PG:dbname=... host=... port=... user=...' strings (user omitted on
    every other row -> NULL), parse with sources.manifest.parse_dsn
    (pure Catalyst regexp_extract). The oracle reconstructs the parsed
    fields ARITHMETICALLY — independent derivation, not the same regex
    on both sides."""
    from gdal_vfr_spark.sources.manifest import parse_dsn

    o = _read(spark, sf_dir, "orders").where(F.col("o_orderkey") % 100 == 3)
    user_part = F.when(
        F.col("o_orderkey") % 2 == 0,
        F.concat(F.lit(" user=u"), (F.col("o_orderkey") % 7).cast("string")),
    ).otherwise(F.lit(""))
    dsn = F.concat(
        F.lit("PG:dbname=vfr_"),
        F.lower("o_orderstatus"),
        F.lit(" host=db"),
        (F.col("o_orderkey") % 5).cast("string"),
        F.lit(" port=543"),
        (F.col("o_orderkey") % 3).cast("string"),
        user_part,
    )
    d = o.select(F.col("o_orderkey").alias("key"), dsn.alias("dsn"))
    return parse_dsn(d).select(
        "key", "driver", "dbname", "host", "port", "user"
    ).orderBy("key")


def q_s4_formats(spark, sf_dir):
    """S4 — writable-format introspection (utils.py:26-43). The list is
    a contract constant, so the oracle pins it with a VALUES literal —
    a schema/inventory check, not a computation check."""
    from gdal_vfr_spark.operators.export import list_formats

    return spark.createDataFrame([(f,) for f in list_formats(spark)], "format string").orderBy(
        "format"
    )


def q_f7_regex_extract(spark, sf_dir):
    """F7 — 8-digit date extraction from VFR-style file names
    (vfrogr.py:336), on synthesized batch names."""
    e = _read(spark, sf_dir, "events")
    fname = F.concat(
        F.lit("OB_"),
        (F.col("event_id") % 997).cast("string"),
        F.lit("_UKSH_2024"),
        F.lpad(((F.col("event_id") % 12) + 1).cast("string"), 2, "0"),
        F.lit("15.xml.gz"),
    )
    return (
        e.select(F.regexp_extract(fname, r"(\d{8})", 1).alias("batch_date"))
        .groupBy("batch_date")
        .agg(F.count("*").alias("n"))
        .orderBy("batch_date")
    )


def _batch_name_expr():
    """Shared synthesis for the M1/S6 contract queries: a deterministic
    VFR-style batch file name per order key. key%3==0 -> a change file
    (ST_ZKSH), key%3==1 -> a per-obec full dump, else an ST full dump."""
    key = F.col("o_orderkey")
    mid = (
        F.when(key % 3 == 0, F.lit("ST_ZKSH"))
        .when(key % 3 == 1, F.concat(F.lit("OB_"), (key % 97).cast("string"), F.lit("_UKSH")))
        .otherwise(F.lit("ST_UKSH"))
    )
    return F.concat(F.lit("/data/20240630_"), mid, F.lit(".xml.gz"))


_BATCH_NAME_SQL = """'/data/20240630_' ||
      CASE WHEN o_orderkey % 3 = 0 THEN 'ST_ZKSH'
           WHEN o_orderkey % 3 = 1 THEN 'OB_' || CAST(o_orderkey % 97 AS VARCHAR) || '_UKSH'
           ELSE 'ST_UKSH' END || '.xml.gz'"""


def q_m1_mode_dispatch(spark, sf_dir):
    """M1 — mode dispatch (vfrogr.py:992-1003) over a synthesized batch
    manifest, via decide_mode_expr (the one M1 pattern as `rlike`):
    `*_Z*` batches => change; the append flag (key%5==3 here — keys are
    ≡3 mod 50, so %5==0 would be a dead branch) => append; else write. The
    oracle re-derives the mode ARITHMETICALLY from the synthesis rule —
    independent derivation, not the same string parse on both sides."""
    from gdal_vfr_spark.operators.merge import decide_mode_expr

    o = _read(spark, sf_dir, "orders").where(F.col("o_orderkey") % 50 == 3)
    return o.select(
        F.col("o_orderkey").alias("key"),
        _batch_name_expr().alias("batch_name"),
        decide_mode_expr(_batch_name_expr(), F.col("o_orderkey") % 5 == 3).alias("mode"),
    ).orderBy("key")


def q_s6_sink_toggles(spark, sf_dir):
    """S6 — PostGIS sink specifics as session constants/columns: the
    per-batch PG_USE_COPY toggle (change=>'NO' because merge needs
    inserts, append=>'YES' forcing COPY, write=>NULL — vfrogr.py:
    996-1003) and the EPSG:5514 registration constant (vfrpg.py:
    99-118). Composes decide_mode_expr -> bulk_copy_toggle_expr."""
    from gdal_vfr_spark.operators.merge import bulk_copy_toggle_expr, decide_mode_expr
    from gdal_vfr_spark.session import EPSG_SJTSK

    o = _read(spark, sf_dir, "orders").where(F.col("o_orderkey") % 50 == 3)
    mode = decide_mode_expr(_batch_name_expr(), F.col("o_orderkey") % 5 == 3)
    return o.select(
        F.col("o_orderkey").alias("key"),
        mode.alias("mode"),
        bulk_copy_toggle_expr(mode).alias("pg_use_copy"),
        F.lit(EPSG_SJTSK).cast("long").alias("srs_epsg"),
    ).orderBy("key")


def q_s2_retry_plan(spark, sf_dir):
    """S2 — the HTTP source's date-retry semantics (vfrogr.py:260-281)
    as a declarative manifest expansion: full dumps try dates d..d+3
    (CUZK publishes on the last day of the month but slips by up to 3
    days), `ST_Z*` change files get exactly one attempt. Also exercises
    F8 extension dispatch (file_name_expr): UVOH => specialni/.xml.zip,
    else soucasna/.xml.gz. The oracle re-derives attempts, dates and
    names arithmetically."""
    from gdal_vfr_spark.sources.manifest import retry_plan

    o = _read(spark, sf_dir, "orders").where(F.col("o_orderkey") % 100 == 11)
    key = F.col("o_orderkey")
    vfr_type = (
        F.when(key % 4 == 0, F.lit("ST_ZKSH"))
        .when(key % 4 == 1, F.lit("ST_UKSH"))
        .when(key % 4 == 2, F.lit("OB_530743_UKSH"))
        .otherwise(F.lit("ST_UVOH"))
    )
    base = F.date_sub(F.to_date(F.date_trunc("MONTH", F.col("o_orderdate"))), 1)
    d = o.select(key.alias("key"), vfr_type.alias("vfr_type"), base.alias("base_date"))
    return (
        retry_plan(d, type_col="vfr_type", date_col="base_date")
        .select(
            "key",
            "vfr_type",
            F.col("attempt").cast("long").alias("attempt"),
            F.col("candidate_date").cast("timestamp").alias("candidate_date"),
            "candidate_name",
        )
        .orderBy("key", "attempt")
    )


def q_s7_export_fanout(spark, sf_dir):
    """S7 + S8 — per-geometry-column export fan-out (pg2ogr.py:80-82)
    with nogeomskip (:133-153) and the empty-layer drop (:229-240),
    driven END-TO-END: export_layers writes one dataset per geometry
    column to a scratch dir, drops the empty one, and the query reads
    the surviving datasets BACK FROM DISK — so the result certifies the
    write path, the null-geometry skip and the S8 delete, not just the
    counts. g_point is NULL for key%3==0 (skipped rows); g_line is all
    NULL, so its output is dropped entirely."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from gdal_vfr_spark.operators.export import export_layers

    o = _read(spark, sf_dir, "orders").where(F.col("o_orderkey") % 20 == 7)
    key = F.col("o_orderkey")
    df = o.select(
        key.alias("key"),
        F.col("o_orderstatus").alias("status"),
        F.when(key % 3 != 0, F.unhex(F.md5(key.cast("string")))).alias("g_point"),
        F.lit(None).cast("binary").alias("g_line"),
    )
    out_dir = _tile_store_dir(prefix="gvs_export_")
    export_layers(df, "Orders", ["g_point", "g_line"], out_dir, nogeomskip=True)
    rows = []
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if os.path.isdir(path):
            rows.append((name, spark.read.parquet(path).count()))
    schema = StructType(
        [StructField("output_name", StringType()), StructField("n_rows", LongType())]
    )
    return spark.createDataFrame(rows, schema).orderBy("output_name")


def q_p7_layer_names(spark, sf_dir):
    """P7 + F6 — output table naming (vfrogr.py:460-462,:976-978) via
    layer_output_name_expr: lowercase; `schema.name`
    when a schema is set; `vfr_` prefix when the schema starts with a
    digit (PG schema names cannot). The oracle re-derives the names
    from the synthesis arithmetic."""
    from gdal_vfr_spark.operators.projections import layer_output_name_expr

    o = _read(spark, sf_dir, "orders").where(F.col("o_orderkey") % 40 == 9)
    key = F.col("o_orderkey")
    name = F.concat(F.lit("StavebniObjekty_"), (key % 97).cast("string"))
    schema = (
        F.when(key % 3 == 0, F.concat((key % 10).cast("string"), F.lit("0_ob")))
        .when(key % 3 == 1, F.lit("RUIAN_Main"))
        .otherwise(F.lit(None).cast("string"))
    )
    return o.select(
        key.alias("key"),
        layer_output_name_expr(name, schema).alias("output_name"),
    ).orderBy("key")


def q_m2_forced_drop(spark, sf_dir):
    """M2 — overwrite + the forced drop list (vfrogr.py:440-444,
    _delete_layer :665-678): only an ST overwrite force-drops, and only
    the four OB-only layers (ulice, parcely, stavebniobjekty,
    adresnimista) that an ST batch never repopulates."""
    from gdal_vfr_spark.operators.merge import forced_drop_expr

    o = _read(spark, sf_dir, "orders").where(F.col("o_orderkey") % 30 == 4)
    key = F.col("o_orderkey")
    layers = ["Ulice", "Parcely", "StavebniObjekty", "AdresniMista", "Obce", "Okresy"]
    layer = F.element_at(F.array(*[F.lit(x) for x in layers]), (key % 6 + 1).cast("int"))
    vfr_type = F.when(key % 2 == 0, F.lit("ST_UKSH")).otherwise(F.lit("OB_500011_UKSH"))
    return o.select(
        key.alias("key"),
        layer.alias("layer"),
        vfr_type.alias("vfr_type"),
        forced_drop_expr(layer, vfr_type, key % 3 == 0).alias("dropped"),
    ).orderBy("key")


_M4_STORE: dict = {}


def q_m4_schema_per_file(spark, sf_dir):
    """M4 — schema-per-file partitioning (vfrogr.py:969-990): each
    batch lands under its own partition (the engine's batch_id column =
    the reference's per-file PG schema), and a per-batch read is
    partition-PRUNED, never a full scan (PartitionFilters asserted in
    tests/test_merge.py). The query writes the partitioned layout once
    per session, reads two of the four batches back through the pruned
    path, and aggregates — the oracle recomputes from the base table."""
    key_expr = F.col("o_orderkey")
    store_key = (spark.sparkContext.applicationId, sf_dir, "m4")
    path = _M4_STORE.get(store_key)
    if path is None:
        path = _tile_store_dir(prefix="gvs_m4_") + "/orders_by_batch"
        o = _read(spark, sf_dir, "orders").where(key_expr % 10 < 4)
        batch = F.concat(F.lit("vfr_20240630_ob_"), (key_expr % 4).cast("string"))
        o.select(
            key_expr.alias("key"), batch.alias("batch_id")
        ).write.partitionBy("batch_id").parquet(path)
        _M4_STORE[store_key] = path
    back = spark.read.parquet(path).where(
        F.col("batch_id").isin("vfr_20240630_ob_1", "vfr_20240630_ob_2")
    )
    return (
        back.groupBy("batch_id")
        .agg(F.count("*").alias("n"), F.sum("key").alias("sum_key"))
        .orderBy("batch_id")
    )


def q_stream_change_merge(spark, sf_dir):
    """§2.10 — M3 worn as Structured Streaming: Trigger.AvailableNow
    over a change-file directory, one MERGE per file (foreachBatch),
    maxFilesPerTrigger=1 preserving the reference's per-file apply
    order (vfrogr.py:934-1025). Two change batches: batch 2 overrides
    batch 1 per key (last writer wins) — final per-status counts have
    an exact SQL twin."""
    from gdal_vfr_spark.streaming.incremental import change_stream_merge

    o = _read(spark, sf_dir, "orders")
    c1 = o.where(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("gml_id"), F.col("o_orderstatus").alias("status")
    )
    c2 = o.where(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").alias("gml_id"), F.lit("X2").alias("status")
    )
    # the file source's order is the reference's apply order
    tmp, chg = _stage_stream("gvs_stream_", (c1, c2))
    table = change_stream_merge(
        spark,
        chg,
        schema=c1.schema,
        target_path=os.path.join(tmp, "target"),
        checkpoint_dir=os.path.join(tmp, "ckpt"),
        key="gml_id",
    )
    return (
        table.read().groupBy("status").agg(F.count("*").alias("n")).orderBy("status")
    )


def q_stream_dedup(spark, sf_dir):
    """§2.10 + dedup family — STATEFUL streaming exact-dedup
    (applyInPandasWithState): the document stream arrives as two files
    (originals, then +1000-id copies of every text); the state layer
    must emit each content hash exactly once, suppressing the entire
    second batch. Exact oracle: min doc_id per md5 over the unioned
    stream input."""
    from gdal_vfr_spark.streaming.incremental import streaming_exact_dedup

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    tmp, src = _stage_stream("gvs_sdedup_", (docs, dups))
    out = streaming_exact_dedup(
        spark,
        src,
        schema=docs.schema,
        checkpoint_dir=os.path.join(tmp, "ckpt"),
        out_table=os.path.basename(tmp),
    )
    return out.orderBy("doc_id")


def q_stream_minhash_dedup(spark, sf_dir):
    """§2.10 + near-dup family — STATEFUL streaming MinHash/LSH
    near-dup (applyInPandasWithState keyed by band key, the streaming
    twin of dedup_incremental's near path): micro-batch 1 carries the
    historical corpus (doc_id % 3 != 0), micro-batch 2 the new batch;
    per band key the state layer remembers the smallest id seen, and
    the per-doc verdict is any-band-collided. Exact oracle: the same
    signatures/bands regenerated in SQL with earlier = (earlier batch,
    or smaller id in the same batch)."""
    from gdal_vfr_spark.streaming.incremental import streaming_minhash_dedup

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    hist = docs.where(F.col("doc_id") % 3 != 0)
    batch = docs.where(F.col("doc_id") % 3 == 0)
    tmp, src = _stage_stream("gvs_sminh_", (hist, batch))
    out = streaming_minhash_dedup(
        spark,
        src,
        schema=docs.schema,
        checkpoint_dir=os.path.join(tmp, "ckpt"),
        out_table=os.path.basename(tmp),
    )
    return out.orderBy("doc_id")


_STTL_BASE_US = 1704067200000000  # 2024-01-01 UTC in microseconds
_STTL_BATCH_US = 10 * 86400 * 1_000_000  # 10-day terciles
_STTL_TTL_MS = 5 * 86400 * 1000  # 5-day state TTL


def q_stream_first_per_ttl(spark, sf_dir):
    """§2.10 — streaming keyed throttle with EVENT-TIME STATE EXPIRY
    (applyInPandasWithState + GroupStateTimeout.EventTimeTimeout, the
    bounded-state form of streaming dedup): events arrive in three
    10-day micro-batches; each user's first event emits, later events
    are suppressed while the state lives, and a state whose user sent
    nothing in batch 2 EXPIRES there if the watermark passed its
    emission + 5-day TTL — that user's batch-3 event emits AGAIN.
    Exact oracle: the watermark/timeout recurrence unrolled over the
    three batches at Spark's millisecond precision."""
    from gdal_vfr_spark.streaming.incremental import streaming_first_per_ttl

    events = _read(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    # parquet timestamps read as TIMESTAMP_NTZ; the session is pinned
    # UTC so the cast is the identity wall-clock mapping
    tercile = F.expr(
        f"least((unix_micros(cast(ts as timestamp)) - {_STTL_BASE_US})"
        f" div {_STTL_BATCH_US}, 2)"
    )
    tmp, src = _stage_stream("gvs_sttl_", [events.where(tercile == i) for i in range(3)])
    out = streaming_first_per_ttl(
        spark,
        src,
        schema=events.schema,
        checkpoint_dir=os.path.join(tmp, "ckpt"),
        out_table=os.path.basename(tmp),
        ttl_ms=_STTL_TTL_MS,
    )
    return out.orderBy("user_id", "emit_ms")


def q_stream_decontaminate(spark, sf_dir):
    """§2.10 + decontamination worn as Structured Streaming: the corpus
    arrives as two parquet files (doc_id halves, one per micro-batch);
    the benchmark shingle-hash set is static and broadcast into every
    micro-batch (stream-static join). Complete-mode counts equal the
    batch dedup_decontaminate over the same input — the oracle IS the
    batch twin's SQL."""
    from gdal_vfr_spark.streaming.incremental import streaming_decontaminate

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 50 == 7).select(
        F.substring("text", 10, 200).alias("text")
    )
    halves = (docs.where(F.col("doc_id") % 2 == 0), docs.where(F.col("doc_id") % 2 == 1))
    tmp, src = _stage_stream("gvs_sdecon_", halves)
    out = streaming_decontaminate(
        spark,
        src,
        schema=docs.schema,
        checkpoint_dir=os.path.join(tmp, "ckpt"),
        out_table=os.path.basename(tmp),
        bench_df=bench,
    )
    return out.orderBy("doc_id")


def q_stream_window_counts(spark, sf_dir):
    """§2.10 — watermarked tumbling-window aggregation as Structured
    Streaming: AvailableNow over the events file (file source + glob),
    2h watermark, 1h tumbling windows. With all data available the
    watermark drops nothing, so the final complete-mode result equals
    the batch w_tumbling_hour — an exact oracle for the streaming path."""
    from gdal_vfr_spark.streaming.incremental import windowed_event_counts

    batch_schema = _read(spark, sf_dir, "events").schema
    stream = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    name = os.path.basename(_tile_store_dir(prefix="gvs_wstream_"))
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        F.col("window_start").alias("hour_ts"), "event_type", "n", "sum_value"
    ).orderBy("hour_ts", "event_type")


def q_stream_pip_counts(spark, sf_dir):
    """The J4 north-star operator under Structured Streaming: the SAME
    PIPJoiner (broadcast cell-cover join + Arrow winding refine) is
    map-side only, so it applies unchanged to a readStream source;
    per-obec counts aggregate across micro-batches in complete mode.
    With all files available the final table equals the batch
    geo_pip_counts — the exact oracle for the streaming spatial path."""
    batch_schema = _read(spark, sf_dir, "events").schema
    stream = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    joined = _obce_joiner(spark).apply(_geo_projection(stream))
    agg = joined.groupBy("obec_kod").agg(F.count("*").alias("n_pages"))
    name = os.path.basename(_tile_store_dir(prefix="gvs_pipstream_"))
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).orderBy("obec_kod")


def q_skew_salted_count(spark, sf_dir):
    """§4 item 2 — two-phase salted aggregation: partial count per
    (key, salt) then final sum; identical to a direct groupBy count
    (the oracle), with the hot key fanned over 8 reducers."""
    from gdal_vfr_spark.operators.counts import salted_count

    e = _read(spark, sf_dir, "events")
    return salted_count(e, "event_type", n_salt=8, salt_src="event_id").orderBy("event_type")


def q_skew_salted_join(spark, sf_dir):
    """§4 item 2 — hot-only salted equi-join: key 0 carries ~half the
    fact rows; its fact rows are salted across 8 reducers and ONLY the
    hot dim rows replicate (SURVEY.md §7.3). Result identical to the
    plain join (the oracle)."""
    from gdal_vfr_spark.plans import skew

    e = _read(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("user_id") % 10 < 5, F.lit(0))
        .otherwise(F.col("user_id"))
        .cast("long")
        .alias("k"),
    )
    dim = e.select("k").distinct().withColumn("zone", F.pmod(F.col("k"), F.lit(7)))
    out = skew.salted_equi_join(
        e, dim, on="k", n_salt=8, fact_stable_col="event_id", hot_only=[0]
    )
    return out.groupBy("zone").agg(F.count("*").alias("n")).orderBy("zone")


# ------------------------------ dedup/text --------------------------------


def q_dedup_exact(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs).orderBy("doc_id")


def q_dedup_minhash_lsh(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=8).orderBy("id_a", "id_b")


def q_dedup_lsh_star(spark, sf_dir):
    """minhash_lsh_pairs with the hot-bucket cap (max_bucket=8): band
    buckets up to 8 members emit exact all-pairs, larger ones emit
    component-preserving star pairs to the bucket-min doc — the O(B)
    escape from the band self-join's O(B^2) blowup on boilerplate
    template clusters (reference ground: J3's duplicate-key collapse,
    vfrogr.py:817-829, re-expressed for web-corpus skew). At sf0.01 the
    fixture has 38 buckets over the cap and 2,015 under it, so BOTH
    branches are oracle-checked."""
    docs = _read(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, num_hashes=16, bands=8, max_bucket=8
    ).orderBy("id_a", "id_b")


def q_dedup_ngram_jaccard(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=8).select("id_a", "id_b")
    return dedup.ngram_jaccard_pairs(docs, pairs).orderBy("id_a", "id_b")


def q_dedup_simhash(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    toks_nonempty = F.size(
        F.filter(F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != "")
    ) > 0
    return (
        dedup.with_simhash(docs.where(toks_nonempty), bits=32)
        .select("doc_id", "simhash")
        .orderBy("doc_id")
    )


# Synthesized per-doc hosts (the documents fixture has no URL column;
# the f7/f9/pii pattern: derive deterministic inputs from ids with
# identical arithmetic in both engines). Chosen to exercise the whole
# registered-domain heuristic: shared registered domains across
# subdomains, two-level public suffixes, a single-host domain, and one
# mixed-case host (host extraction must lowercase).
_WEB_HOSTS = [
    "www.alpha-news.com",
    "blog.alpha-news.com",
    "media.beta.co.uk",
    "shop.beta.co.uk",
    "gamma.org",
    "CDN.Gamma.org",
    "delta-portal.cz",
    "archive.example.ac.uk",
]


def _web_urls_df(spark, sf_dir):
    """documents + a deterministic absolute URL per doc. Every 16th doc
    (doc_id % 16 == 3) gets userinfo@ and an explicit :port so the host
    regex strips both paths of the authority grammar."""
    docs = _read(spark, sf_dir, "documents")
    hosts = F.array(*[F.lit(h) for h in _WEB_HOSTS])
    h = F.element_at(hosts, (F.col("doc_id") % 8 + 1).cast("int"))
    auth = F.when(
        F.col("doc_id") % 16 == 3, F.concat(F.lit("user:pw@"), h, F.lit(":8443"))
    ).otherwise(h)
    url = F.concat(
        F.lit("https://"), auth, F.lit("/"), F.col("source"), F.lit("/"),
        F.col("doc_id").cast("string"),
    )
    return docs.select("doc_id", "n_chars", url.alias("url"))


def _web_urls_sql() -> str:
    hosts = ", ".join(f"'{h}'" for h in _WEB_HOSTS)
    return f"""
        SELECT doc_id, n_chars,
               'https://' || CASE WHEN doc_id % 16 = 3
                                  THEN 'user:pw@' || h || ':8443' ELSE h END
                 || '/' || source || '/' || CAST(doc_id AS VARCHAR) AS url
        FROM (SELECT *, [{hosts}][CAST(doc_id % 8 + 1 AS INT)] AS h
              FROM documents)
    """


_WEB_SUFFIXES_SQL = ", ".join(
    f"'{s}'" for s in (
        "ac.uk", "co.jp", "co.nz", "co.uk", "com.au", "com.br", "gov.uk", "org.uk"
    )
)

_WEB_PARTS_SQL = f"""
        SELECT doc_id, n_chars, host,
               CASE WHEN len(l) >= 3 AND (l[-2] || '.' || l[-1])
                         IN ({_WEB_SUFFIXES_SQL})
                    THEN l[-3] || '.' || l[-2] || '.' || l[-1]
                    WHEN len(l) >= 2 THEN l[-2] || '.' || l[-1]
                    ELSE host END AS registered_domain
        FROM (SELECT doc_id, n_chars, host, string_split(host, '.') AS l
              FROM (SELECT doc_id, n_chars,
                           lower(regexp_extract(url,
                             '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)',
                             1)) AS host
                    FROM ({{urls}})))
"""


def q_web_domain_stats(spark, sf_dir):
    """Per-registered-domain corpus stats over synthesized URLs: host
    extraction (RFC 3986 authority, userinfo/port stripped, lowercased)
    -> registered-domain heuristic (public-suffix-aware last-2/3
    labels) -> one hash aggregate. Pure Catalyst; the per-domain key is
    the Zipf-skewed one real crawls shuffle on (functions/urls.py)."""
    from gdal_vfr_spark.functions import urls as url_fns

    df = _web_urls_df(spark, sf_dir)
    return (
        url_fns.domain_stats(df, size_col="n_chars")
        .select("registered_domain", "n_docs", "n_hosts", "sum_size")
        .orderBy("registered_domain")
    )


def q_web_cap_per_domain(spark, sf_dir):
    """Per-domain document quota (C4/RefinedWeb-style anti-megasite
    cap): keep the 3 largest docs (by n_chars, ties to smaller doc_id)
    per registered domain. One window shuffle on the domain key."""
    from gdal_vfr_spark.functions import urls as url_fns

    df = _web_urls_df(spark, sf_dir)
    return (
        url_fns.cap_per_domain(df, 3, order_by=[F.desc("n_chars")])
        .select("registered_domain", "host", "doc_id", "n_chars")
        .orderBy("registered_domain", "doc_id")
    )


# UT1/RefinedWeb-style domain blocklist: exact hosts AND whole
# registered domains; subdomains of a blocked domain fall with it.
# gamma.org + cdn.gamma.org together exercise the most-specific-match
# rule (the cdn host matches both; cdn.gamma.org must win).
_BLOCKED_DOMAINS = [
    "beta.co.uk",
    "gamma.org",
    "cdn.gamma.org",
    "delta-portal.cz",
    "example.ac.uk",
]


def q_web_blocklist(spark, sf_dir):
    """Domain-blocklist hits over the synthesized URLs (functions/
    urls.py:blocklist_hits — UT1/RefinedWeb URL-filter semantics): a
    doc is blocked when its host IS a listed domain or is a SUBDOMAIN
    of one; the most specific matched rule is reported. Scale shape:
    host -> bounded suffix-chain explode -> bare equi-join against the
    blocklist (broadcast at 10^4 rules, shuffle equi-join at UT1's
    10^6 — never a regex scan over the list). 6 of the 8 fixture hosts
    hit, via exact, parent-domain, and overlapping-rule paths."""
    from gdal_vfr_spark.functions import urls as url_fns

    df = _web_urls_df(spark, sf_dir)
    blocked = spark.createDataFrame(
        [(d,) for d in _BLOCKED_DOMAINS], "domain string"
    )
    return url_fns.blocklist_hits(df, blocked).orderBy("doc_id")


def _multiline_docs(spark, sf_dir):
    """documents rewritten as deterministic 5-line pages (the fixture
    text has no newlines): a unique content line, a javascript banner,
    an alternating footer (rights / cookie notice), an unpunctuated
    nav stub, and a too-short line — one of each line-rule failure
    mode plus corpus-global boilerplate for the strip operator."""
    docs = _read(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    l1 = F.concat(F.substring("text", 1, 40), F.lit(" doc "), did, F.lit("."))
    l2 = F.lit("Enable javascript to continue.")
    l3 = F.when(
        F.col("doc_id") % 2 == 0, F.lit("All rights reserved.")
    ).otherwise(F.lit("Visit our cookie policy."))
    l4 = F.concat(F.lit("doc "), did, F.lit(" navigation"))
    l5 = F.lit("Short one.")
    return docs.select(
        "doc_id", F.concat_ws("\n", l1, l2, l3, l4, l5).alias("text")
    )


_MULTILINE_SQL = """
        SELECT doc_id,
               substr(text, 1, 40) || ' doc ' || CAST(doc_id AS VARCHAR) || '.'
               || chr(10) || 'Enable javascript to continue.'
               || chr(10) || CASE WHEN doc_id % 2 = 0
                                  THEN 'All rights reserved.'
                                  ELSE 'Visit our cookie policy.' END
               || chr(10) || 'doc ' || CAST(doc_id AS VARCHAR) || ' navigation'
               || chr(10) || 'Short one.' AS text
        FROM documents
"""


def q_text_clean_lines(spark, sf_dir):
    """C4-style line-rule rewrite (operators/text.py:clean_lines): a
    line survives iff it has >= 3 words, ends in terminal punctuation,
    and carries no blocked marker (javascript / lorem ipsum / cookie).
    Map-only — one higher-order filter projection, no Python, no
    shuffle; composes with the doc-level gates at any corpus size.
    Fixture: the content line always survives, the even-doc footer
    survives, everything else falls to exactly one rule each."""
    from gdal_vfr_spark.operators import text as text_ops

    ml = _multiline_docs(spark, sf_dir)
    return (
        text_ops.clean_lines(ml, text_col="text")
        .select("doc_id", "n_lines", "n_kept", "keep_doc", "clean_text")
        .orderBy("doc_id")
    )


def q_dedup_strip_boilerplate(spark, sf_dir, sort_barrier: bool = True):
    """Corpus-global boilerplate-line removal (operators/dedup.py:
    strip_boilerplate_lines — the line-granularity sibling of
    exact_substring_spans): every non-blank line occurring in >= 2
    DISTINCT docs is stripped from all of them, survivor order
    preserved. Skew shape: distinct over (doc, line-hash) pairs, then
    a map-side-combining groupBy on the hash — never a window over the
    line hash — and the hot set (boilerplate only, small by
    construction) broadcasts back into a narrow anti-join."""
    from gdal_vfr_spark.operators import dedup as dedup_ops

    ml = _multiline_docs(spark, sf_dir)
    return _sort_once(
        dedup_ops.strip_boilerplate_lines(ml, text_col="text", min_docs=2)
        .select("doc_id", "n_kept_lines", "clean_text"),
        sort_barrier,
    ).orderBy("doc_id")


def q_web_url_canonicalize(spark, sf_dir, sort_barrier: bool = True):
    """URL canonicalization for crawl dedup (engine addition): messy
    synthesized URLs (uppercase scheme/host, default :443 ports,
    utm_*/fbclid tracking params, fragments, bare-root slashes) ->
    canonical form via functions.urls.canonicalize_url_expr. Pure
    Catalyst regexp chain in the Java∩RE2 subset; the DuckDB twin
    mirrors it with 'g'-flag replaces."""
    from gdal_vfr_spark.functions import urls as url_fns
    from gdal_vfr_spark.plans.skew import spread_small_input

    docs = spread_small_input(_read(spark, sf_dir, "documents"))
    hosts = F.array(*[F.lit(h) for h in _WEB_HOSTS])
    h = F.element_at(hosts, (F.col("doc_id") % 8 + 1).cast("int"))
    h = F.when(F.col("doc_id") % 4 == 1, F.upper(h)).otherwise(h)
    did = F.col("doc_id").cast("string")
    url = F.concat(
        F.when(F.col("doc_id") % 5 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        h,
        F.when(F.col("doc_id") % 6 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 5, F.lit("/")).otherwise(
            F.concat(F.lit("/p/"), did)
        ),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("?utm_source=abc&utm_medium=x&id="), did),
        )
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit("?id="), did, F.lit("&fbclid=XYZ")))
        .otherwise(F.concat(F.lit("?id="), did)),
        F.when(F.col("doc_id") % 7 == 2, F.lit("#sec")).otherwise(F.lit("")),
    )
    d = docs.select("doc_id", url.alias("url"))
    return _sort_once(
        d.select(
            "doc_id", "url", url_fns.canonicalize_url_expr("url").alias("canonical_url")
        ),
        sort_barrier,
    ).orderBy("doc_id")


def q_text_bm25_topk(spark, sf_dir):
    """BM25-lite keyword retrieval (engine addition): top-5 docs per
    query string. Rational Robertson idf (no log — libm-portable) and
    fixed-point order-free score sums make the DuckDB twin exact; ranks
    tie-break by doc_id."""
    docs = _read(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        [(1, "hash join row"), (2, "stream window batch"), (3, "fast sort query")],
        "query_id long, query string",
    )
    return text_ops.bm25_topk(docs, queries, k=5).orderBy("query_id", "rank")


def q_sample_temperature(spark, sf_dir):
    """Temperature resampling across sources (engine addition — the
    LLM data-mixing step): integer-exact alpha=0.5 quotas
    (floor(sqrt(n_s)) weights, ceil-div quota arithmetic) + per-source
    deterministic md5-first selection. Upweights rare languages,
    caps the head."""
    from gdal_vfr_spark.operators import sampling

    docs = _read(spark, sf_dir, "documents")
    return (
        sampling.temperature_quota_sample(docs, budget=200, source_col="lang")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


def q_text_quantiles(spark, sf_dir):
    """EXACT per-source length quantiles (p50/p90/p99) by rank
    selection — integer-exact where percentile interpolation is not.
    One window shuffle on the source key."""
    docs = _read(spark, sf_dir, "documents")
    return text_ops.value_quantiles(docs).orderBy("source", "p")


def q_text_lang(spark, sf_dir, sort_barrier: bool = True):
    docs = _read(spark, sf_dir, "documents")
    return _sort_once(
        text_ops.with_lang_id(docs).select("doc_id", "lang_pred"),
        sort_barrier,
    ).orderBy("doc_id")


def q_text_quality(spark, sf_dir, sort_barrier: bool = True):
    docs = _read(spark, sf_dir, "documents")
    return _sort_once(
        text_ops.with_quality(docs).select("doc_id", "quality"),
        sort_barrier,
    ).orderBy("doc_id")


def q_text_repetition(spark, sf_dir, sort_barrier: bool = True):
    """Gopher-style repetition filter profile (Rae et al. 2021 §A1.1
    semantics class, re-expressed): per-doc INTEGER char budgets for
    the most-covering word 2-gram and for duplicated 5-grams, plus
    the integer-cross-multiplied keep verdict — no float fractions,
    so the oracle is exact. One corpus scan (tagged single explode of
    {1,2,5}-grams), two keyed shuffles
    (operators/text.py:repetition_stats)."""
    docs = _read(spark, sf_dir, "documents")
    return _sort_once(text_ops.repetition_stats(docs), sort_barrier).orderBy("doc_id")


def q_text_pii_scrub(spark, sf_dir):
    """PII scrubbing (email/phone redaction) — the fixture corpus
    carries no PII, so the query synthesizes deterministic PII-bearing
    strings from event ids (the f7/f9 pattern) and scrubs them; the
    oracle applies the same regexes with DuckDB's 'g' flag (Spark's
    regexp_replace is replace-all by default)."""
    ev = _read(spark, sf_dir, "events").where(F.col("event_id") % 250 == 0)
    raw = F.concat(
        F.lit("reach user"),
        F.col("event_id").cast("string"),
        F.lit("@mail-"),
        (F.col("event_id") % 7).cast("string"),
        F.lit(".example.org, tel 555-123-4"),
        F.lpad((F.col("event_id") % 1000).cast("string"), 3, "0"),
        F.lit(" or 777 888 999, ref "),
        F.col("event_id").cast("string"),
    )
    return ev.select(
        "event_id", text_ops.scrub_pii_expr(raw).alias("scrubbed")
    ).orderBy("event_id")


def q_text_pack_bins(spark, sf_dir):
    """Concat-and-chunk sequence packing per source shard: bin id +
    token offset of every document under a 512-token budget. One
    running-sum window partitioned by the shard (never a global sort
    at scale)."""
    docs = _read(spark, sf_dir, "documents")
    return text_ops.pack_bins(
        docs, budget=512, order_col="doc_id", shard_col="source"
    ).orderBy("source", "doc_id")


def q_text_chunks(spark, sf_dir):
    """Sliding-window chunking (size 40, overlap 10) of a sampled doc
    subset: 1:N explode with the chunk text reconstructed from the
    token array — the embedding-corpus prep shape."""
    docs = _read(spark, sf_dir, "documents").where(F.col("doc_id") % 25 == 3)
    return text_ops.chunk_tokens(docs, size=40, overlap=10).orderBy(
        "doc_id", "token_start"
    )


def q_text_vocab(spark, sf_dir):
    """Corpus vocabulary head: top-20 tokens by occurrence, ties to
    the smaller token. TakeOrdered (per-partition top-n merge), not a
    global sort."""
    docs = _read(spark, sf_dir, "documents")
    return text_ops.vocab_topn(docs, n=20).orderBy(F.desc("n_occ"), F.asc("token"))


def q_text_source_stats(spark, sf_dir):
    """Per-source corpus health: doc count + quality min/mean/max.
    The mean is a decimal-exact sum divided once in float64, so it is
    partition-order-free and engine-exact."""
    docs = _read(spark, sf_dir, "documents")
    return text_ops.source_stats(docs).orderBy("source")


def q_sample_stratified(spark, sf_dir):
    """Deterministic stratified sampling: md5-bucket membership per
    doc_id, per-language rates (downsample the head language, keep
    rare ones). Partitioning-independent — df.sample() is not — and a
    pure map-side filter."""
    from gdal_vfr_spark.operators import sampling

    docs = _read(spark, sf_dir, "documents")
    out = sampling.stratified_sample(
        docs, key="doc_id", strata_col="lang",
        fractions={"en": 0.25, "es": 1.0, "de": 0.5},
        default_fraction=0.1,
    )
    return out.select("doc_id", "lang").orderBy("doc_id")


def q_text_tokens(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select("source", text_ops.token_count_expr("text").alias("n_tokens"))
        .groupBy("source")
        .agg(
            F.sum("n_tokens").alias("total_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
            F.count("*").alias("n_docs"),
        )
        .orderBy("source")
    )


def q_text_fingerprint(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select("lang", text_ops.fingerprint_expr("text").alias("fp"))
        .groupBy("lang")
        .agg(F.count_distinct("fp").alias("n_distinct"), F.count("*").alias("n"))
        .orderBy("lang")
    )


def q_text_extract(spark, sf_dir):
    """input_hint per-row invariant — byte-identical extracted text per
    url. Pages are synthesized from documents.text (entity-escaped into
    full-page chrome with title/style/script); the engine extraction
    (functions.html_text, pure Catalyst regex chain, no Python
    boundary) must reproduce the expected text byte-for-byte. n_match
    must equal n_docs in BOTH engines."""
    from gdal_vfr_spark.plans.skew import spread_small_input

    docs = spread_small_input(_read(spark, sf_dir, "documents").select("lang", "text"))
    text = F.coalesce(F.col("text"), F.lit(""))
    html = F.encode(
        F.concat(F.lit(_PAGE_HEAD), html_text.escape_text_expr(text), F.lit(_PAGE_TAIL)),
        "utf-8",
    )
    want = F.trim(
        F.regexp_replace(
            F.concat_ws(" ", F.lit("T"), text, F.lit("& <mix>")), html_text.WS_RE, " "
        )
    )
    ext = docs.select(
        "lang", html_text.extract_text_expr(html).alias("t"), want.alias("want")
    )
    return (
        ext.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("t") == F.col("want"), 1).otherwise(0))
            .cast("long")
            .alias("n_match"),
        )
        .orderBy("lang")
    )


def q_geo_tile_join(spark, sf_dir):
    """J6 north-star — raster<->vector join as a broadcast equi-join on
    the Z-order tile key: a small raster 'zone' dimension (every res-12
    tile over the bbox, deterministic zone id) joined to tile-assigned
    pages; per-zone page + distinct-tile counts. At 100 TB the raster
    side stays a broadcast dim and the page side never shuffles before
    the partial aggregate."""
    g = _events_geo(spark, sf_dir)
    pts = cells.with_cell(
        g.where(F.col("lon").isNotNull()), _TILE_RES, out_col="tile_key"
    )
    dim = (
        spark.range(_TX0, _TX1 + 1)
        .select(F.col("id").alias("ix"))
        .crossJoin(spark.range(_TY0, _TY1 + 1).select(F.col("id").alias("iy")))
        .select(
            cells.cell_from_indices_expr("ix", "iy", _TILE_RES).alias("tile_key"),
            F.pmod(F.col("ix") + F.col("iy"), F.lit(5)).alias("zone"),
        )
    )
    return (
        pts.join(F.broadcast(dim), "tile_key")
        .groupBy("zone")
        .agg(
            F.count("*").alias("n_pages"),
            F.count_distinct("tile_key").alias("n_tiles"),
        )
        .orderBy("zone")
    )


def q_embedding_near_dup_exact(spark, sf_dir):
    """Exact embedding-cosine near-dup (training-data dedup): all
    (a < b) pairs with cosine >= 0.4, sequential-fold float64 dot so
    threshold membership is bit-identical cross-engine."""
    emb = _read(spark, sf_dir, "embeddings")
    return (
        similarity.near_dup_pairs_exact(emb, threshold=0.4)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


def q_pipeline_e2e(spark, sf_dir, quality_min: float = 0.45):
    """The 100 TB use case end-to-end, composed from engine operators:
    synthesize page chrome -> HTML->text extraction gated on the
    byte-identity invariant -> quality filter -> language ID -> exact
    dedup (first doc per content hash) -> geotag -> point-in-polygon
    containment -> per-(municipality, language) doc counts. Every stage
    is exact, so the WHOLE pipeline has a value-hash oracle."""
    from gdal_vfr_spark.plans.skew import spread_small_input

    raw = _read(spark, sf_dir, "documents").select("doc_id", "text")
    docs = spread_small_input(raw)
    if docs is not raw:
        # barrier: PushDownPredicates happily moves the byte-identity
        # Filter AND the quality-UDF filter below a bare round-robin
        # exchange, putting the regex chain back on the single scan
        # partition (observed in plans/r06/pipeline_e2e). A lazy
        # localCheckpoint pins the spread 6 MB doc set so every
        # downstream gate actually runs on all cores.
        docs = docs.localCheckpoint(eager=False)
    text = F.coalesce(F.col("text"), F.lit(""))
    html = F.encode(
        F.concat(F.lit(_PAGE_HEAD), html_text.escape_text_expr(text), F.lit(_PAGE_TAIL)),
        "utf-8",
    )
    want = F.trim(
        F.regexp_replace(
            F.concat_ws(" ", F.lit("T"), text, F.lit("& <mix>")), html_text.WS_RE, " "
        )
    )
    inv = (
        docs.select("doc_id", "text", html_text.extract_text_expr(html).alias("__t"), want.alias("__want"))
        .where(F.col("__t") == F.col("__want"))
        .select("doc_id", "text")
    )
    scored = text_ops.with_lang_id(text_ops.with_quality(inv))
    kept = (
        scored.where(F.col("quality") >= F.lit(quality_min))
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(F.md5("text")).orderBy("doc_id")
            ),
        )
        .where(F.col("__rn") == 1)
        .select("doc_id", "lang_pred")
    )
    geo = kept.select(
        "doc_id",
        "lang_pred",
        (
            F.lit(14.0)
            + (F.lit(2) * ((F.col("doc_id") * 7919) % 500) + 1).cast("double") / F.lit(1000.0)
        ).alias("lon"),
        (
            F.lit(49.5)
            + (F.lit(2) * ((F.col("doc_id") * 104729) % 500) + 1).cast("double") / F.lit(1000.0)
        ).alias("lat"),
    )
    joined = _obce_joiner(spark).apply(geo)
    return (
        joined.groupBy("obec_kod", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("obec_kod", "lang_pred")
    )


def q_ann_topk(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity.brute_force_topk(emb, q, k=3)
    return out.select("query_id", "vec_id", F.col("rank").cast("long").alias("rank")).orderBy("query_id", "rank")


def q_ann_lsh_topk(spark, sf_dir):
    """Approximate SRP-LSH top-k (scale path). Approximate vs the true
    top-k, but a DETERMINISTIC function of the seeded hyperplane
    constants — the DuckDB twin regenerates the same sign-bit buckets
    from the same literals, so the result is exactly checkable (recall
    vs `ann_topk` is additionally pinned in test_dedup_text.py)."""
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return (
        similarity.lsh_bucketed_topk(emb, q, k=3, dim=64)
        .select("query_id", "vec_id", F.col("rank").cast("long").alias("rank"))
        .orderBy("query_id", "rank")
    )


def q_dedup_exact_substring(spark, sf_dir):
    """Exact-substring duplication profile (Lee et al. 2021
    ExactSubstr semantics class): every 20-token window occurring
    more than once anywhere in the corpus marks its span duplicated;
    overlapping windows merge into maximal spans. One window-hash
    shuffle + one doc-id shuffle, pure Catalyst
    (operators/dedup.py:exact_substring_spans)."""
    docs = _read(spark, sf_dir, "documents")
    return dedup.exact_substring_spans(docs, window_tokens=20).orderBy(
        "doc_id"
    )


def q_pipeline_clean(spark, sf_dir):
    """End-to-end corpus-cleaning verdict: chains the exact-dedup
    gate (row_number over md5(text), min doc_id survives), the
    quality gate (score < 0.40 drops), and the Gopher repetition gate
    (keep_repetition = 0 drops; docs with no tokens pass vacuously),
    assigning each doc its FIRST failing gate as the drop reason and
    tallying per (source, reason) — the per-stage attrition report a
    real cleaning pipeline publishes. All three gates are the already
    oracle-exact operators composed; shuffles are doc-keyed (dedup
    window on the content hash, two doc_id joins) plus one tiny final
    rollup."""
    from pyspark.sql import Window

    docs = _read(spark, sf_dir, "documents")
    rn = F.row_number().over(
        Window.partitionBy(F.md5("text")).orderBy("doc_id")
    )
    flagged = docs.select("doc_id", "source", rn.alias("rn"))
    qual = text_ops.with_quality(docs).select("doc_id", "quality")
    rep = text_ops.repetition_stats(docs).select(
        "doc_id", F.col("keep_repetition").alias("keep")
    )
    j = flagged.join(qual, "doc_id").join(rep, "doc_id", "left")
    reason = (
        F.when(F.col("rn") > 1, F.lit("duplicate"))
        .when(F.col("quality") < 0.40, F.lit("low_quality"))
        .when(F.coalesce(F.col("keep"), F.lit(1)) == 0, F.lit("repetitive"))
        .otherwise(F.lit("kept"))
    )
    return (
        j.select("source", reason.alias("reason"))
        .groupBy("source", "reason")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy("source", "reason")
    )


# pipeline_clean_full fixtures: a 2-domain blocklist (25% of hosts, so
# downstream gates still see volume), a shared 43-word page body that
# PASSES quality (so the duplicate gate, not low_quality, claims its
# cluster), and a 61-word spam repetition that passes quality but
# fails the Gopher gate.
_PIPE_BLOCKED = ["cdn.gamma.org", "example.ac.uk"]
_PIPE_SHARED_LINE = (
    "the quick brown fox jumps over the lazy dog near the river bank "
    "while the sun sets slowly behind old hills and children play in "
    "the quiet park with friends from school until dinner time calls "
    "them home for warm bread."
)


def q_pipeline_clean_full(spark, sf_dir):
    """Full-stack corpus-cleaning verdict — pipeline_clean widened with
    the round-5 gates, in pipeline order: domain blocklist (UT1-style
    suffix join over synthesized URLs) -> C4 line rules over a
    synthesized 2-line page wrapping the doc text (every 7th doc's
    content line lacks terminal punctuation, so the whole page dies at
    the line gate) -> exact dedup over the CLEANED text (the rank
    window runs only over docs with surviving lines — the '' group
    never becomes a window partition) -> quality -> repetition.
    Precedence assigns each doc its FIRST failing gate; output is the
    per-(source, reason) attrition table. All gates are the already
    oracle-exact operators composed; new shuffles beyond
    pipeline_clean's are the suffix-chain broadcast join and the
    map-only line projection — nothing that grows with corpus size."""
    from pyspark.sql import Window

    from gdal_vfr_spark.functions import urls as url_fns

    from gdal_vfr_spark.plans.skew import spread_small_input

    docs = spread_small_input(_read(spark, sf_dir, "documents"))
    blocked = spark.createDataFrame(
        [(d,) for d in _PIPE_BLOCKED], "domain string"
    )
    hits = url_fns.blocklist_hits(
        _web_urls_df(spark, sf_dir).select("doc_id", "url"), blocked
    ).select("doc_id", F.lit(1).alias("blocked"))
    content = (
        F.when(
            F.col("doc_id") % 7 == 2,
            F.concat(F.col("text"), F.lit(" end of page")),
        )
        .when(F.col("doc_id") % 11 == 5, F.lit(_PIPE_SHARED_LINE))
        .when(
            F.col("doc_id") % 13 == 4,
            F.concat(
                F.repeat(F.lit("spam spam wonderful spam ham "), 12),
                F.lit("doc "),
                F.col("doc_id").cast("string"),
                F.lit(" end."),
            ),
        )
        .otherwise(F.concat(F.col("text"), F.lit(" end of page.")))
    )
    page = F.concat_ws("\n", content, F.lit("Enable javascript to continue."))
    cl = text_ops.clean_lines(
        docs.select("doc_id", "source", page.alias("page")), text_col="page"
    ).select("doc_id", "source", "n_kept", "clean_text")
    # the cleaned relation feeds FOUR consumers (dedup window, quality,
    # repetition, and the join base); persist + eager count so the
    # synth-page + line-rule projection runs once, not once per branch
    # (round-6, guide §5 — same eager-materialization shape as
    # minhash_lsh_pairs' signature cache; concurrent map stages would
    # otherwise double-compute cold cache partitions)
    cl = cl.persist()
    cl.count()
    rn = F.row_number().over(
        Window.partitionBy(F.md5("clean_text")).orderBy("doc_id")
    )
    flagged = cl.where(F.col("n_kept") > 0).select("doc_id", rn.alias("rn"))
    qual = text_ops.with_quality(cl, text_col="clean_text").select(
        "doc_id", "quality"
    )
    rep = text_ops.repetition_stats(cl, text_col="clean_text").select(
        "doc_id", F.col("keep_repetition").alias("keep")
    )
    j = (
        cl.join(hits, "doc_id", "left")
        .join(flagged, "doc_id", "left")
        .join(qual, "doc_id")
        .join(rep, "doc_id", "left")
    )
    reason = (
        F.when(F.col("blocked") == 1, F.lit("blocked_domain"))
        .when(F.col("n_kept") == 0, F.lit("no_clean_lines"))
        .when(F.col("rn") > 1, F.lit("duplicate"))
        .when(F.col("quality") < 0.40, F.lit("low_quality"))
        .when(F.coalesce(F.col("keep"), F.lit(1)) == 0, F.lit("repetitive"))
        .otherwise(F.lit("kept"))
    )
    return (
        j.select("source", reason.alias("reason"))
        .groupBy("source", "reason")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy("source", "reason")
    )


def q_dedup_decontaminate(spark, sf_dir):
    """Benchmark decontamination (engine addition; no reference
    analogue — standard LLM-pipeline op): per-doc count of WORD
    13-grams (GPT-3-appendix overlap units) shared with a synthetic
    eval set (substr(text, 10, 200) snippets of every 50th doc).
    Round-4 change from character 16-grams: word shingles do O(words)
    probe work per doc, not O(chars), and the join key is the hashed
    shingle (16 hex chars) — ~5x narrower broadcast. Benchmark shingle
    set broadcasts; the corpus side is map-side explode + broadcast
    semi-join + one partial+final count — the 10^12-doc side never
    shuffles text. The oracle mirrors the same tokenization + window
    definition; it joins on the raw shingle strings (hashing is
    md5-injective at these set sizes, so the counts agree exactly)."""
    docs = _read(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 7).select(
        F.substring("text", 10, 200).alias("text")
    )
    return dedup.decontaminate(docs, bench, n=13).orderBy("doc_id")


def q_dedup_decontaminate_bloom(spark, sf_dir):
    """dedup_decontaminate through the Bloom-pre-filter physical
    strategy (operators/sketches.py bloom_build/bloom_probe +
    dedup.decontaminate_bloom): the benchmark shingle set becomes a
    FIXED-SIZE (word, bits) broadcast (128 KB at 2^20 bits) instead of
    the exact hash set, corpus rows prune map-side with no false
    negatives, and the exact confirm join removes false positives — so
    the result is row-identical to dedup_decontaminate and both share
    one oracle. This is the shape for benchmark sets past broadcast
    budgets (10^8 shingles)."""
    docs = _read(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 7).select(
        F.substring("text", 10, 200).alias("text")
    )
    return dedup.decontaminate_bloom(docs, bench, n=13).orderBy("doc_id")


def plan_variants() -> dict:
    """Explain-only variants for tools/explain_audit.py: same logical
    work as the queries() entry, built WITHOUT the execution-time
    materialization that hides the plan (localCheckpoint shows as Scan
    ExistingRDD). Never consumed by the driver or the oracle gate;
    result parity with the production path is pinned in pytest."""

    def bloom_plan(spark, sf_dir):
        docs = _read(spark, sf_dir, "documents")
        bench = docs.where(F.col("doc_id") % 50 == 7).select(
            F.substring("text", 10, 200).alias("text")
        )
        return dedup.decontaminate_bloom(docs, bench, n=13, checkpoint=False).orderBy(
            "doc_id"
        )

    out = {"dedup_decontaminate_bloom": bloom_plan}
    for name, q in [
        ("geo_range_join_large", q_geo_range_join_large),
        ("dedup_strip_boilerplate", q_dedup_strip_boilerplate),
        ("web_url_canonicalize", q_web_url_canonicalize),
        ("text_repetition", q_text_repetition),
        ("text_lang", q_text_lang),
        ("text_quality", q_text_quality),
        ("multimodal_decode", q_multimodal_decode),
        ("dedup_semantic", q_dedup_semantic),
        ("embedding_near_dup", q_embedding_near_dup),
    ]:
        # the pre-sort localCheckpoint disabled: the audit sees the
        # full operator tree, not Scan ExistingRDD
        out[name] = functools.partial(q, sort_barrier=False)
    return out


def q_dedup_keep_best(spark, sf_dir):
    """Cluster-level representative policy: within each near-dup
    connected component keep the HIGHEST-QUALITY document (ties to the
    smaller doc_id) — what a production crawl pipeline actually does,
    vs the min-id convention. Composes quality scoring, LSH pairs, and
    connected components; one window over the component key."""
    docs = _read(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=8).where(
        F.col("jaccard_est") >= 0.5
    )
    scored = text_ops.with_quality(docs.select("doc_id", "text")).select(
        "doc_id", "quality"
    )
    comp = dedup.assign_components(scored, pairs)
    w = Window.partitionBy("component").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        comp.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("component", "doc_id", "quality")
        .orderBy("component")
    )


def q_ann_ivf_topk(spark, sf_dir):
    """IVF approximate top-k (the partition-pruning scale path beyond
    SRP buckets): deterministic fixed-point k-means coarse quantizer,
    nprobe=2 of 8 cells probed per query. Exact oracle: the DuckDB
    twin unrolls the same two Lloyd iterations — fixed-point centroid
    sums are order-free, so both engines compute bit-identical
    centroids, assignments, and ranks."""
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return (
        similarity.ivf_topk(emb, q, k=3, n_centroids=8, nprobe=2, n_iter=2, dim=64)
        .select("query_id", "vec_id", F.col("rank").cast("long").alias("rank"))
        .orderBy("query_id", "rank")
    )


def q_ann_ivf_indexed(spark, sf_dir):
    """IVF SERVING path: corpus written as a cid-partitioned parquet
    layout, probe = statically partition-pruned scan of nprobe cells
    (PartitionFilters in the plan — asserted in pytest). Same result
    set as ann_ivf_topk, so it shares that oracle."""
    import atexit
    import shutil
    import tempfile

    emb = _read(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    path = os.path.join(
        tempfile.gettempdir(), f"ivf_idx_{spark.sparkContext.applicationId}"
    )
    if not os.path.exists(path):
        atexit.register(shutil.rmtree, path, True)
    cents = similarity.write_ivf_index(emb, path)
    return (
        similarity.ivf_topk_indexed(spark, path, cents, q, k=3, nprobe=2)
        .select("query_id", "vec_id", F.col("rank").cast("long").alias("rank"))
        .orderBy("query_id", "rank")
    )


def q_dedup_semantic(spark, sf_dir, sort_barrier: bool = True):
    """SemDeDup semantic deduplication (Abbas et al. 2023) over the
    embeddings table: deterministic fixed-point k-means clusters
    (shared with ann_ivf_topk), then within each cluster drop every
    vector with a >= 0.4-cosine neighbor of lower centroid similarity
    — the paper's keep-the-edge-example rule, J3's duplicate collapse
    (vfrogr.py:817-829) keyed by meaning. At sf0.01 the fixture drops
    25 of 500 (both rule branches exercised). Exact oracle: the DuckDB
    twin unrolls the same Lloyd iterations and applies the same
    relational drop rule."""
    emb = _read(spark, sf_dir, "embeddings")
    return _sort_once(
        similarity.semantic_dedup(
            emb, threshold=0.4, n_centroids=8, n_iter=2, dim=64
        ),
        sort_barrier,
    ).orderBy("vec_id")


def _synth_mm_payloads(docs, ppm_only: bool = False):
    """Deterministic multimodal payload synthesis (shared by
    q_multimodal_meta / q_multimodal_frames): even doc_ids get a REAL
    binary PPM whose raster bytes are ASCII-printable (32 + (k*7+j)%95
    — printable so DuckDB can rebuild the exact payload as a VARCHAR
    and md5 it byte-for-byte; 1-byte UTF-8 == raw bytes), odd doc_ids
    keep the raw utf-8 text as a codec-format stand-in. ppm_only=True
    makes every row a PPM (the frames query, where each frame hash
    needs the real-raster oracle)."""
    import numpy as _np
    import pandas as _pd

    def _synth(batches):
        for pdf in batches:
            urls, payloads = [], []
            for k, txt in zip(pdf["doc_id"], pdf["text"]):
                k = int(k)
                if ppm_only or k % 2 == 0:
                    w, h = 4 + k % 5, 3 + k % 4
                    body = (
                        (32 + (k * 7 + _np.arange(w * h * 3, dtype=_np.int64)) % 95)
                        .astype(_np.uint8)
                        .tobytes()
                    )
                    payloads.append(b"P6\n%d %d\n255\n" % (w, h) + body)
                else:
                    payloads.append(txt.encode("utf-8"))
                urls.append(str(k))
            yield _pd.DataFrame({"url": urls, "html": payloads})

    return docs.select("doc_id", "text").mapInPandas(
        _synth, "url string, html binary"
    )


def q_multimodal_meta(spark, sf_dir):
    """Binary-column metadata with REAL P6 dims (round-4 verdict item
    4): even doc_ids carry a synthesized binary PPM — image_metadata
    parses its header for the true width/height — and odd doc_ids
    carry codec-format stand-in bytes that take the documented 8x8
    fake path. EXACT oracle on every column: DuckDB rebuilds the
    byte-identical ASCII-safe PPM payload and recomputes dims from
    the synthesis rule, octet lengths, and md5 over the same bytes."""
    from gdal_vfr_spark.operators import multimodal

    docs = _read(spark, sf_dir, "documents")
    return multimodal.image_metadata(_synth_mm_payloads(docs)).orderBy("url")


def q_multimodal_frames(spark, sf_dir):
    """Frame sampling over REAL P6 rasters: 1 input row -> n_frames
    output rows via mapInPandas, where each frame is the actual
    scanline (frame_idx % height) of the decoded image and frame_md5
    hashes its real payload bytes (round-4 verdict item 4 — the fake
    frame hash is gone from this query). EXACT oracle including the
    hash: DuckDB rebuilds the payload and md5s the same scanline
    substring."""
    from gdal_vfr_spark.operators import multimodal

    docs = _read(spark, sf_dir, "documents")
    frames = multimodal.sample_frames(
        _synth_mm_payloads(docs, ppm_only=True), every_n=2, n_frames=4
    )
    return frames.select(
        "url", F.col("frame_idx").cast("long").alias("frame_idx"), "frame_md5"
    ).orderBy("url", "frame_idx")


def q_multimodal_decode(spark, sf_dir, sort_barrier: bool = True):
    """REAL codec-free multimodal decode end-to-end (round-3 verdict
    item 5): synthesize binary PPM rasters + 16-bit PCM WAV clips per
    order key (mapInPandas builders), then drive the REAL parsers —
    decode_ppm / decode_wav_pcm16 / resize_nearest — and aggregate
    exact integer stats. The oracle recomputes every pixel/sample stat
    in CLOSED FORM from the synthesis arithmetic (byte j of image k is
    (k*7 + j) % 256; sample i is ((k*13 + i*31) % 4001) - 2000;
    nearest-neighbor index maps are integer floors), so a single
    off-by-one in header parsing, chunk walking, or the resize index
    map breaks the hash match."""
    import numpy as _np
    import pandas as _pd

    from gdal_vfr_spark.operators import multimodal as mm

    o = _read(spark, sf_dir, "orders").where(F.col("o_orderkey") % 100 == 13)
    # (round-6 measured negative result: spreading the filtered key set
    # cost 1.9s at sf0.1 — per-task overhead across the multi-stage
    # mapInPandas chain — for a 0.5s sf1.0 gain; reverted)
    src = o.select(F.col("o_orderkey").alias("key"))

    def _synth(batches):
        for pdf in batches:
            urls, imgs, auds = [], [], []
            for k in pdf["key"]:
                k = int(k)
                w, h = 4 + k % 5, 3 + k % 4
                img = (
                    (k * 7 + _np.arange(w * h * 3, dtype=_np.int64)) % 256
                ).astype(_np.uint8).reshape(h, w, 3)
                n = 50 + k % 32
                samples = ((k * 13 + _np.arange(n, dtype=_np.int64) * 31) % 4001) - 2000
                urls.append(str(k))
                imgs.append(mm.encode_ppm(img))
                auds.append(mm.encode_wav_pcm16(samples.astype(_np.int16), 8000))
            yield _pd.DataFrame({"url": urls, "image": imgs, "audio": auds})

    bin_df = src.mapInPandas(_synth, "url string, image binary, audio binary")
    img = mm.image_decode_stats(bin_df, binary_col="image")
    aud = mm.audio_decode_stats(bin_df, binary_col="audio").select(
        "url", "sample_rate", "n_samples", "sum_abs", "max_abs"
    )
    rz = mm.image_decode_stats(
        mm.resize_nearest(bin_df, width=3, height=2, binary_col="image"),
        binary_col="image",
    ).select("url", F.col("sum_r").alias("rz_sum_r"), F.col("n_px").alias("rz_n_px"))
    return _sort_once(
        img.join(aud, "url")
        .join(rz, "url")
        .select(
            F.col("url").cast("long").alias("key"),
            F.col("width").cast("long").alias("width"),
            F.col("height").cast("long").alias("height"),
            "n_px", "sum_r", "sum_g", "sum_b",
            F.col("sample_rate").cast("long").alias("sample_rate"),
            "n_samples", "sum_abs", "max_abs", "rz_sum_r", "rz_n_px",
        ),
        sort_barrier,
    ).orderBy("key")


def q_ann_int8_topk(spark, sf_dir):
    """int8 scalar-quantized inner-product top-k (the ANN serving
    memory-bandwidth path: 4x less scan traffic than float32, codes
    comparable across shards because the scale is the data-independent
    127/||x||). Integer dot scores are order-free-exact; the DuckDB
    twin recomputes the identical codes (same float64 normalize +
    round-half-away), so the result hash-matches bit-for-bit. Recall
    vs the float `ann_topk` is additionally pinned in pytest."""
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return (
        similarity.int8_topk(emb, q, k=3)
        .select(
            "query_id", "vec_id", "score", F.col("rank").cast("long").alias("rank")
        )
        .orderBy("query_id", "rank")
    )


def q_dedup_incremental(spark, sf_dir):
    """Cross-snapshot incremental dedup (the daily-crawl shape): docs
    with doc_id % 3 == 0 are the NEW batch, the rest the HISTORICAL
    corpus; each new doc is classified exact / near (shared MinHash
    LSH band with history) / kept via narrow-key equi-joins only —
    history is never re-deduped and never cross-joined
    (operators/dedup.py:incremental_dedup). Oracle regenerates the
    same signatures/bands over the same split."""
    docs = _read(spark, sf_dir, "documents")
    hist = docs.where(F.col("doc_id") % 3 != 0)
    batch = docs.where(F.col("doc_id") % 3 == 0)
    # (round-6 measured negative result: a pre-sort barrier was +0.3s —
    # the classification joins end at reusable shuffle boundaries and
    # the checkpoint pays to store the wide text column)
    return dedup.incremental_dedup(hist, batch).orderBy("doc_id")


def q_sample_epochs(spark, sf_dir):
    """Fractional-epoch mixture upsampling (operators/sampling.py:
    epoch_upsample): src0 at 2.25 epochs, src1 at 1.5, src2 DOWN at
    0.4, everything else 1.0 — each doc emits floor(w) copies plus a
    deterministic md5-bucket extra, so the multiset is partitioning/
    rerun-independent. Contract: per-source emitted-copy totals plus
    the copy_idx checksum (sum over emitted rows), which pins the
    explode indices, not just the counts; the oracle re-derives both
    from n*(n+1)/2 arithmetic over the same thresholds."""
    from gdal_vfr_spark.operators import sampling

    docs = _read(spark, sf_dir, "documents")
    up = sampling.epoch_upsample(
        docs, {"src0": 2.25, "src1": 1.5, "src2": 0.4}
    )
    return (
        up.groupBy("source")
        .agg(
            F.count("*").alias("n_copies"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("copy_idx").alias("sum_copy_idx"),
        )
        .orderBy("source")
    )


def q_sketch_bottomk_quantiles(spark, sf_dir):
    """Bottom-k (KMV) quantile sketch per source: exact n_rows + rank-
    indexed quantile estimates of doc length from the k rows with the
    smallest 60-bit id hashes (operators/sketches.py). Three bounded
    stages — map-side-combined counts, an integer threshold pre-filter
    that passes ~oversample*k rows per group REGARDLESS of group size
    (so the final cut's window never sees an unbounded partition), and
    the tiny cut+index — replacing a full per-group sort at 10^12 rows.
    k=8 / oversample=2 here so the sf0.01 fixture (25 docs/source)
    exercises the threshold AND the cut; the DuckDB twin reproduces
    hash, threshold, rank, and index arithmetic bit-for-bit."""
    from gdal_vfr_spark.operators import sketches

    docs = _read(spark, sf_dir, "documents")
    lengths = docs.select("source", "doc_id", F.length("text").alias("n_chars"))
    return sketches.bottomk_quantile_sketch(
        lengths,
        id_col="doc_id",
        value_col="n_chars",
        k=8,
        oversample=2,
        qs=(0.5, 0.9, 0.99),
        group_cols=("source",),
    ).orderBy("source")


def q_sketch_hll_distinct(spark, sf_dir):
    """Mergeable HyperLogLog distinct-token sketch over the corpus
    (operators/sketches.py): md5-derived 60-bit hash -> 256 registers
    via one map-side-combining groupBy(max) -> one-row integer-exact
    summary (register count, scaled harmonic denominator, fixed-point
    raw estimate). The shuffle moves <= 256 rows per partition no
    matter the corpus size — the constant-state property that replaces
    a full distinct-key shuffle at 10^12 tokens. The DuckDB twin
    rebuilds the registers bit-for-bit (same md5 hex slice, same
    bin()-bitlength rho, same integer shifts)."""
    from gdal_vfr_spark.functions.text_expr import tokens_expr
    from gdal_vfr_spark.operators import sketches

    from gdal_vfr_spark.plans.skew import spread_small_input

    docs = spread_small_input(_read(spark, sf_dir, "documents").select("text"))
    toks = docs.select(F.explode(tokens_expr(F.col("text"))).alias("token"))
    return sketches.hll_distinct(toks, "token")


def q_sketch_hll_by_source(spark, sf_dir):
    """GROUPED HLL: distinct tokens per source in one pass — the
    grouped-count-distinct shape that otherwise shuffles the full
    (source, token) domain; here each input partition ships at most
    groups x 256 register rows. Same integer-exact contract as
    sketch_hll_distinct, one summary row per source."""
    from gdal_vfr_spark.functions.text_expr import tokens_expr
    from gdal_vfr_spark.operators import sketches

    from gdal_vfr_spark.plans.skew import spread_small_input

    docs = spread_small_input(
        _read(spark, sf_dir, "documents").select("source", "text")
    )
    toks = docs.select(
        "source", F.explode(tokens_expr(F.col("text"))).alias("token")
    )
    return sketches.hll_distinct(toks, "token", group_cols=("source",)).orderBy(
        "source"
    )


def q_sketch_histogram(spark, sf_dir):
    """Mergeable log2-bin histogram per source (the distribution
    member of the sketch family): bin = bitlength(n_chars), counts per
    (source, bin) — constant state (<= 64 bins per group), map-side
    combined, integer-exact via the same bin() identity as the HLL
    rank. Percentiles come off the collected table driver-side."""
    from gdal_vfr_spark.operators import sketches

    docs = _read(spark, sf_dir, "documents")
    return sketches.log2_histogram(
        docs, "n_chars", group_cols=("source",)
    ).orderBy("source", "bin")


def q_sketch_cms_topk(spark, sf_dir):
    """Count-Min heavy hitters over the corpus token stream
    (operators/sketches.py): 4x1024 counter table from one map-side-
    combining groupBy (constant state), broadcast back to estimate
    every candidate token (min over the 4 rows — the CMS point
    query), top-20 by (est_occ desc, token asc). Candidate stream =
    the distinct tokens themselves here, which keeps the oracle exact
    while exercising the same counter/estimate path a space-saving
    candidate pass would use at scale."""
    from gdal_vfr_spark.operators import sketches

    docs = _read(spark, sf_dir, "documents")
    return sketches.cms_topk(docs, n=20)


def q_embedding_near_dup(spark, sf_dir, sort_barrier: bool = True):
    """Embedding near-dup pairs within SRP buckets. The bucketing is a
    deterministic function of the seeded hyperplane constants, so the
    approximate candidate set itself is exactly reproducible — the
    DuckDB twin computes the same sign bits from the same constants and
    the same sequential-fold cosine (round-1 fix: threshold 0.95 with 6
    planes found zero pairs in the fixture, certifying nothing; 0.4
    with 4 planes yields 9 of the 59 exact pairs)."""
    emb = _read(spark, sf_dir, "embeddings")
    return _sort_once(
        similarity.cosine_near_dup_pairs(emb, threshold=0.4, dim=64, n_planes=4)
        .select("id_a", "id_b"),
        sort_barrier,
    ).orderBy("id_a", "id_b")


def q_geo_pip_hierarchy(spark, sf_dir):
    """§1.4 FK hierarchy — containment through the FINER layer: pages ->
    katastralni uzemi polygons (400, real PIP) -> roll up to obce via
    the KU->obec parent FK. Must equal direct obec containment (the
    reference's carried parent codes are consistent by construction)."""
    g = _events_geo(spark, sf_dir)
    joined = _ku_joiner(spark).apply(g)
    parents = datagen.gen_katastralni_uzemi(spark).select(
        F.col("kod").alias("ku_kod"), F.col("obec_kod")
    )
    return (
        joined.join(F.broadcast(parents), "ku_kod")
        .groupBy("obec_kod")
        .agg(F.count("*").alias("n_pages"))
        .orderBy("obec_kod")
    )


def q_geo_pip_hierarchy3(spark, sf_dir):
    """§1.4 FULL 3-level FK chain (round-2 VERDICT gap #2): adresni
    mista points -> REAL PIP containment in the 400 katastralni uzemi
    polygons, cross-validated against the FK path adresni mista ->
    stavebni objekty (gfs/AdresniMista.gfs:63-68) -> KU
    (gfs/StavebniObjekty.gfs:44-75) -> obec parent rollup. Output: per
    obec, the PIP-derived count and the FK-derived count (equal by
    construction — the engine must prove it spatially)."""
    am = datagen.gen_adresni_mista(spark)
    so = datagen.gen_stavebni_objekty(spark)
    parents = datagen.gen_katastralni_uzemi(spark).select(
        F.col("kod").alias("ku_kod"), F.col("obec_kod")
    )
    from gdal_vfr_spark.plans.skew import spread_small_input

    geo = am.where(F.col("lon").isNotNull())
    pip_counts = (
        _ku_joiner(spark)
        .apply(spread_small_input(geo.select("kod", "lon", "lat")))
        .join(F.broadcast(parents), "ku_kod")
        .groupBy("obec_kod")
        .agg(F.count("*").alias("n_pip"))
    )
    fk_counts = (
        geo.select("kod", "stavebni_objekt_kod")
        .join(
            F.broadcast(
                so.select(
                    F.col("kod").alias("stavebni_objekt_kod"),
                    F.col("katastralni_uzemi_kod").alias("ku_kod"),
                )
            ),
            "stavebni_objekt_kod",
        )
        .join(F.broadcast(parents), "ku_kod")
        .groupBy("obec_kod")
        .agg(F.count("*").alias("n_fk"))
    )
    return pip_counts.join(fk_counts, "obec_kod").orderBy("obec_kod")


def q_so2_union(spark, sf_dir):
    """SO2 — multi-batch union (vfrogr.py:934-1025): two halves of
    lineitem unioned, counted per returnflag."""
    from gdal_vfr_spark.operators.setops import union_batches

    li = _read(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_orderkey") % 2 == 0)
    b = li.where(F.col("l_orderkey") % 2 == 1)
    return (
        union_batches([a, b])
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
        .orderBy("l_returnflag")
    )


def q_a5_max_fid(spark, sf_dir):
    """A5 — max-key aggregate (vfrpg.py:184-211)."""
    o = _read(spark, sf_dir, "orders")
    return o.agg(F.max("o_orderkey").alias("max_fid"))


def q_p2_key_lookup(spark, sf_dir):
    """P2 — natural-key point lookup (vfrogr.py:813)."""
    from gdal_vfr_spark.operators.projections import key_lookup

    e = _read(spark, sf_dir, "events")
    return key_lookup(e, 1234, key_col="event_id").select("event_id", "user_id", "event_type")


def q_m3_merge_state(spark, sf_dir):
    """M3 — declarative change merge: final state = survivors UNION
    upserts (vfrogr.py:546-580). Current = customers with key%3!=0;
    changes = updates (key%6==0 -> new segment) + adds (key+1e6)."""
    from gdal_vfr_spark.operators.merge import apply_changes

    c = _read(spark, sf_dir, "customer")
    current = c.where(F.col("c_custkey") % 3 != 0).select("c_custkey", "c_mktsegment")
    updates = c.where(F.col("c_custkey") % 6 == 0).select(
        "c_custkey", F.lit("UPDATED").alias("c_mktsegment")
    )
    adds = c.where(F.col("c_custkey") % 10 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"), F.lit("NEW").alias("c_mktsegment")
    )
    changes = updates.unionByName(adds).withColumn("action", F.lit("upsert"))
    merged = apply_changes(current, changes, key="c_custkey")
    return merged.groupBy("c_mktsegment").agg(F.count("*").alias("n")).orderBy("c_mktsegment")


def q_f5_key_synthesis(spark, sf_dir):
    """F5/F6 — '{lcode}.{id}' key synthesis (vfrogr.py:885) + lower."""
    o = _read(spark, sf_dir, "orders").where(F.col("o_orderkey") % 50 == 0)
    return o.select(
        F.concat_ws(".", F.lower(F.col("o_orderstatus")), F.col("o_orderkey")).alias("gml_id")
    ).orderBy("gml_id")


def q_dedup_representatives(spark, sf_dir):
    """Representative selection after LSH dedup: ids kept under the
    greedy drop-larger-id-per-pair rule (the standard web-pipeline
    policy; see `dedup_cc` for the true transitive collapse)."""
    docs = _read(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=8).where(
        F.col("jaccard_est") >= 0.5
    )
    kept = dedup.dedup_keep_representatives(docs, pairs)
    return kept.select("doc_id").orderBy("doc_id")


def q_dedup_cc(spark, sf_dir):
    """Connected components over the near-dup pair graph: every doc
    labeled with the min doc_id transitively reachable through LSH
    pairs (singletons map to themselves). Iterative min-label
    propagation, one shuffle per round; DuckDB twin = recursive CTE
    transitive closure over the identical pair set."""
    docs = _read(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=8).where(
        F.col("jaccard_est") >= 0.5
    )
    out = dedup.assign_components(docs.select("doc_id"), pairs)
    return out.select("doc_id", "component").orderBy("doc_id")


def q_w_sessionize(spark, sf_dir):
    """Gap-based sessionization (engine addition): per-user sessions
    split at 30-minute inactivity gaps — lag flag + running sum over
    ONE shuffle on the user key, then a map-side-combining rollup.
    Deterministic ordering by (ts, event_id); oracle = the same window
    arithmetic in DuckDB."""
    from gdal_vfr_spark.operators.sessions import sessionize

    e = _read(spark, sf_dir, "events")
    return sessionize(e, gap_minutes=30).orderBy("user_id", "session_idx")


def q_stream_sessionize(spark, sf_dir):
    """§2.10 + sessions — STATEFUL streaming sessionization
    (applyInPandasWithState with real cross-batch state: the open
    session per user). Events arrive as two time-ordered files split
    at the median timestamp; sessions closed by a 30-min gap emit in
    append mode, open sessions stay in state. Exact oracle: batch
    sessionize MINUS each user's final (still-open) session."""
    from gdal_vfr_spark.streaming.incremental import streaming_sessionize

    e = _read(spark, sf_dir, "events").select(
        "user_id", "event_id", F.col("ts").cast("timestamp").alias("ts")
    )
    cut = e.agg(F.expr("percentile_approx(ts, 0.5)").alias("c")).first()["c"]
    tmp, src = _stage_stream("gvs_ssess_", [
        b.repartition(1).sortWithinPartitions("ts", "event_id")
        for b in (e.where(F.col("ts") <= F.lit(cut)), e.where(F.col("ts") > F.lit(cut)))
    ])
    out = streaming_sessionize(
        spark,
        src,
        schema=e.schema,
        checkpoint_dir=os.path.join(tmp, "ckpt"),
        out_table=os.path.basename(tmp),
        gap_minutes=30,
    )
    return out.orderBy("user_id", "session_idx")


def _ulice_large_joiner(spark):
    return _joiner(spark, "ulice_large", lambda: PartitionedLineRangeJoiner(
        datagen.gen_ulice_large(spark, n_side=350), target_key="kod", max_dist=0.004,
    ))


def q_geo_range_join_large(spark, sf_dir, sort_barrier: bool = True):
    """Distance-band join at STREET scale — the partitioned-index
    counterpart to geo_range_join: sampled pages against a
    122,500-street grid (datagen.gen_ulice_large, distributed) via
    PartitionedLineRangeJoiner — segment endpoints never reach the
    driver, never broadcast; points drop map-side via the group
    presence set and shuffle once to meet their group's segments.
    Oracle = brute-force clamped-projection distances over the
    arithmetically regenerated street grid."""
    g = _events_geo(spark, sf_dir).where(F.col("event_id") % 200 == 1)
    out = _ulice_large_joiner(spark).apply(g, id_col="event_id")
    return _sort_once(
        out.select("event_id", F.col("neighbor_key").alias("kod"), "dist2"),
        sort_barrier,
    ).orderBy("event_id", "kod")


def q_geo_knn_lines_large(spark, sf_dir):
    """Bounded-radius kNN at STREET scale: the 3 nearest streets WITHIN
    max_dist per sampled page — the standard scale formulation of kNN
    over a huge target layer (bound the search radius, rank the band):
    PartitionedLineRangeJoiner band join + one rank window. Exact by
    construction (band distances are exact; rank ties break on kod
    identically in both engines)."""
    g = _events_geo(spark, sf_dir).where(F.col("event_id") % 200 == 1)
    out = _ulice_large_joiner(spark).apply_knn(g, 3, id_col="event_id")
    return _knn_rows(out)


def _am_large_joiner(spark):
    return _joiner(spark, "am_large", lambda: PartitionedPointRangeJoiner(
        datagen.gen_adresni_mista_large(spark, n_side=350), target_key="kod", max_dist=0.004,
    ))


def q_geo_knn_points_large(spark, sf_dir):
    """Bounded-radius kNN at ADDRESS-POINT scale (round-3 verdict item
    3): the 3 nearest of 122,500 grid address points WITHIN max_dist
    per sampled page, via PartitionedPointRangeJoiner.apply_knn — the
    partitioned point twin of geo_knn_lines_large. Target coordinates never reach
    the driver and are never broadcast (PartitionedPointRangeJoiner:
    distributed halo-registered group table + presence-set prune +
    cogrouped refine); kNN = band join + rank window. Exact by
    construction (identical float64 synthesis both engines; rank ties
    break on kod)."""
    g = _events_geo(spark, sf_dir).where(F.col("event_id") % 200 == 1)
    out = _am_large_joiner(spark).apply_knn(g, 3, id_col="event_id")
    return _knn_rows(out)


def q_graph_pagerank(spark, sf_dir):
    """Fixed-point PageRank (engine addition) over a synthesized
    50-node link graph derived from events: 3 unrolled iterations,
    integer-division contributions + bigint sums (order-free) so the
    DuckDB oracle — the same iterations as CTEs, kmeans-style — is
    bit-exact. Complements dedup_cc as the second iterative-DataFrame
    algorithm."""
    from gdal_vfr_spark.operators.graph import pagerank_fp

    e = (
        _read(spark, sf_dir, "events")
        .select(
            (F.col("user_id") % 50).alias("src"),
            ((F.col("user_id") * 7 + F.col("event_id")) % 50).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    return pagerank_fp(e, n_iter=3).orderBy("node")


def q_asof_join(spark, sf_dir):
    """As-of join (engine extra; absent in reference §2.11): each event
    aligned to the user's most recent order on/before the event time.
    Right side deduped to one order per (custkey, date) for determinism;
    oracle = DuckDB native ASOF JOIN. One window pass (one shuffle, no
    Python boundary)."""
    from gdal_vfr_spark.operators.asof import asof_join

    e = (
        _read(spark, sf_dir, "events")
        .where(F.col("event_id") % 5 == 0)
        .select(
            "event_id",
            F.col("user_id").alias("by_key"),
            F.col("ts").cast("timestamp").alias("t"),
        )
    )
    o = _read(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("by_key"),
        F.col("o_orderdate").cast("timestamp").alias("t"),
        "o_orderkey",
    )
    o1 = o.groupBy("by_key", "t").agg(F.max("o_orderkey").alias("o_orderkey"))
    out = asof_join(e, o1, on="t", by="by_key", right_cols=["o_orderkey"])
    return out.select("event_id", "o_orderkey").orderBy("event_id")


# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: spatial-join page counts per municipality on sf0.001
    (the minimum end-to-end slice from SURVEY.md §7.1 item 2)."""
    return q_geo_pip_counts(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # A correctness run of this contract records only the FIRST 50
    # entries, so they are ordered by evidence age (the rotation rule in
    # COVERAGE.md): queries changed this round first, then those whose
    # newest committed correctness row is oldest, 1-round-old rows at
    # the back. tests/test_oracle_pin.py pins the order.
    return {
        # --- (1) r1-r3-era stale driver rows ---
        "web_cap_per_domain": q_web_cap_per_domain,
        "s4_formats": q_s4_formats,
        "f9_dsn_extract": q_f9_dsn_extract,
        "f5_key_synthesis": q_f5_key_synthesis,
        "a5_max_fid": q_a5_max_fid,
        "p2_key_lookup": q_p2_key_lookup,
        "m3_merge_state": q_m3_merge_state,
        "so2_union": q_so2_union,
        "a1_pricing_summary": q_a1_pricing_summary,
        "a2_presence": q_a2_presence,
        "a4_null_tally": q_a4_null_tally,
        "j1_classify": q_j1_classify,
        "j2_tombstone_anti": q_j2_tombstone_anti,
        "j3_dedup_window": q_j3_dedup_window,
        "p4_coalesce_chain": q_p4_coalesce_chain,
        "so1_symmetric_diff": q_so1_symmetric_diff,
        "sort_topk": q_sort_topk,
        "window_rank": q_window_rank,
        "f_dates": q_f_dates,
        "f_interval_expand": q_f_interval_expand,
        "f_json_extract": q_f_json_extract,
        # --- (2) optimized in round 6 ---
        "embedding_near_dup": q_embedding_near_dup,
        "text_repetition": q_text_repetition,
        "text_quality": q_text_quality,
        "text_lang": q_text_lang,
        "pipeline_clean": q_pipeline_clean,
        "pipeline_clean_full": q_pipeline_clean_full,
        "pipeline_e2e": q_pipeline_e2e,
        "text_extract": q_text_extract,
        "ann_int8_topk": q_ann_int8_topk,
        "ann_topk": q_ann_topk,
        "sketch_cms_topk": q_sketch_cms_topk,
        "sketch_hll_distinct": q_sketch_hll_distinct,
        "sketch_hll_by_source": q_sketch_hll_by_source,
        "dedup_semantic": q_dedup_semantic,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_lsh_star": q_dedup_lsh_star,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_incremental": q_dedup_incremental,
        "dedup_exact_substring": q_dedup_exact_substring,
        "text_bm25_topk": q_text_bm25_topk,
        "web_url_canonicalize": q_web_url_canonicalize,
        "geo_knn": q_geo_knn,
        "geo_knn_lines": q_geo_knn_lines,
        "geo_knn_lines_large": q_geo_knn_lines_large,
        "geo_range_join": q_geo_range_join,
        "geo_pip_hierarchy3": q_geo_pip_hierarchy3,
        "dedup_cc": q_dedup_cc,
        "dedup_keep_best": q_dedup_keep_best,
        "dedup_representatives": q_dedup_representatives,
        # --- (3) round-5 relative order ---
        "multimodal_meta": q_multimodal_meta,
        "multimodal_frames": q_multimodal_frames,
        "sketch_bottomk_quantiles": q_sketch_bottomk_quantiles,
        "web_blocklist": q_web_blocklist,
        "text_clean_lines": q_text_clean_lines,
        "dedup_strip_boilerplate": q_dedup_strip_boilerplate,
        "dedup_decontaminate_bloom": q_dedup_decontaminate_bloom,
        "stream_dedup": q_stream_dedup,
        "stream_minhash_dedup": q_stream_minhash_dedup,
        "stream_first_per_ttl": q_stream_first_per_ttl,
        "stream_sessionize": q_stream_sessionize,
        "a3_change_tally": q_a3_change_tally,
        "stream_change_merge": q_stream_change_merge,
        "skew_salted_count": q_skew_salted_count,
        "stream_window_counts": q_stream_window_counts,
        "stream_pip_counts": q_stream_pip_counts,
        "skew_salted_join": q_skew_salted_join,
        "p1_layer_select": q_p1_layer_select,
        "p5_list_downgrade": q_p5_list_downgrade,
        "f7_regex_extract": q_f7_regex_extract,
        "p6_align_schema": q_p6_align_schema,
        "geo_pip_parcely_large": q_geo_pip_parcely_large,
        "w_sessionize": q_w_sessionize,
        "graph_pagerank": q_graph_pagerank,
        "geo_range_join_large": q_geo_range_join_large,
        "sample_temperature": q_sample_temperature,
        "text_quantiles": q_text_quantiles,
        "geo_pip_hierarchy_parcel": q_geo_pip_hierarchy_parcel,
        "a2_wkb_validity": q_a2_wkb_validity,
        "geo_tile_bbox_read": q_geo_tile_bbox_read,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_ivf_indexed": q_ann_ivf_indexed,
        "embedding_near_dup_exact": q_embedding_near_dup_exact,
        "geo_pip_hierarchy": q_geo_pip_hierarchy,
        "asof_join": q_asof_join,
        "web_domain_stats": q_web_domain_stats,
        "m1_mode_dispatch": q_m1_mode_dispatch,
        "s6_sink_toggles": q_s6_sink_toggles,
        "s2_retry_plan": q_s2_retry_plan,
        "s7_export_fanout": q_s7_export_fanout,
        "p7_layer_names": q_p7_layer_names,
        "m2_forced_drop": q_m2_forced_drop,
        "m4_schema_per_file": q_m4_schema_per_file,
        "geo_knn_points_large": q_geo_knn_points_large,
        "multimodal_decode": q_multimodal_decode,
        "stream_decontaminate": q_stream_decontaminate,
        "dedup_decontaminate": q_dedup_decontaminate,
        "sketch_histogram": q_sketch_histogram,
        "geo_shape_stats": q_geo_shape_stats,
        "sample_epochs": q_sample_epochs,
        "w_tumbling_hour": q_w_tumbling_hour,
        "geo_pip_counts": q_geo_pip_counts,
        "geo_pip_rows": q_geo_pip_rows,
        "a2_wkb_presence": q_a2_wkb_presence,
        "p4_wkb_coalesce": q_p4_wkb_coalesce,
        "geo_tile_counts": q_geo_tile_counts,
        "dedup_exact": q_dedup_exact,
        "dedup_simhash": q_dedup_simhash,
        "text_tokens": q_text_tokens,
        "text_vocab": q_text_vocab,
        "text_pii_scrub": q_text_pii_scrub,
        "text_pack_bins": q_text_pack_bins,
        "text_chunks": q_text_chunks,
        "text_source_stats": q_text_source_stats,
        "sample_stratified": q_sample_stratified,
        "text_fingerprint": q_text_fingerprint,
        "geo_tile_join": q_geo_tile_join,
    }


def oracle_sql() -> dict[str, str]:
    geo = GEO_SQL.strip()
    # HLL constants — derived from the SAME formulas as
    # operators/sketches.py so the one float literal (the estimate
    # numerator) is bit-identical in both engines (repr round-trips
    # exactly through DuckDB's double parser).
    from gdal_vfr_spark.operators import sketches as _sk

    _hll_m = 1 << _sk.HLL_P
    _hll_rho_max = 4 * _sk.HLL_HEX_CHARS - _sk.HLL_P + 1
    _hll_num = (
        0.7213 / (1.0 + 1.079 / _hll_m) * _hll_m * _hll_m * (2.0**_hll_rho_max) * 1e6
    )
    # epoch-upsample thresholds: SAME python arithmetic as
    # sampling.epoch_upsample (int truncation of frac * 2^32)
    _ep_weights = {"src0": 2.25, "src1": 1.5, "src2": 0.4}
    _ep_case = (
        "CASE "
        + " ".join(
            f"WHEN source = '{s}' THEN {int(w)}"
            f" + (CASE WHEN b < {int((w - int(w)) * (1 << 32))} THEN 1 ELSE 0 END)"
            for s, w in sorted(_ep_weights.items())
        )
        + " ELSE 1 END"
    )
    return {
        "a1_pricing_summary": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "a2_presence": f"""
            SELECT count(*) AS n_total, count(lon) AS n_lon, count(lat) AS n_lat
            FROM ({geo})
        """,
        "a4_null_tally": f"""
            SELECT CAST(sum(CASE WHEN lon IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
                   count(*) AS n_total
            FROM ({geo})
        """,
        "j1_classify": """
            WITH current AS (SELECT o_orderkey AS gml_id FROM orders WHERE o_orderkey % 3 <> 0),
                 changes AS (SELECT o_orderkey AS gml_id FROM orders WHERE o_orderkey % 2 = 0)
            SELECT CASE WHEN c.gml_id IS NULL THEN 'add' ELSE 'update' END AS action,
                   count(*) AS n
            FROM changes ch LEFT JOIN current c ON ch.gml_id = c.gml_id
            GROUP BY 1 ORDER BY action
        """,
        "j2_tombstone_anti": """
            SELECT l_returnflag, count(*) AS n FROM lineitem
            WHERE l_orderkey NOT IN (
              SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 5 = 0)
            GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "j3_dedup_window": """
            SELECT user_id, event_type, event_id AS first_event_id FROM (
              SELECT user_id, event_type, event_id,
                     row_number() OVER (PARTITION BY user_id, event_type
                                        ORDER BY ts ASC, event_id ASC) AS rn
              FROM events) WHERE rn = 1 AND user_id < 100
        """,
        "p4_coalesce_chain": """
            SELECT coalesce(CASE WHEN event_id % 3 <> 0 THEN 'generalizovana' END,
                            CASE WHEN event_id % 4 <> 0 THEN 'originalni' END,
                            CASE WHEN event_id % 5 <> 0 THEN 'bod' END) AS geometry_source,
                   count(*) AS n
            FROM events GROUP BY 1 ORDER BY geometry_source
        """,
        "so1_symmetric_diff": """
            SELECT k, '+' AS diff FROM (
              SELECT c_custkey AS k FROM customer
              EXCEPT ALL SELECT DISTINCT o_custkey FROM orders)
            UNION ALL
            SELECT k, '-' AS diff FROM (
              SELECT DISTINCT o_custkey AS k FROM orders
              EXCEPT ALL SELECT c_custkey FROM customer)
            ORDER BY diff, k
        """,
        "sort_topk": """
            SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
        """,
        "window_rank": """
            SELECT o_custkey, o_orderkey, CAST(rn AS BIGINT) AS rn FROM (
              SELECT o_custkey, o_orderkey,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
              FROM orders) WHERE o_custkey < 50
        """,
        "f_dates": """
            SELECT o_orderkey,
                   CAST(CAST(date_trunc('month', o_orderdate) AS DATE) - 1 AS TIMESTAMP) AS last_day_prev_month,
                   CAST(CAST(o_orderdate AS DATE) - 1 AS TIMESTAMP) AS yesterday
            FROM orders WHERE o_orderkey % 100 = 0
        """,
        "f_interval_expand": """
            SELECT o_orderkey, CAST(unnest(generate_series(
                     CAST(o_orderdate AS DATE),
                     CAST(o_orderdate AS DATE) + 2, INTERVAL 1 DAY)) AS TIMESTAMP) AS day
            FROM orders WHERE o_orderkey % 500 = 0
        """,
        "f_json_extract": """
            SELECT event_type,
                   CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
                   count(*) AS n
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "w_tumbling_hour": """
            SELECT date_trunc('hour', ts) AS hour_ts, event_type, count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY hour_ts, event_type
        """,
        "geo_pip_counts": f"""
            SELECT {ORACLE_OBEC} AS obec_kod, count(*) AS n_pages
            FROM ({geo}) WHERE lon IS NOT NULL
            GROUP BY 1 ORDER BY obec_kod
        """,
        "stream_pip_counts": f"""
            SELECT {ORACLE_OBEC} AS obec_kod, count(*) AS n_pages
            FROM ({geo}) WHERE lon IS NOT NULL
            GROUP BY 1 ORDER BY obec_kod
        """,
        "geo_pip_rows": f"""
            SELECT event_id, {ORACLE_OBEC} AS obec_kod
            FROM ({geo}) WHERE lon IS NOT NULL AND event_id % 10 = 1
        """,
        "geo_tile_bbox_read": f"""
            SELECT {_duck_cell('lon', 'lat', 10)} AS tile_prefix, count(*) AS n
            FROM ({geo})
            WHERE lon IS NOT NULL
              AND lon >= 14.2 AND lon < 14.6 AND lat >= 49.7 AND lat < 50.1
            GROUP BY 1 ORDER BY tile_prefix
        """,
        "a2_wkb_validity": """
            WITH k AS (
              SELECT 500000 + i AS kod FROM (SELECT unnest(range(0, 100)) AS i)
            ), c AS (
              SELECT kod,
                     CASE WHEN kod % 7 = 3 THEN 'invalid'
                          WHEN (kod * 7919) % 97 < 29 THEN 'null'
                          ELSE 'valid' END AS s
              FROM k
            )
            SELECT CAST(sum(CASE WHEN s = 'valid' THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
                   CAST(sum(CASE WHEN s = 'invalid' THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid,
                   CAST(sum(CASE WHEN s = 'null' THEN 1 ELSE 0 END) AS BIGINT) AS n_null
            FROM c
        """,
        "geo_pip_hierarchy_parcel": f"""
            SELECT {ORACLE_OBEC} AS obec_kod, count(*) AS n_pages
            FROM ({geo}) WHERE lon IS NOT NULL AND event_id % 3 = 0
            GROUP BY 1 ORDER BY obec_kod
        """,
        "geo_pip_parcely_large": f"""
            SELECT 50000000 + CAST(floor((lat - 49.5) * 350) AS BIGINT) * 350
                   + CAST(floor((lon - 14.0) * 350) AS BIGINT) AS parcel_kod,
                   count(*) AS n_pages
            FROM ({geo}) WHERE lon IS NOT NULL AND event_id % 3 = 0
            GROUP BY 1 ORDER BY parcel_kod
        """,
        "geo_knn": f"""
            WITH centers AS (
              SELECT 500000 + iy.i * 10 + ix.i AS kod,
                     14.0 + (ix.i + 0.5) * 0.1 AS cx,
                     49.5 + (iy.i + 0.5) * 0.1 AS cy
              FROM (SELECT unnest(range(0, 10)) AS i) ix,
                   (SELECT unnest(range(0, 10)) AS i) iy
            ), pts AS (
              SELECT event_id, lon, lat FROM ({geo})
              WHERE lon IS NOT NULL AND event_id % 100 = 1
            )
            SELECT event_id, kod, CAST(rank AS BIGINT) AS rank FROM (
              SELECT p.event_id, c.kod,
                     row_number() OVER (PARTITION BY p.event_id ORDER BY
                       (p.lon - c.cx) * (p.lon - c.cx) + (p.lat - c.cy) * (p.lat - c.cy) ASC,
                       c.kod ASC) AS rank
              FROM pts p CROSS JOIN centers c
            ) WHERE rank <= 3
        """,
        "geo_knn_lines": f"""
            WITH prm AS (
              SELECT (CAST(15 AS DOUBLE) - 14) / 10 AS gdx,
                     (CAST(50.5 AS DOUBLE) - 49.5) / 10 AS gdy,
                     CAST(1 AS DOUBLE) / 10 AS f01,
                     CAST(9 AS DOUBLE) / 10 AS f09
            ), streets AS (
              -- exact regeneration of datagen.gen_ulice_pdf endpoints:
              -- kod sequential in (iy, ix, s) order; horizontal segment
              -- from x0+0.1*dx to x0+0.9*dx at y0+((s+1)/3)*dy
              SELECT 100000 + (iy.i * 10 + ix.i) * 2 + s.i AS kod,
                     (14 + ix.i * prm.gdx) + prm.f01 * prm.gdx AS x1,
                     (49.5 + iy.i * prm.gdy) + (CAST(s.i + 1 AS DOUBLE) / 3) * prm.gdy AS y1,
                     (14 + ix.i * prm.gdx) + prm.f09 * prm.gdx AS x2,
                     (49.5 + iy.i * prm.gdy) + (CAST(s.i + 1 AS DOUBLE) / 3) * prm.gdy AS y2
              FROM (SELECT unnest(range(0, 10)) AS i) ix,
                   (SELECT unnest(range(0, 10)) AS i) iy,
                   (SELECT unnest(range(0, 2)) AS i) s, prm
            ), pts AS (
              SELECT event_id, lon, lat FROM ({geo})
              WHERE lon IS NOT NULL AND event_id % 100 = 1
            ), scored AS (
              -- clamped-projection point->segment distance, same float64
              -- op order as geo.knn._point_seg_dist2
              SELECT p.event_id, st.kod,
                     (p.lon - (st.x1 + LEAST(GREATEST(
                         ((p.lon - st.x1) * (st.x2 - st.x1) + (p.lat - st.y1) * (st.y2 - st.y1))
                         / ((st.x2 - st.x1) * (st.x2 - st.x1) + (st.y2 - st.y1) * (st.y2 - st.y1)),
                       0), 1) * (st.x2 - st.x1)))
                     * (p.lon - (st.x1 + LEAST(GREATEST(
                         ((p.lon - st.x1) * (st.x2 - st.x1) + (p.lat - st.y1) * (st.y2 - st.y1))
                         / ((st.x2 - st.x1) * (st.x2 - st.x1) + (st.y2 - st.y1) * (st.y2 - st.y1)),
                       0), 1) * (st.x2 - st.x1)))
                     + (p.lat - (st.y1 + LEAST(GREATEST(
                         ((p.lon - st.x1) * (st.x2 - st.x1) + (p.lat - st.y1) * (st.y2 - st.y1))
                         / ((st.x2 - st.x1) * (st.x2 - st.x1) + (st.y2 - st.y1) * (st.y2 - st.y1)),
                       0), 1) * (st.y2 - st.y1)))
                     * (p.lat - (st.y1 + LEAST(GREATEST(
                         ((p.lon - st.x1) * (st.x2 - st.x1) + (p.lat - st.y1) * (st.y2 - st.y1))
                         / ((st.x2 - st.x1) * (st.x2 - st.x1) + (st.y2 - st.y1) * (st.y2 - st.y1)),
                       0), 1) * (st.y2 - st.y1)))
                     AS d2
              FROM pts p CROSS JOIN streets st
            )
            SELECT event_id, kod, CAST(rank AS BIGINT) AS rank FROM (
              SELECT event_id, kod,
                     row_number() OVER (PARTITION BY event_id
                                        ORDER BY d2 ASC, kod ASC) AS rank
              FROM scored
            ) WHERE rank <= 3 ORDER BY event_id, rank
        """,
        "geo_range_join": f"""
            WITH {_duck_streets_scored_ctes(geo)}
            SELECT event_id, kod, d2 AS dist2 FROM scored
            WHERE d2 <= {repr(0.01 * 0.01)}
            ORDER BY event_id, kod
        """,
        "geo_tile_counts": f"""
            SELECT {_duck_cell('lon', 'lat', 12)} AS tile_key, count(*) AS n
            FROM ({geo}) GROUP BY 1 ORDER BY tile_key
        """,
        "dedup_exact": """
            SELECT min(doc_id) AS doc_id, count(*) AS n_dups
            FROM documents GROUP BY md5(text) ORDER BY doc_id
        """,
        "dedup_minhash_lsh": _duck_minhash_sql() + " ORDER BY id_a, id_b",
        "dedup_lsh_star": _duck_minhash_star_sql() + " ORDER BY id_a, id_b",
        "stream_first_per_ttl": f"""
            WITH e AS (
              SELECT user_id, event_id, epoch_us(ts) // 1000 AS ms,
                     least((epoch_us(ts) - {_STTL_BASE_US}) // {_STTL_BATCH_US}, 2) AS b
              FROM events
            ),
            wm AS (SELECT max(ms) - 1000 AS wm2 FROM e WHERE b = 0),
            ranked AS (
              SELECT user_id, event_id, ms, b,
                     row_number() OVER (
                       PARTITION BY user_id, b ORDER BY ms, event_id) AS rn,
                     min(ms) OVER (PARTITION BY user_id, b) AS bmin_ms
              FROM e
            ),
            agg AS (
              SELECT user_id,
                     bool_or(b = 0) AS d1, bool_or(b = 1) AS d2,
                     bool_or(b = 2) AS d3,
                     min(CASE WHEN b = 0 THEN ms END) AS t1_ms
              FROM e GROUP BY user_id
            ),
            emits AS (
              SELECT r.user_id, r.event_id, r.bmin_ms AS emit_ms, r.b
              FROM ranked r JOIN agg a USING (user_id), wm
              WHERE r.rn = 1 AND (
                 (r.b = 0)
                 OR (r.b = 1 AND NOT a.d1)
                 OR (r.b = 2 AND NOT (a.d2 AND NOT a.d1)   -- live state from a b2 emission
                     AND (NOT a.d1                          -- never emitted in b1
                          OR (NOT a.d2                      -- b1 state with no b2 data...
                              AND wm.wm2 > a.t1_ms + {_STTL_TTL_MS})))  -- ...expired at b2
              )
            )
            SELECT user_id, event_id, CAST(emit_ms AS BIGINT) AS emit_ms
            FROM emits ORDER BY user_id, emit_ms
        """,
        "stream_minhash_dedup": f"""
            WITH {_duck_sig_bands_cte()},
            b AS (
              SELECT doc_id, band_key,
                     CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS batch
              FROM bands
            ),
            coll AS (
              SELECT DISTINCT x.doc_id
              FROM b x JOIN b y ON x.band_key = y.band_key
               AND (y.batch < x.batch
                    OR (y.batch = x.batch AND y.doc_id < x.doc_id))
            )
            SELECT d.doc_id,
                   CASE WHEN d.doc_id IN (SELECT doc_id FROM coll)
                        THEN 'dup' ELSE 'first' END AS status
            FROM documents d ORDER BY d.doc_id
        """,
        "dedup_incremental": f"""
            WITH {_duck_sig_bands_cte()},
            hh AS (
              SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 3 <> 0
            ),
            bh AS (
              SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 = 0
            ),
            exact AS (SELECT DISTINCT bh.doc_id FROM bh JOIN hh USING (h)),
            nearc AS (
              SELECT DISTINCT b.doc_id
              FROM bands b JOIN bands h ON b.band_key = h.band_key
              WHERE b.doc_id % 3 = 0 AND h.doc_id % 3 <> 0
            )
            SELECT d.doc_id,
                   CASE WHEN d.doc_id IN (SELECT doc_id FROM exact) THEN 'exact'
                        WHEN d.doc_id IN (SELECT doc_id FROM nearc) THEN 'near'
                        ELSE 'kept' END AS status
            FROM documents d WHERE d.doc_id % 3 = 0 ORDER BY d.doc_id
        """,
        "dedup_ngram_jaccard": _duck_jaccard_sql() + " ORDER BY id_a, id_b",
        "dedup_simhash": _duck_simhash_sql() + " ORDER BY doc_id",
        "text_lang": _duck_lang_sql() + " ORDER BY doc_id",
        "text_quality": _duck_quality_sql() + " ORDER BY doc_id",
        "text_pii_scrub": """
            SELECT event_id,
                   regexp_replace(
                     regexp_replace(
                       'reach user' || CAST(event_id AS VARCHAR) || '@mail-'
                         || CAST(event_id % 7 AS VARCHAR)
                         || '.example.org, tel 555-123-4'
                         || lpad(CAST(event_id % 1000 AS VARCHAR), 3, '0')
                         || ' or 777 888 999, ref ' || CAST(event_id AS VARCHAR),
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                     '\\+?[0-9]{3}[- .][0-9]{3}[- .][0-9]{3,4}', '[PHONE]', 'g') AS scrubbed
            FROM events WHERE event_id % 250 = 0 ORDER BY event_id
        """,
        "text_pack_bins": f"""
            WITH t AS (
              SELECT doc_id, source, len({_duck_tokens('text')}) AS n_tokens
              FROM documents
            ), c AS (
              SELECT doc_id, source, n_tokens,
                CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS before
              FROM t
            )
            SELECT doc_id, source, n_tokens,
                   CAST(floor(CAST(before AS DOUBLE) / 512) AS BIGINT) AS bin,
                   before % 512 AS bin_offset
            FROM c ORDER BY source, doc_id
        """,
        "text_chunks": f"""
            WITH t AS (
              SELECT doc_id, {_duck_tokens('text')} AS toks FROM documents
              WHERE doc_id % 25 = 3
            ), e AS (
              SELECT doc_id, toks, len(toks) AS n,
                     unnest(range(0, len(toks), 30)) AS token_start
              FROM t WHERE len(toks) > 0
            )
            SELECT doc_id, token_start,
                   least(40, n - token_start) AS chunk_len,
                   array_to_string(list_slice(toks, token_start + 1,
                     token_start + least(40, n - token_start)), ' ') AS chunk_text
            FROM e ORDER BY doc_id, token_start
        """,
        "text_repetition": _duck_repetition_sql() + " ORDER BY doc_id",
        "text_vocab": f"""
            SELECT token, count(*) AS n_occ FROM (
              SELECT unnest({_duck_tokens('text')}) AS token FROM documents
            ) GROUP BY token ORDER BY n_occ DESC, token ASC LIMIT 20
        """,
        "sample_epochs": f"""
            WITH d AS (
              SELECT source, doc_id,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS BIGINT) AS b
              FROM documents
            ),
            n AS (SELECT source, doc_id, {_ep_case} AS n FROM d)
            SELECT source,
                   CAST(sum(n) AS BIGINT) AS n_copies,
                   CAST(count(CASE WHEN n >= 1 THEN 1 END) AS BIGINT) AS n_docs,
                   CAST(sum(n * (n + 1) // 2) AS BIGINT) AS sum_copy_idx
            FROM n GROUP BY source HAVING sum(n) > 0 ORDER BY source
        """,
        "sketch_bottomk_quantiles": """
            WITH base AS (
              SELECT source, doc_id, length(text) AS v,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT) AS h
              FROM documents
            ), stats AS (
              SELECT source, count(*) AS n_rows FROM base GROUP BY source
            ), samp AS (
              SELECT b.source, b.doc_id, b.v, b.h, s.n_rows
              FROM base b JOIN stats s USING (source)
              WHERE b.h < CASE WHEN s.n_rows <= 16 THEN 1152921504606846976
                          ELSE (1152921504606846976 // s.n_rows) * 16 END
            ), cut AS (
              SELECT source, n_rows, v,
                     row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
              FROM samp
            ), agg AS (
              SELECT source, max(n_rows) AS n_rows, count(*) AS sample_n,
                     list_sort(list(v)) AS vals
              FROM cut WHERE rn <= 8 GROUP BY source
            )
            SELECT source, n_rows, sample_n,
              vals[CAST(floor(0.5 * (sample_n - 1)) AS INT) + 1] AS q_50,
              vals[CAST(floor(0.9 * (sample_n - 1)) AS INT) + 1] AS q_90,
              vals[CAST(floor(0.99 * (sample_n - 1)) AS INT) + 1] AS q_99
            FROM agg ORDER BY source
        """,
        "sketch_hll_distinct": f"""
            WITH toks AS (
              SELECT unnest({_duck_tokens('text')}) AS token FROM documents
            ),
            h AS (
              SELECT CAST(('0x' || substr(md5(token), 1, {_sk.HLL_HEX_CHARS}))::UBIGINT AS BIGINT) AS h
              FROM toks WHERE token IS NOT NULL
            ),
            hw AS (SELECT h % {_hll_m} AS idx, h // {_hll_m} AS w FROM h),
            regs AS (
              SELECT idx,
                     max(CASE WHEN w = 0 THEN {_hll_rho_max}
                              ELSE {_hll_rho_max} - length(bin(w)) END) AS mj
              FROM hw GROUP BY idx
            ),
            s AS (
              SELECT count(*) AS nonzero_regs,
                     sum(1::BIGINT << ({_hll_rho_max} - mj)) AS present_denom
              FROM regs
            )
            SELECT CAST({_hll_m} AS BIGINT) AS m,
                   CAST(nonzero_regs AS BIGINT) AS nonzero_regs,
                   CAST(present_denom
                        + ({_hll_m} - nonzero_regs) * (1::BIGINT << {_hll_rho_max})
                        AS BIGINT) AS denom_scaled,
                   CAST(round({_hll_num!r} / CAST(present_denom
                        + ({_hll_m} - nonzero_regs) * (1::BIGINT << {_hll_rho_max})
                        AS DOUBLE)) AS BIGINT) AS est_e6
            FROM s
        """,
        "sketch_hll_by_source": f"""
            WITH toks AS (
              SELECT source, unnest({_duck_tokens('text')}) AS token FROM documents
            ),
            h AS (
              SELECT source,
                     CAST(('0x' || substr(md5(token), 1, {_sk.HLL_HEX_CHARS}))::UBIGINT AS BIGINT) AS h
              FROM toks WHERE token IS NOT NULL
            ),
            hw AS (SELECT source, h % {_hll_m} AS idx, h // {_hll_m} AS w FROM h),
            regs AS (
              SELECT source, idx,
                     max(CASE WHEN w = 0 THEN {_hll_rho_max}
                              ELSE {_hll_rho_max} - length(bin(w)) END) AS mj
              FROM hw GROUP BY source, idx
            ),
            s AS (
              SELECT source, count(*) AS nonzero_regs,
                     sum(1::BIGINT << ({_hll_rho_max} - mj)) AS present_denom
              FROM regs GROUP BY source
            )
            SELECT source, CAST({_hll_m} AS BIGINT) AS m,
                   CAST(nonzero_regs AS BIGINT) AS nonzero_regs,
                   CAST(present_denom
                        + ({_hll_m} - nonzero_regs) * (1::BIGINT << {_hll_rho_max})
                        AS BIGINT) AS denom_scaled,
                   CAST(round({_hll_num!r} / CAST(present_denom
                        + ({_hll_m} - nonzero_regs) * (1::BIGINT << {_hll_rho_max})
                        AS DOUBLE)) AS BIGINT) AS est_e6
            FROM s ORDER BY source
        """,
        "sketch_histogram": """
            SELECT source,
                   CAST(CASE WHEN n_chars <= 0 THEN 0
                             ELSE length(bin(n_chars)) END AS INT) AS bin,
                   count(*) AS n
            FROM documents GROUP BY 1, 2 ORDER BY source, bin
        """,
        "sketch_cms_topk": f"""
            WITH toks AS (
              SELECT unnest({_duck_tokens('text')}) AS token FROM documents
            ),
            expanded AS (
              SELECT token, t.r AS row,
                     CAST(('0x' || substr(md5(token), 1 + 8 * t.r, 8))::UBIGINT
                          % {_sk.CMS_WIDTH} AS BIGINT) AS bucket
              FROM toks, range({_sk.CMS_DEPTH}) t(r)
            ),
            counters AS (
              SELECT row, bucket, count(*) AS cnt FROM expanded GROUP BY row, bucket
            ),
            cexp AS (
              SELECT DISTINCT token, row, bucket FROM expanded
            ),
            est AS (
              SELECT c.token, min(coalesce(k.cnt, 0)) AS est_occ
              FROM cexp c LEFT JOIN counters k USING (row, bucket)
              GROUP BY c.token
            )
            SELECT token, CAST(est_occ AS BIGINT) AS est_occ
            FROM est ORDER BY est_occ DESC, token ASC LIMIT 20
        """,
        "text_source_stats": f"""
            WITH q AS ({_duck_quality_sql()})
            SELECT d.source, count(*) AS n_docs,
                   CAST(sum(CAST(q.quality AS DECIMAL(18,6))) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS avg_quality,
                   min(q.quality) AS min_quality, max(q.quality) AS max_quality
            FROM documents d JOIN q ON d.doc_id = q.doc_id
            GROUP BY d.source ORDER BY d.source
        """,
        "sample_stratified": f"""
            SELECT doc_id, lang FROM documents
            WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT <
              CASE lang WHEN 'es' THEN {int(1.0 * (1 << 32))}
                        WHEN 'de' THEN {int(0.5 * (1 << 32))}
                        WHEN 'en' THEN {int(0.25 * (1 << 32))}
                        ELSE {int(0.1 * (1 << 32))} END
            ORDER BY doc_id
        """,
        "text_tokens": f"""
            SELECT source, CAST(sum(n_tokens) AS BIGINT) AS total_tokens, CAST(max(n_tokens) AS BIGINT) AS max_tokens,
                   count(*) AS n_docs
            FROM (SELECT source, len({_duck_tokens('text')}) AS n_tokens FROM documents)
            GROUP BY source ORDER BY source
        """,
        "text_fingerprint": f"""
            SELECT lang, count(DISTINCT fp) AS n_distinct, count(*) AS n
            FROM (SELECT lang,
                         md5(array_to_string(list_sort(list_distinct({_duck_tokens('text')})), ' ')) AS fp
                  FROM documents)
            GROUP BY lang ORDER BY lang
        """,
        "text_extract": _duck_text_extract_sql(),
        "geo_tile_join": _duck_tile_join_sql(),
        "pipeline_e2e": _duck_pipeline_sql(),
        "stream_dedup": """
            WITH s AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000, text FROM documents
            )
            SELECT md5(text) AS content_md5, min(doc_id) AS doc_id
            FROM s GROUP BY 1 ORDER BY doc_id
        """,
        "stream_change_merge": """
            WITH c1 AS (SELECT o_orderkey AS gml_id, o_orderstatus AS status
                        FROM orders WHERE o_orderkey % 7 = 0),
                 c2 AS (SELECT o_orderkey AS gml_id, 'X2' AS status
                        FROM orders WHERE o_orderkey % 5 = 0),
                 final AS (SELECT * FROM c2
                           UNION ALL
                           SELECT * FROM c1
                           WHERE gml_id NOT IN (SELECT gml_id FROM c2))
            SELECT status, count(*) AS n FROM final GROUP BY status ORDER BY status
        """,
        "skew_salted_count": """
            SELECT event_type, count(*) AS n FROM events
            GROUP BY event_type ORDER BY event_type
        """,
        "stream_window_counts": """
            SELECT date_trunc('hour', ts) AS hour_ts, event_type, count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY hour_ts, event_type
        """,
        "skew_salted_join": """
            WITH f AS (
              SELECT CASE WHEN user_id % 10 < 5 THEN 0 ELSE user_id END AS k
              FROM events),
            d AS (SELECT DISTINCT k, k % 7 AS zone FROM f)
            SELECT zone, count(*) AS n FROM f JOIN d USING (k)
            GROUP BY zone ORDER BY zone
        """,
        "a3_change_tally": """
            SELECT o_orderstatus AS layer,
                   (['add', 'update', 'delete'])[CAST(o_orderkey % 3 + 1 AS BIGINT)] AS action,
                   count(*) AS n
            FROM orders GROUP BY 1, 2 ORDER BY layer, action
        """,
        "p1_layer_select": """
            SELECT event_type AS layer, count(*) AS n FROM events
            WHERE event_type IN ('click', 'view') GROUP BY 1 ORDER BY layer
        """,
        "p5_list_downgrade": """
            SELECT doc_id,
                   array_to_string((regexp_split_to_array(lower(text), '[^a-z0-9]+'))[1:3], ',')
                     AS head_tokens
            FROM documents ORDER BY doc_id
        """,
        "p6_align_schema": """
            SELECT event_type, event_id, user_id FROM events
            WHERE event_id % 250 = 0 ORDER BY event_id
        """,
        "f7_regex_extract": """
            SELECT regexp_extract('OB_' || CAST(event_id % 997 AS VARCHAR) || '_UKSH_2024'
                     || lpad(CAST(event_id % 12 + 1 AS VARCHAR), 2, '0') || '15.xml.gz',
                     '(\\d{8})', 1) AS batch_date,
                   count(*) AS n
            FROM events GROUP BY 1 ORDER BY batch_date
        """,
        "ann_topk": _duck_cosine_topk_sql() + " ORDER BY query_id, rank",
        "geo_shape_stats": """
            WITH g AS (SELECT a.ix, b.iy FROM range(10) a(ix), range(10) b(iy)),
            c AS (
              SELECT 500000 + iy * 10 + ix AS kod,
                     14.0 + ix * ((15.0 - 14.0) / 10) AS x0,
                     49.5 + iy * ((50.5 - 49.5) / 10) AS y0,
                     (15.0 - 14.0) / 10 AS dx,
                     (50.5 - 49.5) / 10 AS dy
              FROM g)
            SELECT kod,
              CAST(round(dx * dy * 1e9) AS BIGINT) AS area_e9,
              CAST(round((2 * dx + 2 * dy) * 1e9) AS BIGINT) AS perim_e9,
              CAST(round((x0 + dx / 2) * 1e6) AS BIGINT) AS cx_e6,
              CAST(round((y0 + dy / 2) * 1e6) AS BIGINT) AS cy_e6,
              CASE WHEN (kod * 7919) % 97 >= 29
                   THEN CAST(round(((x0 + dx - dx * 0.02) - (x0 + dx * 0.02))
                                 * ((y0 + dy - dy * 0.02) - (y0 + dy * 0.02))
                                 * 1e9) AS BIGINT)
                   ELSE NULL END AS gen_area_e9
            FROM c ORDER BY kod
        """,
        "ann_int8_topk": _duck_int8_topk_sql(),
        "ann_lsh_topk": _duck_srp_topk_sql(),
        "ann_ivf_topk": _duck_ivf_topk_sql(),
        "dedup_semantic": _duck_semantic_dedup_sql(),
        "ann_ivf_indexed": _duck_ivf_topk_sql(),
        "embedding_near_dup_exact": """
            WITH scored AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                (list_reduce(list_prepend(0.0, list_transform(list_zip(a.embedding, b.embedding),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y))
                / (sqrt(list_reduce(list_prepend(0.0, list_transform(a.embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (x, y) -> x + y))
                   * sqrt(list_reduce(list_prepend(0.0, list_transform(b.embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (x, y) -> x + y))) AS cosine
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            )
            SELECT id_a, id_b FROM scored WHERE cosine >= 0.4 ORDER BY id_a, id_b
        """,
        "geo_pip_hierarchy": f"""
            SELECT {ORACLE_OBEC} AS obec_kod, count(*) AS n_pages
            FROM ({geo}) WHERE lon IS NOT NULL
            GROUP BY 1 ORDER BY obec_kod
        """,
        "geo_pip_hierarchy3": """
            -- arithmetic regeneration of gen_stavebni_objekty /
            -- gen_adresni_mista: so_kod sequential in (iy, ix, b) order;
            -- 1 + so_kod%3 addresses per building, am_kod sequential in
            -- generation order; am_kod % 25 == 7 lacks a geotag;
            -- obec parent = 500000 + (kiy//2)*10 + kix//2
            WITH so AS (
              SELECT 20000000 + (iy.i * 20 + ix.i) * 3 + b.i AS so_kod,
                     500000 + (iy.i // 2) * 10 + (ix.i // 2) AS obec_kod
              FROM (SELECT unnest(range(0, 20)) AS i) ix,
                   (SELECT unnest(range(0, 20)) AS i) iy,
                   (SELECT unnest(range(0, 3)) AS i) b
            ), am AS (
              SELECT obec_kod,
                     30000000 + row_number() OVER (ORDER BY so_kod, j.i) - 1 AS am_kod
              FROM so, (SELECT unnest(range(0, 3)) AS i) j
              WHERE j.i < 1 + so_kod % 3
            )
            SELECT obec_kod, count(*) AS n_pip, count(*) AS n_fk
            FROM am WHERE am_kod % 25 <> 7
            GROUP BY obec_kod ORDER BY obec_kod
        """,
        "so2_union": """
            SELECT l_returnflag, count(*) AS n FROM lineitem
            GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "a5_max_fid": "SELECT max(o_orderkey) AS max_fid FROM orders",
        "p2_key_lookup": """
            SELECT event_id, user_id, event_type FROM events WHERE event_id = 1234
        """,
        "m3_merge_state": """
            WITH current AS (
              SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 3 <> 0),
            changes AS (
              SELECT c_custkey, 'UPDATED' AS c_mktsegment FROM customer WHERE c_custkey % 6 = 0
              UNION ALL
              SELECT c_custkey + 1000000, 'NEW' FROM customer WHERE c_custkey % 10 = 0),
            merged AS (
              SELECT * FROM current WHERE c_custkey NOT IN (SELECT c_custkey FROM changes)
              UNION ALL SELECT * FROM changes)
            SELECT c_mktsegment, count(*) AS n FROM merged
            GROUP BY c_mktsegment ORDER BY c_mktsegment
        """,
        "f5_key_synthesis": """
            SELECT concat_ws('.', lower(o_orderstatus), o_orderkey) AS gml_id
            FROM orders WHERE o_orderkey % 50 = 0 ORDER BY gml_id
        """,
        "asof_join": """
            WITH e AS (
              SELECT event_id, user_id AS by_key, ts AS t FROM events
              WHERE event_id % 5 = 0),
            o1 AS (
              SELECT o_custkey AS by_key, CAST(o_orderdate AS TIMESTAMP) AS t,
                     max(o_orderkey) AS o_orderkey
              FROM orders GROUP BY 1, 2)
            SELECT e.event_id, o1.o_orderkey
            FROM e ASOF LEFT JOIN o1 ON e.by_key = o1.by_key AND e.t >= o1.t
            ORDER BY event_id
        """,
        "dedup_representatives": f"""
            WITH mh AS ({_duck_minhash_sql()}),
            victims AS (SELECT DISTINCT id_b FROM mh WHERE jaccard_est >= 0.5)
            SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id_b FROM victims)
            ORDER BY doc_id
        """,
        "dedup_keep_best": f"""
            WITH RECURSIVE mh AS ({_duck_minhash_sql()}),
            p AS (SELECT id_a, id_b FROM mh WHERE jaccard_est >= 0.5),
            edges AS (SELECT id_a AS src, id_b AS dst FROM p
                      UNION SELECT id_b, id_a FROM p),
            reach(src, dst) AS (
              SELECT src, dst FROM edges
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
            ),
            lab AS (
              SELECT src AS node, least(src, min(dst)) AS component
              FROM reach GROUP BY src
            ),
            q AS ({_duck_quality_sql()}),
            fulls AS (
              SELECT q.doc_id, coalesce(l.component, q.doc_id) AS component, q.quality
              FROM q LEFT JOIN lab l ON q.doc_id = l.node
            )
            SELECT component, doc_id, quality FROM (
              SELECT component, doc_id, quality,
                     row_number() OVER (PARTITION BY component
                       ORDER BY quality DESC, doc_id ASC) AS rn
              FROM fulls
            ) WHERE rn = 1 ORDER BY component
        """,
        "graph_pagerank": _duck_pagerank_sql(3),
        "text_quantiles": """
            WITH r AS (
              SELECT source, doc_id, n_chars,
                     row_number() OVER (PARTITION BY source
                       ORDER BY n_chars ASC, doc_id ASC) AS rn,
                     count(*) OVER (PARTITION BY source) AS n
              FROM documents
            )
            SELECT source, p, value FROM (
              SELECT source, CAST(0.5 AS DOUBLE) AS p, n_chars AS value FROM r
              WHERE rn = CAST(floor((n - 1) * CAST(0.5 AS DOUBLE)) AS BIGINT) + 1
              UNION ALL
              SELECT source, CAST(0.9 AS DOUBLE), n_chars FROM r
              WHERE rn = CAST(floor((n - 1) * CAST(0.9 AS DOUBLE)) AS BIGINT) + 1
              UNION ALL
              SELECT source, CAST(0.99 AS DOUBLE), n_chars FROM r
              WHERE rn = CAST(floor((n - 1) * CAST(0.99 AS DOUBLE)) AS BIGINT) + 1
            ) ORDER BY source, p
        """,
        "sample_temperature": """
            WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
            wts AS (SELECT lang, n,
                           CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS w
                    FROM c),
            tot AS (SELECT CAST(sum(w) AS BIGINT) AS wsum FROM wts),
            q AS (SELECT lang, LEAST(n, (200 * w + wsum - 1) // wsum) AS quota
                  FROM wts, tot),
            r AS (SELECT doc_id, lang,
                         row_number() OVER (PARTITION BY lang
                           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
                                    doc_id ASC) AS rk
                  FROM documents)
            SELECT doc_id, lang FROM r JOIN q USING (lang)
            WHERE rk <= quota ORDER BY doc_id
        """,
        "geo_range_join_large": f"""
            WITH {_duck_streets_large_scored_ctes(geo)}
            SELECT event_id, kod, d2 AS dist2 FROM scored
            WHERE d2 <= {repr(0.004 * 0.004)}
            ORDER BY event_id, kod
        """,
        "geo_knn_lines_large": f"""
            WITH {_duck_streets_large_scored_ctes(geo)}
            SELECT event_id, kod, CAST(rank AS BIGINT) AS rank FROM (
              SELECT event_id, kod,
                     row_number() OVER (PARTITION BY event_id
                       ORDER BY d2 ASC, kod ASC) AS rank
              FROM scored WHERE d2 <= {repr(0.004 * 0.004)}
            ) WHERE rank <= 3 ORDER BY event_id, rank
        """,
        "geo_knn_points_large": f"""
            WITH {_duck_points_large_scored_ctes(geo)}
            SELECT event_id, kod, CAST(rank AS BIGINT) AS rank FROM (
              SELECT event_id, kod,
                     row_number() OVER (PARTITION BY event_id
                       ORDER BY d2 ASC, kod ASC) AS rank
              FROM scored WHERE d2 <= {repr(0.004 * 0.004)}
            ) WHERE rank <= 3 ORDER BY event_id, rank
        """,
        "stream_sessionize": """
            WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
                       FROM events),
            flag AS (
              SELECT user_id, event_id, ts,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR CAST(floor(epoch(ts)) AS BIGINT)
                          - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                     THEN 1 ELSE 0 END AS ns
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
            ), num AS (
              SELECT user_id, ts,
                CAST(sum(ns) OVER (PARTITION BY user_id
                  ORDER BY ts ASC, event_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                  AS session_idx
              FROM flag
            ), s AS (
              SELECT user_id, session_idx, count(*) AS n_events,
                     min(ts) AS session_start, max(ts) AS session_end,
                     CAST(floor(epoch(max(ts))) AS BIGINT)
                     - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_sec
              FROM num GROUP BY user_id, session_idx
            ), mx AS (SELECT user_id, max(session_idx) AS m FROM s GROUP BY user_id)
            SELECT s.user_id, s.session_idx, s.n_events, s.session_start,
                   s.session_end, s.duration_sec
            FROM s JOIN mx USING (user_id) WHERE s.session_idx < mx.m
            ORDER BY user_id, session_idx
        """,
        "w_sessionize": """
            WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
                       FROM events),
            flag AS (
              SELECT user_id, event_id, ts,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR CAST(floor(epoch(ts)) AS BIGINT)
                          - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                     THEN 1 ELSE 0 END AS ns
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
            ), num AS (
              SELECT user_id, ts,
                CAST(sum(ns) OVER (PARTITION BY user_id
                  ORDER BY ts ASC, event_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                  AS session_idx
              FROM flag
            )
            SELECT user_id, session_idx, count(*) AS n_events,
                   min(ts) AS session_start, max(ts) AS session_end,
                   CAST(floor(epoch(max(ts))) AS BIGINT)
                   - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_sec
            FROM num GROUP BY user_id, session_idx
            ORDER BY user_id, session_idx
        """,
        "text_bm25_topk": f"""
            WITH toks AS (SELECT doc_id, {_duck_tokens('text')} AS t FROM documents),
            dl AS (SELECT doc_id, len(t) AS dl FROM toks),
            stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                             CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
                      FROM dl),
            tf AS (SELECT doc_id, term, count(*) AS tf
                   FROM (SELECT doc_id, unnest(t) AS term FROM toks)
                   GROUP BY doc_id, term),
            q(query_id, term) AS (VALUES
              (1, 'hash'), (1, 'join'), (1, 'row'),
              (2, 'stream'), (2, 'window'), (2, 'batch'),
              (3, 'fast'), (3, 'sort'), (3, 'query')),
            hits AS (SELECT q.query_id, tf.doc_id, tf.term, tf.tf
                     FROM tf JOIN q USING (term)),
            dfreq AS (SELECT term, count(DISTINCT doc_id) AS df
                      FROM hits GROUP BY term),
            scored AS (
              SELECT query_id, doc_id,
                CAST(sum(CAST(floor(
                  (((s.n - CAST(df AS DOUBLE)) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
                  * ((CAST(tf AS DOUBLE) * 2.2)
                     / (CAST(tf AS DOUBLE)
                        + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / s.avgdl))))
                  * 1048576.0) AS BIGINT)) AS BIGINT) AS score_fp
              FROM hits JOIN dfreq USING (term) JOIN dl USING (doc_id)
                   CROSS JOIN stats s
              GROUP BY query_id, doc_id)
            SELECT query_id, doc_id, score_fp, CAST(rank AS BIGINT) AS rank FROM (
              SELECT query_id, doc_id, score_fp,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY score_fp DESC, doc_id ASC) AS rank
              FROM scored) WHERE rank <= 5
            ORDER BY query_id, rank
        """,
        "web_url_canonicalize": f"""
            WITH raw AS (
              SELECT doc_id,
                CASE WHEN doc_id % 5 = 0 THEN 'HTTPS' ELSE 'https' END || '://' ||
                CASE WHEN doc_id % 4 = 1 THEN upper(h) ELSE h END ||
                CASE WHEN doc_id % 6 = 0 THEN ':443' ELSE '' END ||
                CASE WHEN doc_id % 11 = 5 THEN '/'
                     ELSE '/p/' || CAST(doc_id AS VARCHAR) END ||
                CASE WHEN doc_id % 3 = 0
                       THEN '?utm_source=abc&utm_medium=x&id=' || CAST(doc_id AS VARCHAR)
                     WHEN doc_id % 3 = 1
                       THEN '?id=' || CAST(doc_id AS VARCHAR) || '&fbclid=XYZ'
                     ELSE '?id=' || CAST(doc_id AS VARCHAR) END ||
                CASE WHEN doc_id % 7 = 2 THEN '#sec' ELSE '' END AS url
              FROM (SELECT doc_id,
                           [{{hosts}}][CAST(doc_id % 8 + 1 AS INT)] AS h
                    FROM documents)
            ), parts AS (
              SELECT doc_id, url,
                lower(regexp_extract(regexp_replace(url, '#.*', '', 'g'),
                  '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                lower(regexp_extract(regexp_replace(url, '#.*', '', 'g'),
                  '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#]*)', 1)) AS host0,
                regexp_extract(regexp_replace(url, '#.*', '', 'g'),
                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)', 1) AS rest0
              FROM raw
            )
            SELECT doc_id, url,
              CASE WHEN scheme = '' THEN url
                   ELSE scheme || '://' ||
                     CASE WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
                          WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
                          ELSE host0 END ||
                     regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                       regexp_replace(rest0,
                         '([?&])(?:utm_[A-Za-z0-9_]+|fbclid|gclid|msclkid|mc_eid)=[^&]*',
                         '\\1', 'g'),
                       '&&+', '&', 'g'), '\\?&', '?', 'g'),
                       '[?&]+$', '', 'g'), '^/$', '', 'g')
              END AS canonical_url
            FROM parts ORDER BY doc_id
        """.replace("{hosts}", ", ".join(f"'{h}'" for h in _WEB_HOSTS)),
        # dedup_decontaminate_bloom is the SAME semantics through a
        # different physical strategy (Bloom prune + exact confirm),
        # so the two queries share one oracle by construction.
        "dedup_decontaminate": _DECON_ORACLE,
        "pipeline_clean": f"""
            WITH q AS ({_duck_quality_sql()}),
            rep AS ({_duck_repetition_sql()}),
            d AS (
              SELECT doc_id, source,
                     row_number() OVER (PARTITION BY md5(text)
                                        ORDER BY doc_id) AS rn
              FROM documents
            )
            SELECT source,
                   CASE WHEN rn > 1 THEN 'duplicate'
                        WHEN quality < 0.40 THEN 'low_quality'
                        WHEN coalesce(keep_repetition, 1) = 0 THEN 'repetitive'
                        ELSE 'kept' END AS reason,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM d JOIN q USING (doc_id) LEFT JOIN rep USING (doc_id)
            GROUP BY source, reason ORDER BY source, reason
        """,
        "pipeline_clean_full": f"""
            WITH hits AS (
              SELECT DISTINCT doc_id FROM (
                SELECT doc_id,
                       unnest(list_transform(generate_series(1, len(l)),
                              i -> array_to_string(l[i:], '.'))) AS s
                FROM (SELECT doc_id, string_split(lower(regexp_extract(url,
                        '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)',
                        1)), '.') AS l
                      FROM ({_web_urls_sql()}))
              ) JOIN (SELECT unnest([{", ".join(f"'{d}'" for d in _PIPE_BLOCKED)}]) AS s)
                USING (s)
            ), pages AS (
              SELECT doc_id, source,
                     CASE WHEN doc_id % 7 = 2 THEN text || ' end of page'
                          WHEN doc_id % 11 = 5 THEN '{_PIPE_SHARED_LINE}'
                          WHEN doc_id % 13 = 4
                            THEN repeat('spam spam wonderful spam ham ', 12)
                                 || 'doc ' || CAST(doc_id AS VARCHAR) || ' end.'
                          ELSE text || ' end of page.' END
                     || chr(10) || 'Enable javascript to continue.' AS page
              FROM documents
            ), cl AS (
              SELECT doc_id, source, len(ks) AS n_kept,
                     array_to_string(ks, chr(10)) AS text
              FROM (SELECT doc_id, source,
                      list_filter(string_split(page, chr(10)), l ->
                        len(string_split_regex(trim(l), '\\s+')) >= 3
                        AND right(rtrim(l), 1) IN ('.', '!', '?', '"', '''')
                        AND NOT contains(lower(l), 'javascript')
                        AND NOT contains(lower(l), 'lorem ipsum')
                        AND NOT contains(lower(l), 'cookie')) AS ks
                    FROM pages)
            ), d AS (
              SELECT doc_id, row_number() OVER (PARTITION BY md5(text)
                                                ORDER BY doc_id) AS rn
              FROM cl WHERE n_kept > 0
            ), q AS ({_duck_quality_sql("cl")}),
            rep AS ({_duck_repetition_sql("cl")})
            SELECT source,
                   CASE WHEN doc_id IN (SELECT doc_id FROM hits)
                          THEN 'blocked_domain'
                        WHEN n_kept = 0 THEN 'no_clean_lines'
                        WHEN rn > 1 THEN 'duplicate'
                        WHEN quality < 0.40 THEN 'low_quality'
                        WHEN coalesce(keep_repetition, 1) = 0
                          THEN 'repetitive'
                        ELSE 'kept' END AS reason,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM cl JOIN q USING (doc_id)
                 LEFT JOIN d USING (doc_id) LEFT JOIN rep USING (doc_id)
            GROUP BY source, reason ORDER BY source, reason
        """,
        "dedup_exact_substring": f"""
            WITH w AS (
              SELECT doc_id, {_duck_tokens('text')} AS w FROM documents
            ),
            s AS (
              SELECT doc_id, len(w) AS n_words, w,
                     unnest(range(1, greatest(len(w) - 18, 1))) AS start
              FROM w
            ),
            h AS (
              SELECT doc_id, n_words, start,
                     substr(md5(array_to_string(w[start:start+19], ' ')), 1, 16) AS h
              FROM s
            ),
            d AS (
              SELECT doc_id, n_words, start,
                     count(*) OVER (PARTITION BY h) AS c
              FROM h
            ),
            i AS (
              SELECT doc_id, n_words, start,
                     CASE WHEN start > lag(start) OVER
                            (PARTITION BY doc_id ORDER BY start) + 19
                          THEN 1 ELSE 0 END AS brk
              FROM d WHERE c > 1
            ),
            isl AS (
              SELECT doc_id, n_words, start,
                     sum(brk) OVER (PARTITION BY doc_id ORDER BY start
                                    ROWS UNBOUNDED PRECEDING) AS isl
              FROM i
            ),
            g AS (
              SELECT doc_id, n_words, isl, count(*) AS n_wins,
                     min(start) AS s0, max(start) AS s1
              FROM isl GROUP BY doc_id, n_words, isl
            )
            SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
                   CAST(count(*) AS BIGINT) AS n_dup_spans,
                   CAST(sum(n_wins) AS BIGINT) AS n_dup_windows,
                   CAST(sum(s1 - s0 + 20) AS BIGINT) AS dup_tokens
            FROM g GROUP BY doc_id, n_words ORDER BY doc_id
        """,
        "dedup_decontaminate_bloom": _DECON_ORACLE,
        "dedup_cc": f"""
            WITH RECURSIVE mh AS ({_duck_minhash_sql()}),
            p AS (SELECT id_a, id_b FROM mh WHERE jaccard_est >= 0.5),
            edges AS (SELECT id_a AS src, id_b AS dst FROM p
                      UNION SELECT id_b, id_a FROM p),
            reach(src, dst) AS (
              SELECT src, dst FROM edges
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
            ),
            lab AS (
              SELECT src AS node, least(src, min(dst)) AS component
              FROM reach GROUP BY src
            )
            SELECT d.doc_id, coalesce(l.component, d.doc_id) AS component
            FROM documents d LEFT JOIN lab l ON d.doc_id = l.node
            ORDER BY d.doc_id
        """,
        "embedding_near_dup": (
            f"SELECT id_a, id_b FROM ({_duck_srp_near_dup_sql()}) ORDER BY id_a, id_b"
        ),
        "s4_formats": """
            SELECT format FROM (VALUES ('csv'), ('json'), ('orc'),
                                        ('parquet'), ('text')) t(format)
            ORDER BY format
        """,
        "m1_mode_dispatch": f"""
            SELECT o_orderkey AS key,
                   {_BATCH_NAME_SQL} AS batch_name,
                   CASE WHEN o_orderkey % 3 = 0 THEN 'change'
                        WHEN o_orderkey % 5 = 3 THEN 'append'
                        ELSE 'write' END AS mode
            FROM orders WHERE o_orderkey % 50 = 3 ORDER BY key
        """,
        "s6_sink_toggles": """
            SELECT o_orderkey AS key,
                   CASE WHEN o_orderkey % 3 = 0 THEN 'change'
                        WHEN o_orderkey % 5 = 3 THEN 'append'
                        ELSE 'write' END AS mode,
                   CASE WHEN o_orderkey % 3 = 0 THEN 'NO'
                        WHEN o_orderkey % 5 = 3 THEN 'YES'
                        ELSE NULL END AS pg_use_copy,
                   CAST(5514 AS BIGINT) AS srs_epsg
            FROM orders WHERE o_orderkey % 50 = 3 ORDER BY key
        """,
        "s2_retry_plan": """
            WITH base AS (
              SELECT o_orderkey AS key,
                     CASE WHEN o_orderkey % 4 = 0 THEN 'ST_ZKSH'
                          WHEN o_orderkey % 4 = 1 THEN 'ST_UKSH'
                          WHEN o_orderkey % 4 = 2 THEN 'OB_530743_UKSH'
                          ELSE 'ST_UVOH' END AS vfr_type,
                     CAST(date_trunc('month', o_orderdate) AS DATE) - 1 AS base_date
              FROM orders WHERE o_orderkey % 100 = 11
            ), expanded AS (
              SELECT key, vfr_type, base_date, t.attempt
              FROM base CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS attempt) t
              WHERE t.attempt <= CASE WHEN vfr_type LIKE 'ST_Z%' THEN 0 ELSE 3 END
            )
            SELECT key, vfr_type, CAST(attempt AS BIGINT) AS attempt,
                   CAST(base_date + attempt AS TIMESTAMP) AS candidate_date,
                   CASE WHEN vfr_type LIKE '%UVOH' THEN 'specialni/' ELSE 'soucasna/' END
                     || strftime(base_date + attempt, '%Y%m%d') || '_' || vfr_type
                     || CASE WHEN vfr_type LIKE '%UVOH' THEN '.xml.zip' ELSE '.xml.gz' END
                     AS candidate_name
            FROM expanded ORDER BY key, attempt
        """,
        "s7_export_fanout": """
            SELECT 'orders_g_point' AS output_name, count(*) AS n_rows
            FROM orders WHERE o_orderkey % 20 = 7 AND o_orderkey % 3 <> 0
        """,
        "p7_layer_names": """
            SELECT o_orderkey AS key,
                   CASE WHEN o_orderkey % 3 = 0
                          THEN 'vfr_' || CAST(o_orderkey % 10 AS VARCHAR) || '0_ob.'
                               || 'stavebniobjekty_' || CAST(o_orderkey % 97 AS VARCHAR)
                        WHEN o_orderkey % 3 = 1
                          THEN 'ruian_main.stavebniobjekty_' || CAST(o_orderkey % 97 AS VARCHAR)
                        ELSE 'stavebniobjekty_' || CAST(o_orderkey % 97 AS VARCHAR)
                   END AS output_name
            FROM orders WHERE o_orderkey % 40 = 9 ORDER BY key
        """,
        "m2_forced_drop": """
            SELECT o_orderkey AS key,
                   CASE o_orderkey % 6 WHEN 0 THEN 'Ulice' WHEN 1 THEN 'Parcely'
                        WHEN 2 THEN 'StavebniObjekty' WHEN 3 THEN 'AdresniMista'
                        WHEN 4 THEN 'Obce' ELSE 'Okresy' END AS layer,
                   CASE WHEN o_orderkey % 2 = 0 THEN 'ST_UKSH'
                        ELSE 'OB_500011_UKSH' END AS vfr_type,
                   (o_orderkey % 3 = 0 AND o_orderkey % 2 = 0
                    AND o_orderkey % 6 IN (0, 1, 2, 3)) AS dropped
            FROM orders WHERE o_orderkey % 30 = 4 ORDER BY key
        """,
        "m4_schema_per_file": """
            SELECT 'vfr_20240630_ob_' || CAST(o_orderkey % 4 AS VARCHAR) AS batch_id,
                   count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_key
            FROM orders
            WHERE o_orderkey % 10 < 4 AND o_orderkey % 4 IN (1, 2)
            GROUP BY 1 ORDER BY batch_id
        """,
        "stream_decontaminate": """
            WITH btoks AS (
              SELECT list_filter(regexp_split_to_array(lower(substr(text, 10, 200)),
                       '[^a-z0-9]+'), x -> x <> '') AS toks
              FROM documents WHERE doc_id % 50 = 7
            ), bench AS (
              SELECT DISTINCT sh FROM (
                SELECT unnest(list_filter(list_distinct(list_transform(
                         range(1, greatest(len(toks) - 12, 1) + 1),
                         i -> array_to_string(toks[i:i+12], ' '))),
                       x -> x <> '')) AS sh
                FROM btoks
              )
            ), dtoks AS (
              SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
                       '[^a-z0-9]+'), x -> x <> '') AS toks
              FROM documents
            ), d AS (
              SELECT doc_id, unnest(list_filter(list_distinct(list_transform(
                       range(1, greatest(len(toks) - 12, 1) + 1),
                       i -> array_to_string(toks[i:i+12], ' '))),
                     x -> x <> '')) AS sh
              FROM dtoks
            )
            SELECT d.doc_id, count(*) AS n_contaminated
            FROM d JOIN bench ON d.sh = bench.sh
            GROUP BY d.doc_id ORDER BY d.doc_id
        """,
        "multimodal_decode": """
            WITH keys AS (
              SELECT o_orderkey AS key,
                     4 + o_orderkey % 5 AS w, 3 + o_orderkey % 4 AS h,
                     50 + o_orderkey % 32 AS n
              FROM orders WHERE o_orderkey % 100 = 13
            ), img AS (
              SELECT k.key,
                     CAST(sum((k.key * 7 + 3 * t.i) % 256) AS BIGINT) AS sum_r,
                     CAST(sum((k.key * 7 + 3 * t.i + 1) % 256) AS BIGINT) AS sum_g,
                     CAST(sum((k.key * 7 + 3 * t.i + 2) % 256) AS BIGINT) AS sum_b
              FROM keys k, LATERAL (SELECT unnest(range(0, k.w * k.h)) AS i) t
              GROUP BY k.key
            ), aud AS (
              SELECT k.key,
                     CAST(sum(abs((k.key * 13 + t.i * 31) % 4001 - 2000)) AS BIGINT) AS sum_abs,
                     CAST(max(abs((k.key * 13 + t.i * 31) % 4001 - 2000)) AS BIGINT) AS max_abs
              FROM keys k, LATERAL (SELECT unnest(range(0, k.n)) AS i) t
              GROUP BY k.key
            ), rz AS (
              SELECT k.key,
                     CAST(sum((k.key * 7 + 3 * (((yy.y * k.h) // 2) * k.w
                                               + ((xx.x * k.w) // 3))) % 256) AS BIGINT)
                       AS rz_sum_r
              FROM keys k,
                   (SELECT unnest(range(0, 2)) AS y) yy,
                   (SELECT unnest(range(0, 3)) AS x) xx
              GROUP BY k.key
            )
            SELECT k.key, CAST(k.w AS BIGINT) AS width, CAST(k.h AS BIGINT) AS height,
                   CAST(k.w * k.h AS BIGINT) AS n_px,
                   img.sum_r, img.sum_g, img.sum_b,
                   CAST(8000 AS BIGINT) AS sample_rate,
                   CAST(k.n AS BIGINT) AS n_samples,
                   aud.sum_abs, aud.max_abs,
                   rz.rz_sum_r, CAST(6 AS BIGINT) AS rz_n_px
            FROM keys k JOIN img USING (key) JOIN aud USING (key) JOIN rz USING (key)
            ORDER BY key
        """,
        "f9_dsn_extract": """
            SELECT o_orderkey AS key,
                   'PG' AS driver,
                   'vfr_' || lower(o_orderstatus) AS dbname,
                   'db' || CAST(o_orderkey % 5 AS VARCHAR) AS host,
                   CAST('543' || CAST(o_orderkey % 3 AS VARCHAR) AS INTEGER) AS port,
                   CASE WHEN o_orderkey % 2 = 0
                        THEN 'u' || CAST(o_orderkey % 7 AS VARCHAR)
                        ELSE NULL END AS "user"
            FROM orders WHERE o_orderkey % 100 = 3 ORDER BY key
        """,
        "multimodal_meta": """
            WITH src AS (
              SELECT doc_id AS k, CAST(doc_id AS VARCHAR) AS url, text,
                     4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
              FROM documents
            ), pl AS (
              SELECT k, url, text, w, h,
                CASE WHEN k % 2 = 0 THEN
                  'P6' || chr(10) || w || ' ' || h || chr(10) || '255' || chr(10) ||
                  array_to_string(
                    [chr(CAST(32 + (k*7 + j) % 95 AS INT)) FOR j IN range(w*h*3)], '')
                END AS payload
              FROM src
            )
            SELECT url,
                   CAST(CASE WHEN k % 2 = 0 THEN w ELSE 8 END AS INT) AS width,
                   CAST(CASE WHEN k % 2 = 0 THEN h ELSE 8 END AS INT) AS height,
                   CAST(CASE WHEN k % 2 = 0 THEN length(payload)
                             ELSE octet_length(encode(text)) END AS BIGINT) AS n_bytes,
                   CASE WHEN k % 2 = 0 THEN md5(payload) ELSE md5(text) END AS content_md5
            FROM pl ORDER BY url
        """,
        "multimodal_frames": """
            WITH src AS (
              SELECT doc_id AS k, CAST(doc_id AS VARCHAR) AS url,
                     4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
              FROM documents
            ), pl AS (
              SELECT k, url, w, h,
                array_to_string(
                  [chr(CAST(32 + (k*7 + j) % 95 AS INT)) FOR j IN range(w*h*3)], '') AS body
              FROM src
            )
            SELECT url, CAST(f.i AS BIGINT) AS frame_idx,
                   md5(substr(body, ((f.i % h) * w * 3) + 1, w * 3)) AS frame_md5
            FROM pl, (SELECT unnest([0, 2, 4, 6]) AS i) f
            ORDER BY url, frame_idx
        """,
        "a2_wkb_presence": """
            WITH obce AS (
              SELECT 500000 + iy.i * 10 + ix.i AS kod
              FROM (SELECT unnest(range(0, 10)) AS i) ix,
                   (SELECT unnest(range(0, 10)) AS i) iy
            )
            SELECT count(*) AS n_total,
                   count(*) AS n_definicni_bod,
                   count(*) AS n_originalni_hranice,
                   CAST(sum(CASE WHEN (kod * 7919) % 97 >= 29 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_generalizovane_hranice
            FROM obce
        """,
        "p4_wkb_coalesce": """
            WITH obce AS (
              SELECT 500000 + iy.i * 10 + ix.i AS kod
              FROM (SELECT unnest(range(0, 10)) AS i) ix,
                   (SELECT unnest(range(0, 10)) AS i) iy
            )
            -- WKB length: multipolygon(1 poly, 1 ring, 5 vertices)
            -- = 9 + (9 + 4 + 5*16) = 102 bytes for both boundary columns
            SELECT kod,
                   CASE WHEN (kod * 7919) % 97 >= 29
                        THEN 'generalizovane_hranice'
                        ELSE 'originalni_hranice' END AS src,
                   CAST(102 AS INT) AS geom_len
            FROM obce ORDER BY kod
        """,
        "web_domain_stats": f"""
            WITH parts AS ({_WEB_PARTS_SQL.format(urls=_web_urls_sql())})
            SELECT registered_domain, count(*) AS n_docs,
                   count(DISTINCT host) AS n_hosts,
                   CAST(sum(n_chars) AS BIGINT) AS sum_size
            FROM parts GROUP BY registered_domain ORDER BY registered_domain
        """,
        "web_cap_per_domain": f"""
            WITH parts AS ({_WEB_PARTS_SQL.format(urls=_web_urls_sql())})
            SELECT registered_domain, host, doc_id, n_chars
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY registered_domain
                    ORDER BY n_chars DESC, doc_id) AS rn
                  FROM parts)
            WHERE rn <= 3 ORDER BY registered_domain, doc_id
        """,
        "web_blocklist": f"""
            WITH hosts AS (
              SELECT doc_id,
                     lower(regexp_extract(url,
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)',
                       1)) AS host
              FROM ({_web_urls_sql()})
            ), sfx AS (
              SELECT doc_id, host,
                     unnest(list_transform(generate_series(1, len(l)),
                            i -> array_to_string(l[i:], '.'))) AS s
              FROM (SELECT doc_id, host, string_split(host, '.') AS l
                    FROM hosts)
            ), rules AS (
              SELECT unnest([{", ".join(f"'{d}'" for d in _BLOCKED_DOMAINS)}]) AS s
            )
            SELECT doc_id, host, arg_max(s, length(s)) AS matched_domain
            FROM sfx JOIN rules USING (s)
            GROUP BY doc_id, host ORDER BY doc_id
        """,
        "text_clean_lines": f"""
            WITH ml AS ({_MULTILINE_SQL}), split AS (
              SELECT doc_id, string_split(text, chr(10)) AS lines FROM ml
            ), kept AS (
              SELECT doc_id, len(lines) AS n_lines,
                     list_filter(lines, l ->
                       len(string_split_regex(trim(l), '\\s+')) >= 3
                       AND right(rtrim(l), 1) IN ('.', '!', '?', '"', '''')
                       AND NOT contains(lower(l), 'javascript')
                       AND NOT contains(lower(l), 'lorem ipsum')
                       AND NOT contains(lower(l), 'cookie')) AS ks
              FROM split
            )
            SELECT doc_id, n_lines, len(ks) AS n_kept,
                   CAST(len(ks) >= 1 AS INT) AS keep_doc,
                   array_to_string(ks, chr(10)) AS clean_text
            FROM kept ORDER BY doc_id
        """,
        "dedup_strip_boilerplate": f"""
            WITH ml AS ({_MULTILINE_SQL}), pos AS (
              SELECT doc_id,
                     unnest(string_split(text, chr(10))) AS l,
                     unnest(generate_series(1, len(string_split(text, chr(10))))) AS p
              FROM ml
            ), nz AS (
              SELECT * FROM pos WHERE trim(l) <> ''
            ), hot AS (
              SELECT lh FROM (SELECT DISTINCT doc_id, md5(l) AS lh FROM nz)
              GROUP BY lh HAVING count(*) >= 2
            ), rebuilt AS (
              SELECT doc_id, count(*) AS n_kept_lines,
                     string_agg(l, chr(10) ORDER BY p) AS clean_text
              FROM nz WHERE md5(l) NOT IN (SELECT lh FROM hot)
              GROUP BY doc_id
            )
            SELECT m.doc_id,
                   CAST(coalesce(r.n_kept_lines, 0) AS BIGINT) AS n_kept_lines,
                   coalesce(r.clean_text, '') AS clean_text
            FROM ml m LEFT JOIN rebuilt r USING (doc_id) ORDER BY m.doc_id
        """,
    }
