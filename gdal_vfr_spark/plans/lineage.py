"""Per-partition lineage checkpointing + mid-run resume (SURVEY.md §4
item 4; north rule: "resumable from checkpoint with per-partition
lineage + metrics").

The work unit is a *cell-range partition* of the input (Z-order tile
prefix — contiguous in the space-filling curve, so a range is one
spatial region). After a stage processes a unit it appends one lineage
row: (stage, unit, row count, content hash, wall seconds). On restart,
the pending-units manifest is anti-joined against completed lineage —
the direct analogue of the reference's "already exists … use
--overwrite or --append" skip (vfrogr.py:474-476), at partition rather
than table granularity.

The lineage store is itself a ParquetTable (atomic snapshot swaps); on
a real cluster it would be an Iceberg metadata table and the append a
fast-append commit.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from decimal import Decimal

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from gdal_vfr_spark.geo import tiles
from gdal_vfr_spark.operators.merge import ParquetTable

_TWO63, _TWO64 = Decimal(2**63), Decimal(2**64)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("stage", T.StringType(), False),
        T.StructField("unit", T.LongType(), False),  # tile prefix (cell range)
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("content_hash", T.LongType(), False),
        T.StructField("elapsed_sec", T.DoubleType(), False),
        T.StructField("committed_at", T.TimestampType(), False),
    ]
)


def content_hash_expr(df: DataFrame) -> F.Column:
    """Order-insensitive content hash of all columns: the wrapping
    (mod 2^64) sum of per-row xxhash64, as a long. Deterministic under
    repartitioning. A sum, not an xor-fold: xor cancels equal rows in
    pairs, so {A, A} -> {B, B} would keep the hash (0). The sum runs
    exactly in decimal(38,0) — a long sum would overflow under ANSI —
    and is reduced to a signed long afterwards."""
    row_hash = F.xxhash64(*[F.col(c) for c in df.columns])
    wrapped = F.pmod(F.sum(row_hash.cast("decimal(38,0)")), F.lit(_TWO64))
    signed = F.when(wrapped >= F.lit(_TWO63), wrapped - F.lit(_TWO64)).otherwise(wrapped)
    return signed.cast("long")


@dataclass
class LineageLog:
    spark: object
    path: str

    def _table(self) -> ParquetTable:
        return ParquetTable(self.spark, self.path)

    def read(self) -> DataFrame:
        t = self._table()
        if not t.exists():
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)
        return t.read()

    def completed_units(self, stage: str) -> DataFrame:
        return self.read().where(F.col("stage") == stage).select("unit").distinct()

    def pending_units(self, stage: str, manifest: DataFrame) -> DataFrame:
        """manifest: DataFrame with a `unit` column (all work units).
        Returns units not yet committed for this stage (anti-join)."""
        return manifest.select("unit").distinct().join(
            self.completed_units(stage), on="unit", how="left_anti"
        )

    def commit(self, stage: str, unit: int, n_rows: int, content_hash: int, elapsed: float) -> None:
        row = self.spark.createDataFrame(
            [(stage, int(unit), int(n_rows), int(content_hash), float(elapsed))],
            LINEAGE_SCHEMA[:5],
        ).withColumn("committed_at", F.current_timestamp())
        t = self._table()
        if t.exists():
            t.append(row)
        else:
            t.write(row)


def run_stage_resumable(
    spark,
    pages: DataFrame,
    stage: str,
    transform,
    lineage: LineageLog,
    out_path: str,
    prefix_res: int = 4,
    tile_res: int = tiles.DEFAULT_TILE_RES,
    stage_input_path: str | None = None,
) -> list[int]:
    """Process a page table unit-by-unit (unit = Z-order tile prefix),
    committing output partition + lineage row per unit; on re-run only
    pending units execute. Returns the list of units processed.

    At 100 TB each unit is one partition-pruned scan (the input is
    written partitioned by tile_prefix, so a unit never touches other
    units' files), and units can be dispatched concurrently by
    independent drivers — the lineage table is the coordination point.

    stage_input_path makes that layout executable rather than assumed:
    the keyed input is staged ONCE, written `partitionBy("unit")` (a
    map-only dynamic-partition write — no shuffle), and every unit then
    reads the staged table with a `unit = X` predicate that Spark
    resolves at PLANNING time against the partition directories
    (PartitionFilters in the scan — pinned in
    tests/test_lineage_streaming.py), so a unit's read touches ONLY its
    own files instead of filtering a full scan. The staging write is
    itself resume-safe: a crash before its _SUCCESS marker re-stages,
    after it the existing layout is reused (same skip rule as the
    units)."""
    keyed = tiles.with_tile_key(pages, tile_res).withColumn(
        "unit", tiles.tile_prefix_expr("tile_key", prefix_res, tile_res=tile_res)
    )
    if stage_input_path is not None:
        # Staged-layout reuse is guarded by a FINGERPRINT, not just
        # _SUCCESS: a re-run with the same stage_input_path but
        # different pages / prefix_res / tile_res would otherwise
        # silently read the stale layout and produce wrong per-unit
        # output. The fingerprint covers the staging parameters, the
        # keyed schema, and the input's row count and order-free
        # content hash, so changed content behind an unchanged path
        # re-stages even at an unchanged count (one aggregate: one
        # narrow scan of the input per call). The existence checks are
        # local-filesystem only; for HDFS/S3 staging, front this with
        # the Hadoop FileSystem API or a catalog table.
        import json
        import os

        n_rows, h = pages.agg(F.count("*"), content_hash_expr(pages)).first()
        fp = json.dumps(
            {
                "prefix_res": prefix_res,
                "tile_res": tile_res,
                "schema": keyed.schema.simpleString(),
                "n_rows": n_rows,
                "content_hash": h,
            },
            sort_keys=True,
        )
        fp_path = os.path.join(stage_input_path, "_STAGE_FINGERPRINT.json")
        reusable = False
        if os.path.exists(os.path.join(stage_input_path, "_SUCCESS")):
            try:
                with open(fp_path) as f:
                    reusable = f.read() == fp
            except OSError:
                reusable = False
        if not reusable:
            keyed.write.mode("overwrite").partitionBy("unit").parquet(stage_input_path)
            with open(fp_path, "w") as f:
                f.write(fp)
        keyed = spark.read.parquet(stage_input_path)
    manifest = keyed.select("unit").distinct()
    pending = [r["unit"] for r in lineage.pending_units(stage, manifest).collect()]
    done = []
    for unit in sorted(pending):
        t0 = time.time()
        part = keyed.where(F.col("unit") == unit)
        out = transform(part)
        out.write.mode("overwrite").parquet(f"{out_path}/unit={unit}")
        back = spark.read.parquet(f"{out_path}/unit={unit}")
        n = back.count()
        h = back.agg(content_hash_expr(back).alias("h")).first()["h"] or 0
        lineage.commit(stage, unit, n, h, time.time() - t0)
        done.append(unit)
    return done
