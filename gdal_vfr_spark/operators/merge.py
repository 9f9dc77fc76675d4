"""Mutation / maintenance operators — the reference's core value
(SURVEY.md §2.8 M1-M7 and §2.3 J1-J3).

The reference applies daily VFR change files with delete-before-insert
cursor loops inside one transaction (vfrogr.py:543-613). Here the whole
change pass is ONE declarative merge: classify (left join) -> dedup
current (window) -> anti-join deletes -> upsert. On Iceberg this maps
1:1 to `MERGE INTO current USING changes ON key WHEN MATCHED AND
action='delete' THEN DELETE WHEN MATCHED THEN UPDATE SET * WHEN NOT
MATCHED THEN INSERT *`; this sandbox has no Iceberg runtime, so
ParquetTable implements the same semantics read-merge-overwrite with an
atomic directory swap (same commit granularity the reference gets from
its per-layer transaction, vfrogr.py:543-544,:611-613).

Each lifecycle rule has one implementation: the M1 mode rule is one
pattern (`CHANGE_NAME_RE`) that the driver scalar and the Catalyst
column both read, FIDs come from one per-partition-offset pass
(`assign_fids`), both tables run one merge pass (`_merge_pass`) and
commit through one directory swap (`_swap_dir`).
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, Window, functions as F

# vfrogr.py:38-43 Mode class
MODE_WRITE = "write"
MODE_APPEND = "append"
MODE_CHANGE = "change"

# Deletion-code -> layer routing map (vfrogr.py:846-865). 18 entries +
# legacy 'Kraje' code; keys are the TypPrvkuKod values carried by
# ZaniklePrvky tombstones.
LAYER_CODES = {
    "ST": "staty",
    "RS": "regionysoudrznosti",
    "KR": "kraje",
    "VC": "vusc",
    "OK": "okresy",
    "OP": "orp",
    "PU": "pou",
    "OB": "obce",
    "SP": "spravniobvody",
    "MP": "mop",
    "MC": "momc",
    "CO": "castiobci",
    "KU": "katastralniuzemi",
    "ZJ": "zsj",
    "UL": "ulice",
    "PA": "parcely",
    "SO": "stavebniobjekty",
    "AD": "adresnimista",
}


# M1 — mode dispatch (vfrogr.py:992-1003): a batch whose file name's
# last `_` component, directories and extensions stripped, starts with
# 'Z' (either case) is a change batch. One pattern, read by `re` on the
# driver and by `rlike` in Catalyst (it stays in the Java ∩ Python-re
# subset: explicit classes, no lookarounds or backrefs).
CHANGE_NAME_RE = r"(?i)^(?:[^/]*/)*(?:[^/._]*_)*z[^/._]*(?:\.[^/]*)?$"


def decide_mode(batch_name: str, append_flag: bool = False) -> str:
    """M1 for one batch name: change by CHANGE_NAME_RE; else append
    when --append is set; else full write."""
    if re.search(CHANGE_NAME_RE, batch_name):
        return MODE_CHANGE
    return MODE_APPEND if append_flag else MODE_WRITE


def decide_mode_expr(name_col, append_col=None):
    """M1 as a Catalyst column over a name column, the same rule as
    decide_mode (pure JVM regex — no Python on the hot path)."""
    append = F.lit(False) if append_col is None else append_col
    return (
        F.when(name_col.rlike(CHANGE_NAME_RE), F.lit(MODE_CHANGE))
        .when(append, F.lit(MODE_APPEND))
        .otherwise(F.lit(MODE_WRITE))
    )


def bulk_copy_toggle_expr(mode_col):
    """S6 — the PG bulk-load toggle as a column: the reference flips
    PG_USE_COPY per batch (change => 'NO' because merge needs inserts,
    append => 'YES' to force COPY, vfrogr.py:996-1003; write leaves the
    variable untouched => NULL). On Iceberg the same dial is fast
    append vs merge-on-read (SURVEY.md §2.1 S6)."""
    return (
        F.when(mode_col == MODE_CHANGE, F.lit("NO"))
        .when(mode_col == MODE_APPEND, F.lit("YES"))
        .otherwise(F.lit(None).cast("string"))
    )


# M2 — the 4 OB-only layers force-dropped on an ST overwrite
# (vfrogr.py:440-444): ST files never carry these layers, so a plain
# per-layer overwrite would leave stale OB-era data behind.
OB_ONLY_LAYERS = ("ulice", "parcely", "stavebniobjekty", "adresnimista")


def forced_drop_expr(layer_col, vfr_type_col, overwrite_col):
    """M2 — which (layer, batch-type, overwrite) combinations get a
    forced pre-drop (vfrogr.py:440-444, _delete_layer :665-678): only
    an overwrite of an ST batch force-drops, and only the four OB-only
    layers."""
    is_st = F.upper(F.substring(vfr_type_col, 1, 3)) == "ST_"
    return overwrite_col & is_st & F.lower(layer_col).isin(*OB_ONLY_LAYERS)


def classify_changes(
    changes: DataFrame, current: DataFrame, key: str = "gml_id"
) -> DataFrame:
    """J1 — upsert classification (vfrogr.py:793-836): left-outer join
    of incoming changes against current state; matched -> 'update',
    unmatched -> 'add'. The changes side is small (daily deltas), so the
    join broadcasts current's key projection when feasible — at 10^12
    rows current's keys do NOT broadcast, and this becomes a SMJ on the
    key; either way it is one join, not per-row probes."""
    cur_keys = current.select(F.col(key)).distinct()
    return changes.join(cur_keys.withColumn("__matched", F.lit(1)), on=key, how="left").withColumn(
        "action",
        F.when(F.col("__matched").isNull(), F.lit("add")).otherwise(F.lit("update")),
    ).drop("__matched")


def dedup_current(
    current: DataFrame, key: str = "gml_id", order_col: str = "fid"
) -> DataFrame:
    """J3 — duplicate natural keys in current state: keep the first FID,
    drop the rest (vfrogr.py:817-829). Must run BEFORE merge or a true
    MERGE raises on multiple matches (SURVEY.md §7.3)."""
    w = Window.partitionBy(key).orderBy(F.col(order_col).asc())
    return (
        current.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def tombstone_keys(tombstones: DataFrame) -> DataFrame:
    """J2 prep — ZaniklePrvky (code, id) -> (layer, gml_id) with the
    reference's key synthesis '{lcode}.{PrvekId}' (vfrogr.py:885) and
    code routing (vfrogr.py:846-865). Unknown codes are kept with layer
    NULL so callers can log them (error path vfrogr.py:877-881)."""
    mapping = F.create_map(*[F.lit(x) for pair in LAYER_CODES.items() for x in pair])
    return tombstones.select(
        mapping[F.col("typ_prvku_kod")].alias("layer"),
        F.concat_ws(".", F.col("typ_prvku_kod"), F.col("prvek_id")).alias("gml_id"),
        F.col("id_transakce"),
    )


def apply_tombstones(
    current: DataFrame, tombstones: DataFrame, layer: str, key: str = "gml_id"
) -> DataFrame:
    """J2 — delete via tombstones: anti-join current against the
    tombstone keys routed to this layer (vfrogr.py:838-915)."""
    keys = tombstone_keys(tombstones).where(F.col("layer") == layer).select(key)
    return current.join(keys, on=key, how="left_anti")


def apply_changes(
    current: DataFrame,
    changes: DataFrame,
    key: str = "gml_id",
    delete_action: str = "delete",
) -> DataFrame:
    """M3 — the full change merge (vfrogr.py:546-580,617-627):
    * rows of current whose key appears in changes are removed
      (delete-before-insert, vfrogr.py:567-568)
    * change rows with action != delete are inserted (updates keep
      their key; adds bring new keys)
    Input `changes` must carry an `action` column (classify_changes) and
    current-compatible payload columns. Equivalent Iceberg statement in
    the module docstring."""
    payload_cols = [c for c in changes.columns if c in current.columns]
    survivors = current.join(changes.select(key).distinct(), on=key, how="left_anti")
    inserts = changes.where(F.col("action") != delete_action).select(*payload_cols)
    # a change batch may carry the same key more than once; the merged
    # state holds exactly one row per key (the reference applies them
    # sequentially so the last wins, vfrogr.py:556-580 — distributed
    # scans have no arrival order, so survivorship is deterministic on
    # a payload hash instead; documented deviation like FIDs §7.3)
    w = Window.partitionBy(key).orderBy(F.xxhash64(*[F.col(c) for c in payload_cols]))
    inserts = inserts.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop(
        "__rn"
    )
    missing = [c for c in current.columns if c not in payload_cols]
    for c in missing:
        inserts = inserts.withColumn(c, F.lit(None).cast(current.schema[c].dataType))
    return survivors.unionByName(inserts.select(*current.columns))


def assign_fids(
    df: DataFrame,
    key: str = "gml_id",
    fid_col: str = "fid",
    num_partitions: int | None = None,
) -> DataFrame:
    """§2.5 — deterministic FID: dense 1-based FIDs in key order. The
    reference assigns FIDs by arrival order (vfrogr.py:582,:601-603);
    arrival order doesn't exist in a distributed scan, so FIDs are
    derived from the key order instead (documented deviation,
    SURVEY.md §7.3: values differ, row content identical).

    No global single-reducer sort: range-partition by key + sort within
    partitions (the same shuffle a sorted write needs anyway), count
    rows per partition (one cheap aggregate), then a map-only Arrow
    pass adds cumulative offset + local position. On unique keys this
    equals `row_number() OVER (ORDER BY key)`; equal-key tie order is
    arbitrary, like the reference's arrival order."""
    from pyspark import TaskContext
    from pyspark.sql.types import LongType, StructField, StructType

    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    d = df.repartitionByRange(n, F.col(key).asc()).sortWithinPartitions(F.col(key).asc())
    counts = {
        r["__pid"]: r["n"]
        for r in d.withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    bc = spark.sparkContext.broadcast(offsets)
    out_schema = StructType(list(d.schema.fields) + [StructField(fid_col, LongType(), False)])

    def _add(batches):
        pos = bc.value.get(TaskContext.get().partitionId(), 0)
        for pdf in batches:
            k = len(pdf)
            pdf = pdf.copy()
            pdf[fid_col] = range(pos + 1, pos + k + 1)
            pos += k
            yield pdf

    return d.mapInPandas(_add, schema=out_schema)


def _swap_dir(src: str, dst: str) -> None:
    """The one commit step: move `dst` aside, rename `src` into its
    place, then drop the old copy — readers see the old or the new
    directory, never a torn one. A missing `src` (a merged bucket with
    no rows left) leaves `dst` absent."""
    old = f"{dst}.__old_{uuid.uuid4().hex[:8]}"
    if os.path.exists(dst):
        os.rename(dst, old)
    if os.path.exists(src):
        os.rename(src, dst)
    if os.path.exists(old):
        shutil.rmtree(old)


def _merge_pass(
    spark, current: DataFrame | None, changes: DataFrame, key: str
) -> tuple[DataFrame, DataFrame]:
    """M3 — classify -> dedup -> apply against `current` (None = no
    table yet: every change is an add). Returns (merged state, change
    tally). The tally (A3) is collected HERE, before the caller commits
    `merged` over the snapshot `current` reads, and comes back as a
    driver-local DataFrame so callers can log it like the reference's
    summary (vfrogr.py:617-627)."""
    if current is None:
        classified = changes.withColumn("action", F.lit("add"))
        current = spark.createDataFrame([], changes.drop("action").schema)
    else:
        current = dedup_current(current, key=key, order_col=key)
        classified = classify_changes(changes, current, key=key)
    merged = apply_changes(current, classified, key=key)
    tally = classified.groupBy("action").agg(F.count("*").alias("n"))
    return merged, spark.createDataFrame(tally.collect(), tally.schema)


class ParquetTable:
    """Minimal transactional table: parquet directory + atomic swap.

    Stands in for an Iceberg table in this sandbox. write/append/merge
    commit by writing to a staging dir and renaming — readers see the
    old or the new snapshot, never a torn one (the reference's
    per-layer transaction, vfrogr.py:543-544,:611-613).
    """

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path

    def exists(self) -> bool:
        return os.path.exists(self.path)

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def _commit(self, df: DataFrame) -> None:
        staging = f"{self.path}.__staging_{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(staging)
        _swap_dir(staging, self.path)

    def write(self, df: DataFrame, overwrite: bool = False) -> None:
        """M2 — create-or-replace. Without overwrite, an existing table
        raises (the reference's 'already exists... use --overwrite or
        --append' skip, vfrogr.py:474-476)."""
        if self.exists() and not overwrite:
            raise FileExistsError(
                f"{self.path} already exists; use overwrite=True or append()"
            )
        self._commit(df)

    def adopt_dir(self, src: str, overwrite: bool = False) -> None:
        """Commit an already-written parquet directory as the new
        snapshot by rename — zero re-read. This is the commit half of
        the driver's single-pass partitionBy fan-out (one scan writes
        every layer; each partition directory is adopted per-table)."""
        if self.exists() and not overwrite:
            raise FileExistsError(
                f"{self.path} already exists; use overwrite=True or append_dir()"
            )
        _swap_dir(src, self.path)

    def append_dir(self, src: str) -> None:
        """Directory-append: move the new data files into the table
        directory instead of re-writing the whole snapshot (the O(delta)
        append a real table format gives you; snapshot-union append()
        remains for callers that want uniform commit semantics). Data
        file names are task-unique already; a batch tag prefix makes
        repeated appends of the same staging layout collision-proof."""
        if not self.exists():
            os.rename(src, self.path)
            return
        tag = uuid.uuid4().hex[:8]
        for fn in os.listdir(src):
            if fn.startswith(("_", ".")):
                continue
            os.rename(os.path.join(src, fn), os.path.join(self.path, f"b{tag}-{fn}"))

    def append(self, df: DataFrame, allow_schema_evolution: bool = False) -> None:
        """SO2 — append mode: unionByName with current snapshot (the
        reference's Mode.append, vfrogr.py:42,:999-1000). Plain
        directory-append would also work; snapshot-union keeps commit
        semantics uniform. allow_schema_evolution=True models Iceberg
        add-column evolution: columns present on only one side are
        kept and NULL-filled on the other (unionByName
        allowMissingColumns); the default rejects schema drift."""
        if self.exists():
            df = self.read().unionByName(
                df, allowMissingColumns=allow_schema_evolution
            )
        self._commit(df)

    def compact(
        self, target_files: int | None = None, target_rows_per_file: int = 1_000_000
    ) -> int:
        """Small-file compaction — the OPTIMIZE analogue every
        append-heavy table needs (each append_dir/streaming merge batch
        leaves its own files; scan cost grows with file count, not
        data). Rewrites the snapshot into ceil(rows / target) files via
        repartition + the same atomic swap as every other commit; no
        logical change. Returns the file count written. On Iceberg this
        maps to rewrite_data_files; here it models the cost in the
        sandbox."""
        df = self.read()
        if target_files is None:
            n = df.count()
            target_files = max(1, -(-n // target_rows_per_file))
        self._commit(df.repartition(target_files))
        return target_files

    def merge(self, changes: DataFrame, key: str = "gml_id") -> DataFrame:
        """M3 — full change pass: classify -> dedup -> apply -> commit.
        Returns the change tally (A3) so callers can log it like the
        reference's summary (vfrogr.py:617-627). O(table) per batch —
        the uniform-commit stand-in; BucketedParquetTable below is the
        O(delta) layout."""
        current = self.read() if self.exists() else None
        merged, tally = _merge_pass(self.spark, current, changes, key)
        self._commit(merged)
        return tally


class BucketedParquetTable:
    """Partition-pruned merge: the O(delta), not O(table), change pass.

    Layout: parquet partitioned by `__bucket = pmod(xxhash64(key), n)`.
    merge() computes the distinct buckets the change batch touches
    (collects at most n_buckets small ints), reads ONLY those partitions
    (static partition pruning — PartitionFilters on the scan, asserted
    in tests/test_merge.py), runs the same classify -> dedup -> apply
    pass as ParquetTable.merge, and swaps only the touched bucket
    directories. Untouched partitions' data files are never read OR
    rewritten. Cost per batch: O(|changes| + |table| * touched/n),
    which is what Iceberg's MERGE INTO with bucket(n, key) partitioning
    gives you on a real cluster — this class models that cost in the
    sandbox; the commit differs (per-directory renames instead of one
    atomic snapshot pointer flip, so a crash mid-merge can expose a
    partially-merged table across buckets — Iceberg's metadata commit
    is the production answer, vfrogr.py:543-544's per-layer transaction
    the reference's)."""

    def __init__(self, spark, path: str, key: str = "gml_id", n_buckets: int = 16):
        self.spark = spark
        self.path = path
        self.key = key
        self.n_buckets = n_buckets

    def _bucket(self):
        return F.pmod(F.xxhash64(F.col(self.key)), F.lit(self.n_buckets))

    def exists(self) -> bool:
        return os.path.exists(self.path)

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path).drop("__bucket")

    def write(self, df: DataFrame, overwrite: bool = False) -> None:
        if self.exists() and not overwrite:
            raise FileExistsError(f"{self.path} already exists; use overwrite=True")
        staging = f"{self.path}.__staging_{uuid.uuid4().hex[:8]}"
        self._write_buckets(df, staging)
        _swap_dir(staging, self.path)

    def _write_buckets(self, df: DataFrame, path: str) -> None:
        df.withColumn("__bucket", self._bucket()).write.mode("overwrite").partitionBy(
            "__bucket"
        ).parquet(path)

    def merge(self, changes: DataFrame, key: str | None = None) -> DataFrame:
        key = key or self.key
        if key != self.key:
            raise ValueError(
                f"table is bucketed by {self.key!r}; cannot merge on {key!r}"
            )
        if not self.exists():
            merged, tally = _merge_pass(self.spark, None, changes, key)
            self.write(merged)
            return tally
        buckets = sorted(
            r["b"]
            for r in changes.select(self._bucket().alias("b")).distinct().collect()
        )
        if not buckets:
            return self.spark.createDataFrame([], "action string, n long")
        # keys hash to exactly one bucket, so classification against the
        # touched-bucket slice equals classification against the full
        # table — rows elsewhere cannot share a key with any change
        cur = (
            self.spark.read.parquet(self.path)
            .where(F.col("__bucket").isin([int(b) for b in buckets]))
            .drop("__bucket")
        )
        merged, tally = _merge_pass(self.spark, cur, changes, key)
        staging = f"{self.path}.__staging_{uuid.uuid4().hex[:8]}"
        self._write_buckets(merged, staging)
        for b in buckets:
            part = f"__bucket={int(b)}"
            _swap_dir(os.path.join(staging, part), os.path.join(self.path, part))
        shutil.rmtree(staging, ignore_errors=True)
        return tally
