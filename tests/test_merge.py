"""Replays the reference test-suite pass structure (SURVEY.md §5,
test_suite/test-single.sh:32-50 and test-changes.sh:33-36):
import / idempotent re-run / overwrite unchanged / append doubles /
change-merge idempotence / tombstone delete."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_vfr_spark import datagen
from gdal_vfr_spark.operators import merge as M
from gdal_vfr_spark.operators import counts, projections, setops


def obce_state(spark, seed=42):
    df = datagen.gen_obce(spark, seed=seed)
    return df.withColumn("gml_id", F.concat_ws(".", F.lit("OB"), F.col("kod"))).select(
        "gml_id", "kod", "nazev", "nespravny"
    )


# (batch name, is a change batch) — M1's rule (vfrogr.py:992-1003):
# the last `_` component of the file name, directories and extensions
# stripped, starts with 'Z' in either case
MODE_CASES = [
    ("20240707_ST_ZKSH.xml.gz", True),
    ("20240630_OB_500011_UKSH.xml.gz", False),
    ("/some/dir/20140707_ST_UVOH.xml.zip", False),
    ("soucasna/20240601_OB_12345_ZKSH.xml.gz", True),
    ("20240630_ST_UKSH.xml.gz", False),
    ("20240707_st_zksh.xml.gz", True),  # lower case
    ("/data/Z_dir/20240630_ST_UKSH.xml.gz", False),  # Z only in a directory
    ("20240630_ST_UKSH.Z_x.gz", False),  # Z only after the first dot
    ("a.b/c_Zd", True),  # dot only in a directory
    ("/d/.ZKSH", False),  # empty stem
    ("20240707_ST_ZKSH_", False),  # empty last component
    ("ZKSH", True),
    ("", False),
]


def _want_mode(is_change, append):
    if is_change:
        return M.MODE_CHANGE
    return M.MODE_APPEND if append else M.MODE_WRITE


def test_decide_mode():
    for append in (False, True):
        for name, is_change in MODE_CASES:
            assert M.decide_mode(name, append_flag=append) == _want_mode(is_change, append), name


def test_write_append_overwrite_passes(spark, tmp_path):
    t = M.ParquetTable(spark, str(tmp_path / "obce"))
    state = obce_state(spark)
    n = state.count()

    t.write(state)  # pass 1: import into empty
    assert t.read().count() == n

    with pytest.raises(FileExistsError):  # pass 2: re-run refuses (idempotent)
        t.write(state)
    assert t.read().count() == n

    t.write(state, overwrite=True)  # pass 3: overwrite, counts unchanged
    assert t.read().count() == n

    t.append(state)  # pass 4: append doubles counts
    assert t.read().count() == 2 * n


def test_change_merge_add_then_idempotent_update(spark, tmp_path):
    """test-changes.sh: pass 1 into empty = all adds; re-apply = all
    updates, row count stable (idempotent merge)."""
    t = M.ParquetTable(spark, str(tmp_path / "obce"))
    state = obce_state(spark)
    t.write(state)
    n = state.count()

    changes = datagen.gen_changes(spark, n_add=20, n_update=30)
    tally1 = {r["action"]: r["n"] for r in t.merge(changes, key="gml_id").collect()}
    assert tally1 == {"add": 20, "update": 30}
    assert t.read().count() == n + 20
    # updated rows carry new payload
    assert t.read().where(F.col("nazev").endswith("v2")).count() == 30

    tally2 = {r["action"]: r["n"] for r in t.merge(changes, key="gml_id").collect()}
    assert tally2 == {"update": 50}
    assert t.read().count() == n + 20


def test_merge_into_empty_is_all_adds(spark, tmp_path):
    t = M.ParquetTable(spark, str(tmp_path / "fresh"))
    changes = datagen.gen_changes(spark, n_add=5, n_update=0)
    tally = {r["action"]: r["n"] for r in t.merge(changes).collect()}
    assert tally == {"add": 5}
    assert t.read().count() == 5


def test_dedup_current_keeps_first_fid(spark):
    pdf = pd.DataFrame(
        {
            "gml_id": ["OB.1", "OB.1", "OB.2"],
            "fid": [7, 3, 9],
            "nazev": ["dup-late", "dup-early", "x"],
        }
    )
    out = M.dedup_current(spark.createDataFrame(pdf)).orderBy("gml_id").collect()
    assert [(r["gml_id"], r["fid"]) for r in out] == [("OB.1", 3), ("OB.2", 9)]


def test_tombstone_routing_and_delete(spark):
    tomb = datagen.gen_tombstones(spark, n=10)
    routed = M.tombstone_keys(tomb)
    assert routed.where("layer is null").count() == 1  # unknown code 'XX'
    assert routed.where("layer = 'obce'").count() == 9

    state = obce_state(spark)
    n = state.count()
    after = M.apply_tombstones(state, tomb, layer="obce")
    # 8 real deletes (one tombstone id has no match -> warn path)
    assert after.count() == n - 8


def test_assign_fids_deterministic(spark):
    state = obce_state(spark)
    a = M.assign_fids(state).select("gml_id", "fid").collect()
    b = M.assign_fids(state.orderBy(F.rand(7))).select("gml_id", "fid").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_assign_fids_distributed_matches_window(spark):
    """Per-partition-offset FIDs == DuckDB's `row_number() OVER (ORDER
    BY gml_id)` on unique keys, regardless of input order or partition
    count, and the plan carries no single-partition global sort."""
    import duckdb

    state = obce_state(spark)
    con = duckdb.connect()
    try:
        con.register("state", state.toPandas())
        want = sorted(
            con.sql(
                "SELECT gml_id, row_number() OVER (ORDER BY gml_id) AS fid FROM state"
            ).fetchall()
        )
    finally:
        con.close()
    for nparts in (1, 3, 16):
        got = sorted(
            map(
                tuple,
                M.assign_fids(state.orderBy(F.rand(11)), num_partitions=nparts)
                .select("gml_id", "fid")
                .collect(),
            )
        )
        assert got == want, nparts
    plan = M.assign_fids(state)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_geometry_coalesce_chain(spark):
    obce = datagen.gen_obce(spark)
    # default chain prefers generalizovane -> originalni -> bod
    out = projections.geometry_coalesce(obce)
    assert out.where("geometry is null").count() == 0
    # preferred=originalni always present in fixture
    out2 = projections.geometry_coalesce(obce, preferred="originalni_hranice")
    orig = obce.select(F.col("originalni_hranice").alias("g")).collect()
    got = out2.select(F.col("geometry").alias("g")).collect()
    assert {bytes(r["g"]) for r in got} == {bytes(r["g"]) for r in orig}
    with pytest.raises(ValueError):
        projections.geometry_coalesce(obce, preferred="nope")


def test_geometry_presence_counts(spark):
    obce = datagen.gen_obce(spark)
    row = counts.geometry_presence(
        obce, ["definicni_bod", "originalni_hranice", "generalizovane_hranice"]
    ).first()
    assert row["n_total"] == 100
    assert row["n_definicni_bod"] == 100
    assert row["n_originalni_hranice"] == 100
    assert 50 < row["n_generalizovane_hranice"] < 90  # ~30% null


def test_symmetric_diff(spark):
    a = spark.createDataFrame(pd.DataFrame({"name": ["x", "y", "z"]}))
    b = spark.createDataFrame(pd.DataFrame({"name": ["y", "w"]}))
    out = [(r["diff"], r["name"]) for r in setops.symmetric_diff(a, b).collect()]
    assert out == [("+", "x"), ("+", "z"), ("-", "w")]


def test_bucketed_merge_prunes_and_matches_full_merge(spark, tmp_path):
    """BucketedParquetTable.merge must (a) produce exactly the state and
    tally ParquetTable.merge does, (b) leave untouched buckets' data
    files bit-untouched on disk (O(delta) rewrite), and (c) read only
    the touched partitions (PartitionFilters on the pruned scan)."""
    import os

    state = obce_state(spark)
    changes = datagen.gen_changes(spark, n_add=20, n_update=30)

    full = M.ParquetTable(spark, str(tmp_path / "full"))
    full.write(state)
    want_tally = {r["action"]: r["n"] for r in full.merge(changes, key="gml_id").collect()}
    want = sorted(map(tuple, full.read().collect()))

    bt = M.BucketedParquetTable(spark, str(tmp_path / "bucketed"), key="gml_id", n_buckets=64)
    bt.write(state)

    def snapshot(root):
        files = {}
        for dirpath, _, fns in os.walk(root):
            for fn in fns:
                if fn.startswith(("_", ".")):
                    continue
                p = os.path.join(dirpath, fn)
                st = os.stat(p)
                files[os.path.relpath(p, root)] = (st.st_mtime_ns, st.st_size, st.st_ino)
        return files

    before = snapshot(bt.path)
    touched = {
        int(r["b"])
        for r in changes.select(bt._bucket().alias("b")).distinct().collect()
    }
    assert 0 < len(touched) < 64  # the fixture must leave some buckets untouched
    got_tally = {r["action"]: r["n"] for r in bt.merge(changes).collect()}
    assert got_tally == want_tally
    assert sorted(map(tuple, bt.read().collect())) == want

    after = snapshot(bt.path)
    for rel, meta in before.items():
        b = int(rel.split("=")[1].split("/")[0])
        if b not in touched:
            assert after.get(rel) == meta, f"untouched bucket file rewritten: {rel}"
    for rel in after:
        b = int(rel.split("=")[1].split("/")[0])
        if b not in touched:
            assert rel in before, f"file appeared in untouched bucket: {rel}"

    # the pruned read is PARTITION-pruned, not post-filtered
    plan = (
        spark.read.parquet(bt.path)
        .where(F.col("__bucket").isin(sorted(touched)))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "__bucket" in plan

    # idempotence parity with the full-table path
    t2 = {r["action"]: r["n"] for r in bt.merge(changes).collect()}
    assert t2 == {"update": 50}
    assert sorted(map(tuple, bt.read().collect())) == want


def test_compact_reduces_files_preserves_rows(spark, tmp_path):
    import os

    t = M.ParquetTable(spark, str(tmp_path / "c"))
    state = obce_state(spark)
    t.write(state.repartition(8))
    for _ in range(3):
        t.append(state.limit(10).repartition(4))

    def nfiles():
        return len([f for f in os.listdir(t.path) if f.endswith(".parquet")])

    before_rows = sorted(map(tuple, t.read().collect()))
    assert nfiles() > 2
    written = t.compact(target_files=2)
    assert written == 2 and nfiles() == 2
    assert sorted(map(tuple, t.read().collect())) == before_rows


def test_append_schema_evolution(spark, tmp_path):
    """allow_schema_evolution models Iceberg add-column: new column
    kept, old rows NULL-filled; default append rejects drift."""
    t = M.ParquetTable(spark, str(tmp_path / "ev"))
    t.write(spark.createDataFrame([(1, "a")], "gml_id long, nazev string"))
    widened = spark.createDataFrame(
        [(2, "b", 7)], "gml_id long, nazev string, vymera long"
    )
    with pytest.raises(Exception):
        t.append(widened)
    t.append(widened, allow_schema_evolution=True)
    rows = {r["gml_id"]: (r["nazev"], r["vymera"]) for r in t.read().collect()}
    assert rows == {1: ("a", None), 2: ("b", 7)}


def test_decide_mode_expr_parity(spark):
    """The Catalyst column reads the same M1 pattern as decide_mode;
    Java's regex engine must give the same modes on every case."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(n,) for n, _ in MODE_CASES], "name string")
    for append in (False, True):
        got = {
            r["name"]: r["mode"]
            for r in df.select(
                "name", M.decide_mode_expr(F.col("name"), F.lit(append)).alias("mode")
            ).collect()
        }
        for name, is_change in MODE_CASES:
            assert got[name] == _want_mode(is_change, append), name


def test_forced_drop_and_copy_toggle_exprs(spark):
    from pyspark.sql import functions as F

    rows = [
        ("Ulice", "ST_UKSH", True, True),
        ("Parcely", "ST_UKSH", False, False),   # no overwrite
        ("Obce", "ST_UKSH", True, False),        # not OB-only
        ("AdresniMista", "OB_500011_UKSH", True, False),  # not ST
        ("stavebniobjekty", "ST_ZKSH", True, True),
    ]
    df = spark.createDataFrame(
        [(a, b, c) for a, b, c, _ in rows], "layer string, t string, ow boolean"
    )
    got = [
        r["d"]
        for r in df.select(
            M.forced_drop_expr(F.col("layer"), F.col("t"), F.col("ow")).alias("d")
        ).collect()
    ]
    assert got == [want for *_x, want in rows]
    tg = spark.createDataFrame(
        [("change",), ("append",), ("write",)], "mode string"
    ).select(M.bulk_copy_toggle_expr(F.col("mode")).alias("v"))
    assert [r["v"] for r in tg.collect()] == ["NO", "YES", None]


def test_m4_partitioned_read_prunes(spark, tmp_path):
    """M4 — the per-batch read off the batch_id-partitioned layout must
    be partition-PRUNED (PartitionFilters on batch_id), mirroring the
    reference's schema-per-file isolation (vfrogr.py:969-990)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "by_batch")
    df = spark.range(1000).select(
        F.col("id").alias("key"),
        F.concat(F.lit("b"), (F.col("id") % 4).cast("string")).alias("batch_id"),
    )
    df.write.partitionBy("batch_id").parquet(path)
    back = spark.read.parquet(path).where(F.col("batch_id") == "b2")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "batch_id" in plan
    assert back.count() == 250
    assert back.where(F.col("key") % 4 != 2).count() == 0
