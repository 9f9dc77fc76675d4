import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_vfr_spark import datagen
from gdal_vfr_spark.plans import skew
from gdal_vfr_spark.plans.lineage import LineageLog, run_stage_resumable
from gdal_vfr_spark.sources import (
    batch_manifest,
    expand_date_interval,
    infer_default_date,
    resolve_file_names,
)
from gdal_vfr_spark.streaming.incremental import change_stream_merge, windowed_event_counts


def test_lineage_resume(spark, tmp_path):
    pages = datagen.gen_webpages(spark, n=1000, seed=31).where("lon is not null")
    log = LineageLog(spark, str(tmp_path / "lineage"))
    out = str(tmp_path / "out")

    def transform(part):
        return part.select("url", "lon", "lat", "truth_obec_kod")

    done1 = run_stage_resumable(spark, pages, "extract", transform, log, out, prefix_res=8)
    assert len(done1) > 1  # multiple spatial units
    # re-run: everything already committed -> nothing to do
    done2 = run_stage_resumable(spark, pages, "extract", transform, log, out, prefix_res=8)
    assert done2 == []
    # lineage carries counts + hashes per unit
    lin = log.read().toPandas()
    assert set(lin["stage"]) == {"extract"}
    assert lin["n_rows"].sum() == pages.count()
    assert (lin["content_hash"] != 0).all()
    # simulate a crash: drop one unit from the log -> exactly one redone
    import shutil

    first_unit = int(lin["unit"].iloc[0])
    remaining = log.read().where(F.col("unit") != first_unit)
    pdf = remaining.toPandas()
    shutil.rmtree(str(tmp_path / "lineage"))
    log2 = LineageLog(spark, str(tmp_path / "lineage"))
    if len(pdf):
        from gdal_vfr_spark.operators.merge import ParquetTable

        ParquetTable(spark, str(tmp_path / "lineage")).write(
            spark.createDataFrame(pdf, remaining.schema)
        )
    done3 = run_stage_resumable(spark, pages, "extract", transform, log2, out, prefix_res=8)
    assert done3 == [first_unit]


def test_lineage_staged_input_partition_pruned(spark, tmp_path):
    """stage_input_path: per-unit reads are partition-pruned scans of
    the staged unit= layout (PartitionFilters at planning time), and
    the staged path's output is identical to the full-scan path's."""
    import contextlib
    import io

    pages = datagen.gen_webpages(spark, n=1000, seed=31).where("lon is not null")

    def transform(part):
        return part.select("url", "lon", "lat", "truth_obec_kod")

    log_a = LineageLog(spark, str(tmp_path / "lin_a"))
    done_a = run_stage_resumable(
        spark, pages, "x", transform, log_a, str(tmp_path / "out_a"), prefix_res=8
    )
    log_b = LineageLog(spark, str(tmp_path / "lin_b"))
    done_b = run_stage_resumable(
        spark,
        pages,
        "x",
        transform,
        log_b,
        str(tmp_path / "out_b"),
        prefix_res=8,
        stage_input_path=str(tmp_path / "staged"),
    )
    assert done_a == done_b and len(done_b) > 1
    # staged layout exists, one dir per unit
    staged_units = sorted(
        int(p.name.split("=")[1]) for p in (tmp_path / "staged").glob("unit=*")
    )
    assert staged_units == done_b
    # the per-unit predicate reaches the scan as a PartitionFilter
    staged = spark.read.parquet(str(tmp_path / "staged"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        staged.where(F.col("unit") == done_b[0]).explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    import re as _re

    pf = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "unit" in pf and str(done_b[0]) in pf
    # identical output + identical per-unit lineage record
    a = spark.read.parquet(str(tmp_path / "out_a/unit=*")).toPandas()
    b = spark.read.parquet(str(tmp_path / "out_b/unit=*")).toPandas()
    key = sorted(a.columns)
    pd.testing.assert_frame_equal(
        a[key].sort_values(key).reset_index(drop=True),
        b[key].sort_values(key).reset_index(drop=True),
    )
    la = log_a.read().select("unit", "n_rows", "content_hash").orderBy("unit").toPandas()
    lb = log_b.read().select("unit", "n_rows", "content_hash").orderBy("unit").toPandas()
    pd.testing.assert_frame_equal(la, lb)
    # re-run on the staged path: nothing pending, staging not rewritten
    mtime = (tmp_path / "staged" / "_SUCCESS").stat().st_mtime
    again = run_stage_resumable(
        spark,
        pages,
        "x",
        transform,
        log_b,
        str(tmp_path / "out_b"),
        prefix_res=8,
        stage_input_path=str(tmp_path / "staged"),
    )
    assert again == []
    assert (tmp_path / "staged" / "_SUCCESS").stat().st_mtime == mtime


def test_lineage_staged_fingerprint_restages(spark, tmp_path):
    """Reusing a staged layout under the same path with DIFFERENT
    parameters or a different input — even one of the same row count —
    must re-stage instead of silently reading the stale layout."""
    pages = datagen.gen_webpages(spark, n=600, seed=33).where("lon is not null")

    def transform(part):
        return part.select("url", "lon", "lat")

    staged = tmp_path / "staged"
    log_a = LineageLog(spark, str(tmp_path / "lin_a"))
    done_a = run_stage_resumable(
        spark, pages, "x", transform, log_a, str(tmp_path / "out_a"),
        prefix_res=8, stage_input_path=str(staged),
    )
    assert len(done_a) > 1
    # same params + same input -> reuse (not rewritten)
    mtime = (staged / "_SUCCESS").stat().st_mtime
    assert run_stage_resumable(
        spark, pages, "x", transform, log_a, str(tmp_path / "out_a"),
        prefix_res=8, stage_input_path=str(staged),
    ) == []
    assert (staged / "_SUCCESS").stat().st_mtime == mtime
    # different prefix_res under the SAME staged path -> re-staged,
    # and the per-unit outputs equal the no-staging reference
    log_b = LineageLog(spark, str(tmp_path / "lin_b"))
    done_b = run_stage_resumable(
        spark, pages, "x", transform, log_b, str(tmp_path / "out_b"),
        prefix_res=6, stage_input_path=str(staged),
    )
    assert (staged / "_SUCCESS").stat().st_mtime != mtime
    log_c = LineageLog(spark, str(tmp_path / "lin_c"))
    done_c = run_stage_resumable(
        spark, pages, "x", transform, log_c, str(tmp_path / "out_c"),
        prefix_res=6,
    )
    assert done_b == done_c
    a = spark.read.parquet(str(tmp_path / "out_b/unit=*")).toPandas()
    b = spark.read.parquet(str(tmp_path / "out_c/unit=*")).toPandas()
    key = sorted(a.columns)
    pd.testing.assert_frame_equal(
        a[key].sort_values(key).reset_index(drop=True),
        b[key].sort_values(key).reset_index(drop=True),
    )
    # different INPUT behind the same path -> re-staged
    mtime2 = (staged / "_SUCCESS").stat().st_mtime
    pages2 = datagen.gen_webpages(spark, n=400, seed=34).where("lon is not null")
    log_d = LineageLog(spark, str(tmp_path / "lin_d"))
    run_stage_resumable(
        spark, pages2, "x", transform, log_d, str(tmp_path / "out_d"),
        prefix_res=6, stage_input_path=str(staged),
    )
    assert (staged / "_SUCCESS").stat().st_mtime != mtime2
    # same row count, different content -> re-staged too: the
    # fingerprint folds in the order-free content hash
    mtime3 = (staged / "_SUCCESS").stat().st_mtime
    edited = pages2.withColumn("url", F.concat(F.col("url"), F.lit("?v=2")))
    run_stage_resumable(
        spark, edited, "x", transform, LineageLog(spark, str(tmp_path / "lin_e")),
        str(tmp_path / "out_e"), prefix_res=6, stage_input_path=str(staged),
    )
    assert (staged / "_SUCCESS").stat().st_mtime != mtime3
    got = spark.read.parquet(str(tmp_path / "out_e/unit=*")).select("url").toPandas()
    assert sorted(got["url"]) == sorted(edited.select("url").toPandas()["url"])


def test_lineage_duplicate_pairs_change_hash(spark, tmp_path):
    """An input made only of duplicated row pairs that changes {A, A} ->
    {B, B} keeps its row count per unit; it must still re-stage, and
    every unit's lineage hash must change (an xor-fold cancels each
    pair to 0 on both sides)."""
    base = datagen.gen_webpages(spark, n=300, seed=35).where("lon is not null")
    a = base.select("url", "lon", "lat")
    b = a.withColumn("url", F.concat(F.col("url"), F.lit("#b")))
    pairs_a, pairs_b = a.unionAll(a), b.unionAll(b)

    def transform(part):
        return part.select("url", "lon", "lat")

    staged = tmp_path / "staged"
    logs = []
    for name, pages in (("a", pairs_a), ("b", pairs_b)):
        log = LineageLog(spark, str(tmp_path / f"lin_{name}"))
        mtime = (staged / "_SUCCESS").stat().st_mtime if logs else None
        run_stage_resumable(
            spark, pages, "x", transform, log, str(tmp_path / f"out_{name}"),
            prefix_res=8, stage_input_path=str(staged),
        )
        if mtime is not None:
            assert (staged / "_SUCCESS").stat().st_mtime != mtime  # re-staged
        logs.append(log.read().select("unit", "n_rows", "content_hash").toPandas())
    got = spark.read.parquet(str(tmp_path / "out_b/unit=*")).select("url").toPandas()
    assert sorted(got["url"]) == sorted(pairs_b.select("url").toPandas()["url"])
    la, lb = (df.set_index("unit").sort_index() for df in logs)
    assert len(la) > 1 and la.index.equals(lb.index)
    assert (la["n_rows"] == lb["n_rows"]).all()
    assert (la["content_hash"] != lb["content_hash"]).all()
    assert (la["content_hash"] != 0).all()


def test_hot_keys_and_salted_join(spark):
    pages = datagen.gen_webpages(spark, n=5000, seed=33).where("lon is not null")
    hot = skew.hot_keys(pages, "truth_obec_kod", sample_frac=0.3, threshold_frac=0.1)
    assert hot, "megacity hotspot must be detected"
    hot_kod = datagen.OBEC_BASE + (datagen.GRID // 2) * datagen.GRID + datagen.GRID // 2
    assert hot_kod in hot

    dim = datagen.gen_obce(spark, seed=33).select(
        F.col("kod").alias("truth_obec_kod"), "nazev"
    )
    plain = pages.join(dim, on="truth_obec_kod").count()
    salted = skew.salted_equi_join(
        pages, dim, on="truth_obec_kod", n_salt=8, fact_stable_col="url"
    ).count()
    salted_hot = skew.salted_equi_join(
        pages, dim, on="truth_obec_kod", n_salt=8, fact_stable_col="url", hot_only=hot
    ).count()
    assert plain == salted == salted_hot


def test_manifest_dates():
    today = dt.date(2024, 7, 7)
    assert infer_default_date("ST_UKSH", today) == dt.date(2024, 6, 30)
    assert infer_default_date("ST_ZKSH", today) == dt.date(2024, 7, 6)
    days = expand_date_interval("20240628:20240701", today)
    assert [d.day for d in days] == [28, 29, 30, 1]
    assert expand_date_interval("20240706:", today) == [dt.date(2024, 7, 6)]
    with pytest.raises(ValueError):
        expand_date_interval("20240706:20240701", today)
    names = resolve_file_names("ST_UKSH", [dt.date(2024, 6, 30)])
    assert names == ["soucasna/20240630_ST_UKSH.xml.gz"]
    assert resolve_file_names("ST_UVOH", [dt.date(2024, 6, 30)]) == [
        "specialni/20240630_ST_UVOH.xml.zip"
    ]


def test_batch_manifest(spark):
    m = batch_manifest(spark, "ST_ZKSH", "20240701:20240703").collect()
    assert len(m) == 3
    assert all(r["mode"] == "change" for r in m)
    m2 = batch_manifest(spark, "OB_UKSH", today=dt.date(2024, 7, 7)).collect()
    assert m2[0]["mode"] == "write" and m2[0]["date"] == "20240630"


def test_change_stream_merge(spark, tmp_path):
    changes = datagen.gen_changes(spark, n_add=10, n_update=0)
    d = str(tmp_path / "changes_in")
    changes.write.mode("overwrite").parquet(d)
    table = change_stream_merge(
        spark,
        d,
        changes.schema,
        str(tmp_path / "target"),
        str(tmp_path / "ckpt"),
    )
    assert table.read().count() == 10
    # second batch arrives -> only the new file is processed (offset log)
    more = datagen.gen_changes(spark, n_add=20, n_update=0)
    more.limit(5).write.mode("append").parquet(d)
    table = change_stream_merge(
        spark, d, changes.schema, str(tmp_path / "target"), str(tmp_path / "ckpt")
    )
    assert table.read().select("gml_id").distinct().count() >= 10


def test_windowed_event_counts_stream(spark, tmp_path):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "ev")
    events.limit(2000).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = windowed_event_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # append mode emits only windows closed by the watermark; with a
    # bounded source the final windows stay open -> compare row shape
    got = spark.sql("select * from wincounts")
    assert set(got.columns) == {"window_start", "event_type", "n", "sum_value"}


def test_asof_join_matches_pandas(spark):
    import numpy as np
    from gdal_vfr_spark.operators.asof import asof_join

    rng = np.random.default_rng(9)
    left = pd.DataFrame(
        {
            "id": np.arange(300),
            "by_key": rng.integers(0, 10, 300),
            "t": rng.integers(0, 1000, 300).astype("datetime64[s]"),
        }
    )
    right = pd.DataFrame(
        {
            "by_key": rng.integers(0, 10, 100),
            "t": rng.integers(0, 1000, 100).astype("datetime64[s]"),
            "val": np.arange(100, dtype=np.int64),
        }
    ).drop_duplicates(["by_key", "t"])
    out = asof_join(
        spark.createDataFrame(left),
        spark.createDataFrame(right),
        on="t",
        by="by_key",
        right_cols=["val"],
    ).toPandas()
    want = (
        pd.merge_asof(
            left.sort_values("t"),
            right.sort_values("t"),
            on="t",
            by="by_key",
            direction="backward",
        )
        .sort_values("id")
        .reset_index(drop=True)
    )
    got = out.sort_values("id").reset_index(drop=True)
    assert got["val"].fillna(-1).tolist() == want["val"].fillna(-1).tolist()


def test_sessionize_gap_semantics(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from gdal_vfr_spark.operators.sessions import sessionize

    base = pd.Timestamp("2024-01-01 00:00:00")
    m = pd.Timedelta(minutes=1)
    rows = [
        # user 1: 3 events tight, 31-min gap, 2 more events
        (1, 1, base), (1, 2, base + 5 * m), (1, 3, base + 10 * m),
        (1, 4, base + 41 * m), (1, 5, base + 45 * m),
        # user 2: single event
        (2, 6, base),
        # user 1: exact 30-min gap does NOT split (strictly greater)
        (1, 7, base + 75 * m),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "event_id", "ts"])
    )
    out = {
        (r["user_id"], r["session_idx"]): (r["n_events"], r["duration_sec"])
        for r in sessionize(df, gap_minutes=30).collect()
    }
    assert out[(1, 1)] == (3, 600)
    assert out[(1, 2)] == (3, 34 * 60)  # 41 -> 45 -> 75 min: 30-min gap kept
    assert out[(2, 1)] == (1, 0)
    assert len(out) == 3


def test_streaming_sessionize_state_spans_batches(spark, tmp_path):
    """The open session must survive the micro-batch boundary: events
    split across two files belong to ONE session when no gap exceeds
    the threshold, and only gap-closed sessions are emitted."""
    import glob
    import os
    import shutil

    import pandas as pd

    from gdal_vfr_spark.streaming.incremental import streaming_sessionize

    base = pd.Timestamp("2024-01-01 00:00:00")
    m = pd.Timedelta(minutes=1)
    f1 = pd.DataFrame(
        [(1, 1, base), (1, 2, base + 5 * m)],
        columns=["user_id", "event_id", "ts"],
    )
    f2 = pd.DataFrame(
        [(1, 3, base + 8 * m), (1, 4, base + 50 * m)],
        columns=["user_id", "event_id", "ts"],
    )
    src = str(tmp_path / "events")
    os.makedirs(src)
    for i, pdf in enumerate((f1, f2), start=1):
        stage = str(tmp_path / f"stage{i}")
        spark.createDataFrame(pdf).coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(src, f"{i:04d}.parquet"))
    out = streaming_sessionize(
        spark,
        src,
        schema=spark.createDataFrame(f1).schema,
        checkpoint_dir=str(tmp_path / "ckpt"),
        out_table="t_ssess_span",
        gap_minutes=30,
    ).collect()
    assert len(out) == 1  # only the gap-closed session; the open one stays in state
    r = out[0]
    assert (r["user_id"], r["session_idx"], r["n_events"]) == (1, 1, 3)
    assert r["duration_sec"] == 8 * 60  # spans the batch boundary unbroken


def test_file_name_expr_matches_python(spark):
    """F8 as a column and as the driver list, on both routing branches
    (UVOH in either case => specialni/.xml.zip)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from gdal_vfr_spark.sources.manifest import file_name_expr, resolve_file_names

    cases = [
        ("ST_UKSH", dt.date(2024, 6, 30), "soucasna/20240630_ST_UKSH.xml.gz"),
        ("ST_UVOH", dt.date(2024, 7, 1), "specialni/20240701_ST_UVOH.xml.zip"),
        ("OB_530743_UKSH", dt.date(2024, 1, 31), "soucasna/20240131_OB_530743_UKSH.xml.gz"),
        ("st_uvoh", dt.date(2024, 2, 29), "specialni/20240229_st_uvoh.xml.zip"),
    ]
    df = spark.createDataFrame(
        [(t, d) for t, d, _ in cases], "vfr_type string, d date"
    ).select(file_name_expr(F.col("vfr_type"), F.col("d")).alias("name"))
    want = [name for *_, name in cases]
    assert [r["name"] for r in df.collect()] == want
    assert [resolve_file_names(t, [d])[0] for t, d, _ in cases] == want


def test_retry_plan_semantics(spark):
    """S2: change types get 1 attempt, full dumps get 4 (d..d+3) —
    vfrogr.py:260-281's ndays rule."""
    import datetime as dt

    from gdal_vfr_spark.sources.manifest import retry_plan

    df = spark.createDataFrame(
        [("ST_ZKSH", dt.date(2024, 6, 30)), ("ST_UKSH", dt.date(2024, 6, 30))],
        "vfr_type string, base_date date",
    )
    rows = retry_plan(df).collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r["vfr_type"], []).append(r)
    assert len(by_type["ST_ZKSH"]) == 1
    assert len(by_type["ST_UKSH"]) == 4
    full = sorted(by_type["ST_UKSH"], key=lambda r: r["attempt"])
    assert [r["candidate_date"].day for r in full] == [30, 1, 2, 3]
    assert full[1]["candidate_name"] == "soucasna/20240701_ST_UKSH.xml.gz"
    assert by_type["ST_ZKSH"][0]["candidate_name"] == "soucasna/20240630_ST_ZKSH.xml.gz"


def test_streaming_minhash_dedup_state_spans_batches(spark, tmp_path):
    """Near-dup state must survive the micro-batch boundary: a batch-2
    doc whose text matches a batch-1 doc is 'dup' even though they
    never share a micro-batch; within one batch the smaller id wins;
    keys of DROPPED docs still register (doc 4 collides with doc 2,
    which was itself a dup)."""
    import glob
    import os
    import shutil

    import pandas as pd

    from gdal_vfr_spark.streaming.incremental import streaming_minhash_dedup

    long_a = "the quick brown fox jumps over the lazy dog again and again " * 4
    long_b = "completely different content about rivers castles and squares " * 4
    f1 = pd.DataFrame(
        [(1, long_a), (2, long_a + " tail"), (3, long_b)],
        columns=["doc_id", "text"],
    )
    f2 = pd.DataFrame(
        [(4, long_a), (5, "unrelated third topic with its own words entirely " * 4)],
        columns=["doc_id", "text"],
    )
    src = str(tmp_path / "docs")
    os.makedirs(src)
    for i, pdf in enumerate((f1, f2), start=1):
        stage = str(tmp_path / f"stage{i}")
        spark.createDataFrame(pdf).coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(src, f"{i:04d}.parquet"))
    out = {
        r["doc_id"]: r["status"]
        for r in streaming_minhash_dedup(
            spark,
            src,
            schema=spark.createDataFrame(f1).schema,
            checkpoint_dir=str(tmp_path / "ckpt"),
            out_table="t_sminh_span",
        ).collect()
    }
    assert out[1] == "first"
    assert out[2] == "dup"  # near-identical to 1, same batch, larger id
    assert out[3] == "first"
    assert out[4] == "dup"  # identical to 1, across the batch boundary
    assert out[5] == "first"


def test_streaming_first_per_ttl_expiry(spark, tmp_path):
    """Event-time state expiry: key A emits in batch 1, its state
    times out during batch 2 (no data for A there and the watermark
    passes emit+ttl), so A's batch-3 event RE-emits; B (data in every
    batch before its ttl) and C (fresh in batch 2) emit exactly once;
    suppressed arrivals must not re-emit."""
    import glob
    import os
    import shutil

    import pandas as pd

    from gdal_vfr_spark.streaming.incremental import streaming_first_per_ttl

    def t(ms):
        return pd.Timestamp(ms * 1_000_000)

    f1 = pd.DataFrame(
        [(1, t(1000), 1), (2, t(20000), 2)], columns=["user_id", "ts", "event_id"]
    )
    f2 = pd.DataFrame(
        [(2, t(21000), 3), (3, t(22000), 4)], columns=["user_id", "ts", "event_id"]
    )
    f3 = pd.DataFrame(
        [(1, t(30000), 5), (3, t(31000), 6)], columns=["user_id", "ts", "event_id"]
    )
    src = str(tmp_path / "events")
    os.makedirs(src)
    for i, pdf in enumerate((f1, f2, f3), start=1):
        stage = str(tmp_path / f"stage{i}")
        spark.createDataFrame(pdf).coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(src, f"{i:04d}.parquet"))
    out = streaming_first_per_ttl(
        spark,
        src,
        schema=spark.createDataFrame(f1).schema,
        checkpoint_dir=str(tmp_path / "ckpt"),
        out_table="t_sttl",
        ttl_ms=10_000,
    )
    got = sorted((r["user_id"], r["event_id"]) for r in out.collect())
    assert got == [(1, 1), (1, 5), (2, 2), (3, 4)]
