"""Mid-run crash + resume evidence for the per-partition lineage
checkpoint (north rule: "resumable from checkpoint with per-partition
lineage + metrics ... without recomputing completed partitions").

tests/test_lineage_streaming.py pins the SEMANTICS at 1k rows; this
runner measures the CLAIM at scale: a multi-million-page stage is
hard-killed (os._exit — no cleanup, no atexit, the faithful crash)
after K of its Z-order cell-range units have committed, then re-run.
Evidence recorded:

1. the resumed run executes EXACTLY the pending units (lineage rows
   prove it: no duplicate (stage, unit) after resume);
2. completed units' output files are byte-untouched (mtime snapshot
   across the resume);
3. the crash+resume output is BIT-IDENTICAL to an uninterrupted
   baseline run (order-insensitive xxhash64 xor-fold over every row of
   both outputs, plus per-unit content hashes in the two lineage
   tables compared unit-by-unit);
4. recompute avoided: resume wall vs baseline wall, against the ideal
   pending/total work fraction (per-unit elapsed_sec from lineage
   shows the split directly).

Each phase runs in its own subprocess (own JVM, like a restarted
driver — resume state flows ONLY through the on-disk lineage table,
exactly the production restart path; on a cluster the lineage
ParquetTable would be an Iceberg metadata table).

Usage (idle host):  python tools/resume_scale_run.py [n_pages] [crash_after]
Env: SPARK_GRAFT_RESUME_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_PAGES = int(os.environ.get("SPARK_GRAFT_RESUME_NPAGES", 6_000_000))
CPUS = int(os.environ.get("SPARK_GRAFT_RESUME_CPUS", 32))
WORK = os.environ.get("SPARK_GRAFT_RESUME_DIR", "/tmp/gdal_vfr_resume")
PAGES_PATH = f"{WORK}/pages_{N_PAGES}"
# the webtext extent is ~1°x1°: one Morton cell at res<=8. Res 10
# (~0.35° cells) splits it into ~16 real spatial work units.
PREFIX_RES = int(os.environ.get("SPARK_GRAFT_RESUME_PREFIX_RES", 10))
STAGE = "quality_extract"


def _get_spark(name: str):
    from gdal_vfr_spark import get_spark

    return get_spark(
        name,
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def _transform(part):
    """The measured per-unit stage: language-ID + quality gate +
    fingerprint over the unit's pages — a realistic map-heavy extract
    step (text.analyze; output rows ≈ input rows so the per-unit write
    is real work too)."""
    from pyspark.sql import functions as F

    from gdal_vfr_spark.operators import text as X

    return X.analyze(part.select("url", "unit", "tile_key", "text")).select(
        "url",
        "unit",
        "tile_key",
        "lang_pred",
        "quality",
        "n_tokens",
        F.col("fingerprint").alias("fp"),
    )


def ensure_pages() -> None:
    if os.path.exists(os.path.join(PAGES_PATH, "_SUCCESS")):
        return
    from gdal_vfr_spark import datagen

    spark = _get_spark("resume_gen")
    # only the stage's columns: keeps the generator plan inside the
    # janino 64KB codegen limit (the truth_tile_key expression alone
    # exceeds it and forces an interpreted fallback)
    df = (
        datagen.gen_webpages_sql(spark, N_PAGES)
        .where("lon is not null")
        .select("url", "lon", "lat", "text")
    )
    df.repartition(CPUS * 4).write.mode("overwrite").parquet(PAGES_PATH)
    spark.stop()


def run_worker(tag: str, crash_after: int) -> None:
    """One driver lifetime. tag selects the (lineage, output) root;
    crash_after > 0 hard-kills the process after that many unit
    commits (between units — mid-write kills leave no lineage row and
    no _SUCCESS, so the unit stays pending; exercised implicitly since
    the overwrite on resume covers it either way)."""
    from gdal_vfr_spark.plans.lineage import LineageLog, run_stage_resumable

    spark = _get_spark(f"resume_{tag}")
    pages = spark.read.parquet(PAGES_PATH).select("url", "lon", "lat", "text")
    log = LineageLog(spark, f"{WORK}/{tag}/lineage")

    if crash_after > 0:
        real_commit = LineageLog.commit
        state = {"n": 0}

        def crashing_commit(self, *a, **kw):
            real_commit(self, *a, **kw)
            state["n"] += 1
            if state["n"] >= crash_after:
                sys.stderr.write(f"CRASH after {state['n']} commits\n")
                sys.stderr.flush()
                os._exit(137)  # no cleanup: the faithful crash

        LineageLog.commit = crashing_commit  # this process only

    t0 = time.time()
    done = run_stage_resumable(
        spark, pages, STAGE, _transform, log, f"{WORK}/{tag}/out", prefix_res=PREFIX_RES
    )
    wall = time.time() - t0
    lin = log.read().toPandas()
    print(
        json.dumps(
            {
                "tag": tag,
                "wall_sec": round(wall, 2),
                "units_done_this_run": sorted(done),
                "lineage_units": int(lin["unit"].nunique()),
                "lineage_rows": int(len(lin)),
                "sum_unit_elapsed": round(float(lin["elapsed_sec"].sum()), 2),
                "n_rows_total": int(lin["n_rows"].sum()),
            }
        )
    )
    spark.stop()


def verify_worker() -> None:
    """Compare baseline vs crash+resume outputs bit-for-bit and the two
    lineage tables unit-by-unit."""
    from pyspark.sql import functions as F

    from gdal_vfr_spark.plans.lineage import LineageLog, content_hash_expr

    spark = _get_spark("resume_verify")
    # glob to the unit leaves: the data files already carry a `unit`
    # column, so root-level partition discovery of the unit= dirs
    # would collide with the data schema
    a = spark.read.parquet(f"{WORK}/baseline/out/unit=*")
    b = spark.read.parquet(f"{WORK}/resumed/out/unit=*")
    ha = a.agg(content_hash_expr(a).alias("h"), F.count("*").alias("n")).first()
    hb = b.agg(content_hash_expr(b).alias("h"), F.count("*").alias("n")).first()
    la = LineageLog(spark, f"{WORK}/baseline/lineage").read().toPandas()
    lb = LineageLog(spark, f"{WORK}/resumed/lineage").read().toPandas()
    pa = la.set_index("unit")[["n_rows", "content_hash"]].sort_index()
    pb = lb.set_index("unit")[["n_rows", "content_hash"]].sort_index()
    print(
        json.dumps(
            {
                "rows_equal": int(ha["n"]) == int(hb["n"]),
                "output_hash_equal": int(ha["h"]) == int(hb["h"]),
                "n_rows": int(ha["n"]),
                "lineage_no_duplicate_units": bool(
                    lb["unit"].is_unique and la["unit"].is_unique
                ),
                "per_unit_lineage_equal": bool(pa.equals(pb)),
            }
        )
    )
    spark.stop()


def _sub(args: list[str], expect: int = 0) -> dict | None:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *args],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    if proc.returncode != expect:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"phase {args} exit {proc.returncode} (wanted {expect})")
    lines = [l for l in proc.stdout.strip().splitlines() if l.startswith("{")]
    return json.loads(lines[-1]) if lines else None


def _mtimes(root: str) -> dict[str, float]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            out[os.path.relpath(p, root)] = os.stat(p).st_mtime
    return out


def main() -> None:
    import shutil

    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else N_PAGES
    crash_after = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    # workers are subprocesses: the page count must flow through env
    os.environ["SPARK_GRAFT_RESUME_NPAGES"] = str(n_pages)
    globals()["N_PAGES"] = n_pages
    globals()["PAGES_PATH"] = f"{WORK}/pages_{n_pages}"

    ensure_pages()
    for tag in ("baseline", "resumed"):
        shutil.rmtree(f"{WORK}/{tag}", ignore_errors=True)

    base = _sub(["--worker", "baseline", "0"])
    n_units = base["lineage_units"]
    k = crash_after or max(1, n_units // 2)
    print(json.dumps({"phase": "baseline", **base, "crash_after": k}))

    t0 = time.time()
    _sub(["--worker", "resumed", str(k)], expect=137)
    crash_wall = time.time() - t0
    done_before = _mtimes(f"{WORK}/resumed/out")

    res = _sub(["--worker", "resumed", "0"])
    after = _mtimes(f"{WORK}/resumed/out")
    touched = sorted(
        p for p, m in done_before.items() if after.get(p) != m
    )
    ver = _sub(["--verify"])

    summary = {
        "n_pages_geotagged": base["n_rows_total"],
        "n_units": n_units,
        "crash_after_units": k,
        "baseline_wall_sec": base["wall_sec"],
        "crash_run_wall_sec": round(crash_wall, 2),
        "resume_wall_sec": res["wall_sec"],
        "resume_units_executed": len(res["units_done_this_run"]),
        "pending_fraction": round(1 - k / n_units, 3),
        "resume_wall_fraction": round(res["wall_sec"] / base["wall_sec"], 3),
        "completed_unit_files_touched_by_resume": touched,
        **ver,
    }
    ok = (
        ver["output_hash_equal"]
        and ver["rows_equal"]
        and ver["per_unit_lineage_equal"]
        and ver["lineage_no_duplicate_units"]
        and not touched
        and len(res["units_done_this_run"]) == n_units - k
    )
    summary["resume_evidence_ok"] = ok
    print(json.dumps(summary))
    if not ok:
        raise SystemExit(1)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        run_worker(sys.argv[2], int(sys.argv[3]))
    elif len(sys.argv) > 1 and sys.argv[1] == "--verify":
        verify_worker()
    else:
        main()
