"""The benchmark's own tests: generators, expected answers, the metric
parser, the plan-graph attribution, the summary rule, the op loop's
failure accounting, and the ledger's shuffle read ratio, codegen
fallback count and task-time reconciliation on Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

import gen
import ledger
import run
import stats
import truth
from conftest import BENCH, REPO


def _tables_equal(a, b) -> bool:
    return a.equals(b)


# ---------------------------------------------------------------- generators


def test_pages_are_deterministic_per_seed():
    a, b, c = gen.pages(7, 5_000), gen.pages(7, 5_000), gen.pages(8, 5_000)
    assert _tables_equal(a, b)
    assert not _tables_equal(a, c)
    k = a["k_lon"].drop_null().to_numpy()
    assert k.min() >= 0 and k.max() < gen.STEPS
    # the planted megacity share lands in one obec cell
    hot = (k >= gen.HOT_K[0]) & (k < gen.HOT_K[1])
    assert hot.mean() > gen.HOT_FRAC * 0.9


def test_change_batches_are_deterministic_and_well_formed():
    a = gen.change_batch(7, 3, 1_000, 10, 5)
    assert _tables_equal(a, gen.change_batch(7, 3, 1_000, 10, 5))
    assert not _tables_equal(a, gen.change_batch(8, 3, 1_000, 10, 5))
    assert not _tables_equal(a, gen.change_batch(7, 4, 1_000, 10, 5))
    ids = a["page_id"].to_numpy()
    assert len(set(ids)) == len(ids) == 15
    assert (ids[:10] < 1_000).all() and (ids[10:] >= 1_000 + 3 * 5).all()
    assert a["lon"].null_count == 0


def test_webtext_tables_are_deterministic_per_seed():
    a, b, c = (gen.webtext(REPO, s, 0.02) for s in (7, 7, 8))
    for name in ("documents", "embeddings"):
        assert _tables_equal(a[name], b[name])
        assert not _tables_equal(a[name], c[name])


def test_cache_builds_once(tmp_path):
    calls = []

    def build(d):
        calls.append(d)
        open(os.path.join(d, "x"), "w").close()

    p1 = gen.cached(str(tmp_path), "k", build)
    p2 = gen.cached(str(tmp_path), "k", build)
    assert p1 == p2 and len(calls) == 1
    assert os.path.exists(os.path.join(p1, "x"))


# ---------------------------------------------------------- expected answers


@pytest.mark.parametrize("n_side", [10, 30, 50, 350])
def test_lattice_is_off_every_edge(n_side):
    odd = 2 * np.arange(gen.STEPS) + 1
    assert ((odd * n_side) % gen.UNITS != 0).all()
    assert (odd % (gen.UNITS // truth.OBEC_GRID) != 0).all()


def test_integer_keys_match_float_floor_arithmetic():
    from gdal_vfr_spark import datagen

    t = gen.pages(11, 20_000, null_frac=0.0)
    k_lon, k_lat = t["k_lon"].to_numpy(), t["k_lat"].to_numpy()
    lon, lat = t["lon"].to_numpy(), t["lat"].to_numpy()
    assert (truth.obec_kod(k_lon, k_lat) == datagen.truth_obec(lon, lat)).all()
    for n_side in (10, 30, 50, 350):
        assert (truth.parcel_kod(k_lon, k_lat, n_side)
                == datagen.truth_parcel_large(lon, lat, n_side=n_side)).all()


@pytest.mark.parametrize("n_side", [10, 30, 50])
def test_street_pairs_match_float_brute_force(n_side):
    t = gen.pages(12, 3_000, null_frac=0.0)
    k_lon, k_lat = t["k_lon"].to_numpy(), t["k_lat"].to_numpy()
    lon, lat = t["lon"].to_numpy(), t["lat"].to_numpy()
    pts, keys = truth.street_pairs(k_lon, k_lat, n_side, 0.004)
    got = set(zip(pts.tolist(), keys.tolist()))
    dx, dy = 1.0 / n_side, 1.0 / n_side
    ix, iy = np.meshgrid(np.arange(n_side), np.arange(n_side))
    ix, iy = ix.ravel(), iy.ravel()
    x1 = gen.LON0 + ix * dx + 0.2 * dx
    x2 = gen.LON0 + ix * dx + 0.8 * dx
    yc = gen.LAT0 + iy * dy + 0.5 * dy
    want = set()
    for p in range(len(lon)):
        cx = np.clip(lon[p], x1, x2)
        d2 = (lon[p] - cx) ** 2 + (lat[p] - yc) ** 2
        for s in np.nonzero(d2 <= 0.004 ** 2)[0]:
            want.add((p, int(truth.ULICE_L_BASE + iy[s] * n_side + ix[s])))
    assert got == want and got


# ------------------------------------------------------------ metric parser


@pytest.mark.parametrize("text, value", [
    ("432 ms (99 ms, 110 ms, 120 ms (stage 3.0: task 7))", 432.0),
    ("total (min, med, max (stageId: taskId))\n432 ms (99 ms, 110 ms, 120 ms (stage 3.0: task 7))", 432.0),
    ("total (min, med, max (stageId: taskId))\n9.1 s (2.2 s, 2.3 s, 2.4 s (stage 5.0: task 9))", 9100.0),
    ("1.5 m", 90_000.0),
    ("1024.0 KiB", 1024.0 * 1024),
    ("0.0 B", 0.0),
    ("8.0 MiB", 8.0 * 2**20),
    ("total (min, med, max (stageId: taskId))\n5.8 KiB (1479.0 B, 1486.0 B, 1489.0 B (stage 5.0: task 9))",
     5.8 * 1024),
    ("100,000", 100_000.0),
    ("1,900,334", 1_900_334.0),
    ("(min, med, max (stageId: taskId)):\n(1, 2, 3 (stage 5.0: task 9))", 2.0),
])
def test_parse_metric(text, value):
    assert ledger.parse_metric(text) == pytest.approx(value)


def test_parse_metric_rejects_unknown_units():
    with pytest.raises(ValueError):
        ledger.parse_metric("12 parsecs")


def test_union_length():
    assert ledger.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert ledger.union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert ledger.union_length([], 0, 1) == 0


def _pipeline(members, duration):
    return ledger.PlanNode("WholeStageCodegen (1)", {"duration": duration}, members)


def test_only_the_outermost_timed_unit_of_a_stage_is_attributed():
    # scan -> pipeline 10 -> Arrow UDF -> pipeline 20 -> exchange -> pipeline 30
    nodes = {
        1: ledger.PlanNode("Scan parquet", {"scan time": "total (min, med, max)\n40 ms (1 ms, 2 ms, 3 ms)"}, []),
        10: _pipeline([1], "total (min, med, max)\n300 ms (1 ms, 2 ms, 3 ms)"),
        2: ledger.PlanNode("ArrowEvalPython", {"time to run Python workers": "200 ms"}, []),
        3: ledger.PlanNode("HashAggregate", {}, []),
        20: _pipeline([3], "total (min, med, max)\n900 ms (1 ms, 2 ms, 3 ms)"),
        4: ledger.PlanNode("Exchange", {"shuffle records written": "8", "records read": "8"}, []),
        5: ledger.PlanNode("HashAggregate", {}, []),
        30: _pipeline([5], "7 ms"),
        6: ledger.PlanNode("FlatMapCoGroupsInPandas", {"time to run Python workers": "50 ms"}, []),
        7: ledger.PlanNode("Exchange", {}, []),
    }
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (6, 7)]
    led = {"shuffle.double_read_exchanges": 0.0, "codegen.fallback_nodes": 0.0, "task.attributed_ms": 0.0}
    ledger.add_plan(led, nodes, edges)
    assert led["task.attributed_ms"] == 900 + 7 + 50  # not the nested pipeline or UDF
    assert led["codegen.pipeline_ms"] == 300 + 900 + 7
    assert led["python.ms"] == 250 and led["scan.ms"] == 40
    assert led["shuffle.read_ratio"] == 1.0 and led["codegen.fallback_nodes"] == 0


@pytest.mark.parametrize("duration, member, fell_back", [
    ("0 ms", "total (min, med, max)\n90 ms (40 ms, 50 ms, 50 ms)", True),  # tasks ran, none timed it
    ("0 ms", "1 ms", False),  # one task, sub-millisecond: indistinguishable, not flagged
    ("total (min, med, max)\n0 ms (0 ms, 0 ms, 0 ms)", "total (min, med, max)\n9 ms (4 ms, 5 ms, 5 ms)", False),
    ("12 ms", "total (min, med, max)\n9 ms (4 ms, 5 ms, 5 ms)", False),
])
def test_codegen_fallback_rule(duration, member, fell_back):
    nodes = {1: ledger.PlanNode("HashAggregate", {"time in aggregation build": member}, []),
             10: _pipeline([1], duration)}
    led = {"shuffle.double_read_exchanges": 0.0, "codegen.fallback_nodes": 0.0, "task.attributed_ms": 0.0}
    ledger.add_plan(led, nodes, [])
    assert led["codegen.fallback_nodes"] == float(fell_back)


# ------------------------------------------------------------ summary rule


@pytest.mark.parametrize("n, p", [(1, None), (19, None), (99, None), (100, 90.0),
                                  (999, 90.0), (1_000, 99.0), (10_000, 99.9)])
def test_tail_percentile_needs_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p


def test_summarize_states_count_median_and_supported_tail():
    assert stats.summarize([3.0, 1.0, 2.0]) == {"n": 3, "p50": 2.0}
    s = stats.summarize([float(v) for v in range(1, 101)])
    assert s == {"n": 100, "p50": 50.5, "p90": 90.0}
    assert stats.percentile([float(v) for v in range(1, 11)], 50) == 5.0


# --------------------------------------------------------- failure counting


class _Fake:
    """Ops return i; op 2 raises; the expected answer is wrong for op 3."""

    warmup_ops = 1

    def __init__(self):
        self.want = {3: -1}

    def op(self, i, span):
        if i == 2:
            raise RuntimeError("boom")
        return 10, i

    def check(self, i, out):
        return out == self.want.get(i, i)

    def layers(self, i, out, leds):
        return {}

    def after_op(self, i):
        pass


def test_measure_counts_raises_and_wrong_answers_as_failed():
    tally = run.measure(_Fake(), seconds=0.0)
    assert tally.attempted == 2 and tally.failed == 0  # warm-up + one timed op
    tally = run.measure(_Fake(), seconds=0.05)
    assert tally.failed == 2  # op 2 raised, op 3 failed its check
    assert len(tally.walls) == tally.attempted - 1 - 1  # no warm-up, no raised op
    assert sum(tally.rows) == 10 * len(tally.walls)


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory holding only the benchmark: non-zero exit, no result."""
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    cmd = json.load(open(tmp_path / "BENCHMARK.json"))["command"]
    proc = subprocess.run([sys.executable if c == "python3" else c for c in cmd]
                          + ["--workload", "pip_tiles", "--seed", "1", "--seconds", "1", "--trace", "0"],
                          cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


# ------------------------------------------------------------ Spark ledger


@pytest.fixture(scope="module")
def spark():
    from gdal_vfr_spark import get_spark

    s = get_spark("perfbench-test", master="local[2]", shuffle_partitions=4,
                  extra_conf={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def _ledger(spark, fn):
    tracer = ledger.Tracer(spark)
    before = tracer.mark()
    fn()
    return tracer.read(before, tracer.mark())


def _in_band(led) -> bool:
    lo, hi = run.RECONCILE_BAND
    return lo <= run._layer_values(led, cores=2)["reconcile.task_ratio"] <= hi


def test_read_ratio_is_two_on_a_sorted_group_by(spark):
    from pyspark.sql import functions as F

    df = (spark.range(1_000_000, numPartitions=4).select((F.col("id") % 97).alias("g"))
          .groupBy("g").count().orderBy("g"))
    for _ in range(2):  # the first run also pays for class loading and code generation
        led = _ledger(spark, lambda: df.write.format("noop").mode("overwrite").save())
    assert led["shuffle.read_ratio"] == 2.0  # the hash exchange, re-read by the sampler
    assert led["shuffle.double_read_exchanges"] == 1
    assert led["overhead.jobs"] >= 1 and led["overhead.s"] >= 0
    assert led["stages.covered_s"] <= led["wall_s"]
    assert led["codegen.fallback_nodes"] == 0
    assert _in_band(led), led


def test_forced_codegen_fallback_is_counted(spark):
    from pyspark.sql import functions as F

    df = (spark.range(100_000, numPartitions=4).select((F.col("id") % 97).alias("g"))
          .where("g % 5 = 1").groupBy("g").count())
    spark.conf.set("spark.sql.codegen.hugeMethodLimit", "100")  # every method is "huge"
    try:
        led = _ledger(spark, lambda: df.write.format("noop").mode("overwrite").save())
    finally:
        spark.conf.unset("spark.sql.codegen.hugeMethodLimit")
    assert led["codegen.fallback_nodes"] >= 1
    led = _ledger(spark, lambda: df.write.format("noop").mode("overwrite").save())
    assert led["codegen.fallback_nodes"] == 0


def test_pip_tiles_op_checks_and_reads_each_exchange_once(spark, tmp_path, monkeypatch):
    import workloads

    monkeypatch.setattr(workloads, "PIP_PAGES", 20_000)
    wl = workloads.PipTiles(REPO, str(tmp_path), seed=3)
    wl.prepare()
    wl.setup(spark)
    out = {}
    for _ in range(2):  # the first op also pays for code generation and Python workers
        led = _ledger(spark, lambda: out.update(v=wl.op(1, run.Spans(None))[1]))
    assert wl.check(1, out["v"])
    assert led["shuffle.read_ratio"] == 1.0
    assert led["shuffle.double_read_exchanges"] == 0
    assert led["codegen.fallback_nodes"] == 0
    assert _in_band(led), (led["task.attributed_ms"], led["executor.run_ms"])
    # a deliberately wrong expected answer fails the op
    key = next(iter(wl.want))
    wl.want[key] += 1
    assert not wl.check(1, out["v"])
