"""The measurement protocol of bench.py, on scripted inputs: no Spark,
no sleeping (the idle wait is replaced), subprocesses only for
json_worker's own failure modes."""

import os

import pytest

import bench


class _Clock:
    def __init__(self):
        self.now = 0.0

    def perf_counter(self):
        return self.now


def _scripted(monkeypatch, durations):
    """A run() whose successive timings are `durations`."""
    clock = _Clock()
    monkeypatch.setattr(bench, "time", clock)
    it = iter(durations)

    def run():
        clock.now += next(it)

    return run


@pytest.mark.parametrize(
    "durations, cap, tol, best, n_runs",
    [
        ([8, 9.5, 99], 5, 1.2, 8, 2),  # second run confirms the first
        ([10, 12.5, 99], 5, 1.3, 10, 2),  # the per-query tolerance
        ([10, 13, 8, 9, 99], 5, 1.2, 8, 4),  # confirmed by the two lowest, not the last two
        ([10, 20, 30, 40, 50, 60], 3, 1.2, 10, 3),  # never confirmed: cap bounds it
    ],
)
def test_confirmed_min_stopping_rule(monkeypatch, durations, cap, tol, best, n_runs):
    got, times = bench.confirmed_min(_scripted(monkeypatch, durations), cap, tol)
    assert got == best
    assert times == pytest.approx(durations[:n_runs])


def _protocol(monkeypatch, hi_rates, lo_rate=100.0, budget=(3, 5, 3)):
    """Run two_levels at (1, 4) with scripted per-level rates; returns
    (result, call order, idle waits)."""
    calls, waits = [], []
    hi_iter = iter(hi_rates)
    monkeypatch.setattr(bench, "_wait_for_idle", lambda **kw: waits.append(kw))

    def run_level(cpus):
        calls.append(cpus)
        rate = lo_rate if cpus == 1 else next(hi_iter)
        return {"sec": 1000.0 / rate, "rate": rate}

    out = bench.two_levels(run_level, "rate", 1, 4, *budget)
    return out, calls, waits


def test_two_levels_stable_ratio_stops_at_min_pairs(monkeypatch):
    out, calls, waits = _protocol(monkeypatch, [360.0] * 10)
    assert calls == [1, 4] * 3  # interleaved, exactly min_pairs pairs
    assert out["eff_history"] == [0.9, 0.9, 0.9]
    assert out["scaling_efficiency"] == 0.9
    assert out["extended_pairs"] == 0 and waits == []
    assert out["levels"] == {"lo": 1, "hi": 4}
    assert out["n4"] == {"sec": 1000.0 / 360.0, "rate": 360.0}
    assert out["throughput_samples"] == {"n1": [100] * 3, "n4": [360] * 3}
    assert len(out["load_at_pairs"]) == 3


def test_two_levels_below_bar_extends_up_to_max_extra(monkeypatch):
    out, calls, waits = _protocol(monkeypatch, [200.0] * 20)
    assert out["eff_history"] == [0.5] * 6  # 3 pairs + max_extra 3
    assert out["extended_pairs"] == 3 and len(waits) == 3
    assert len(calls) == 12


def test_two_levels_unstable_ratio_extends_above_the_bar(monkeypatch):
    # the hi level keeps improving: every pair moves the ratio > 5%,
    # all above the 0.8 bar; once it settles one extension confirms it
    out, _, waits = _protocol(monkeypatch, [360, 400, 440, 480, 520] + [520] * 10)
    assert out["eff_history"] == [0.9, 1.0, 1.1, 1.2, 1.3, 1.3]
    assert out["extended_pairs"] == 1 and len(waits) == 1
    # never stable: max_pairs + max_extra pairs, no more
    out, calls, _ = _protocol(monkeypatch, [360 * 1.1**i for i in range(20)], budget=(2, 3, 2))
    assert len(out["eff_history"]) == 5 and out["extended_pairs"] == 2
    assert out["n4"]["rate"] == pytest.approx(360 * 1.1**4)  # the best-sec run


def test_levels_default_and_past_host(monkeypatch):
    host = len(os.sched_getaffinity(0))
    monkeypatch.delenv("SPARK_GRAFT_BENCH_LEVELS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert bench.levels() == (1, host)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_LEVELS", f"1,{host + 1}")
    with pytest.raises(ValueError, match=f"level {host + 1}"):
        bench.levels()
    with pytest.raises(ValueError, match=f"level {host + 1}"):
        bench.level_session("harness_test", host + 1)


class _Sleeper:
    def __init__(self):
        self.now = 0.0

    def time(self):
        return self.now

    def sleep(self, s):
        self.now += s


@pytest.mark.parametrize(
    "cores, load, waited",
    [(32, 5.9, False), (32, 6.1, True), (4, 0.7, False), (4, 0.8, True)],
)
def test_wait_for_idle_threshold_scales_with_cores(monkeypatch, cores, load, waited):
    """The default threshold (6.0 per 32 cores) holds the run at the
    same share of busy cores on any host: 6.0 on 32 cores, 0.75 on 4."""
    from gdal_vfr_spark import session

    clock = _Sleeper()
    monkeypatch.setattr(bench, "time", clock)
    monkeypatch.setattr(os, "getloadavg", lambda: (load, load, load))
    monkeypatch.setattr(session, "local_cores", lambda: cores)
    bench._wait_for_idle(max_wait=60.0)
    assert (clock.now >= 60.0) is waited


def test_json_worker_failures():
    assert bench.json_worker(["-c", "print('log'); print('{\"a\": 1}')"]) == {"a": 1}
    # a deliberate crash may print no JSON line
    assert bench.json_worker(["-c", "import os; os._exit(137)"], expect=137) is None
    argv = ["-c", "import sys; sys.stderr.write('the worker failed because'); sys.exit(3)"]
    with pytest.raises(RuntimeError, match="exited 3") as err:
        bench.json_worker(argv)
    assert repr(argv) in str(err.value) and "the worker failed because" in str(err.value)
    with pytest.raises(RuntimeError, match="without a JSON line"):
        bench.json_worker(["-c", "print('no json here')"])
    with pytest.raises(RuntimeError, match=r"exited 0 \(wanted 137\)"):
        bench.json_worker(["-c", "print('{}')"], expect=137)
