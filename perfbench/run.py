"""Benchmark of the gdal_vfr_spark engine through its public API.

    python3 perfbench/run.py --workload pip_tiles --seed 1 --seconds 5 --trace 0

Run from the repository root. One process, one local Spark session at
local[<cores>], one client in a closed loop (each op waits for the one
before). Inputs come from --seed; every op's output is checked against
an answer computed without the engine. With --trace 0 the last stdout
line carries the end-to-end metrics, with --trace 1 the per-layer ledger
read from Spark's status stores. Everything the run writes stays under
perfbench/.work/.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import subprocess
import sys
import tempfile
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
SETUP_REPS = 3
NEEDED = ("gdal_vfr_spark/__init__.py", "__spark_entry__.py", "tools/gen_sf_synth.py",
          "tools/check_oracle.py")

# ledger keys reported as they are (per-op medians)
_DIRECT = ("overhead.jobs", "overhead.stages", "overhead.tasks", "overhead.s", "scan.ms",
           "scan.rows", "scan.bytes", "codegen.pipeline_ms", "codegen.fallback_nodes",
           "python.ms", "python.init_ms", "python.bytes_sent", "python.bytes_received",
           "shuffle.write_ms", "shuffle.bytes", "shuffle.records", "shuffle.read_ratio",
           "shuffle.double_read_exchanges", "broadcast.bytes", "broadcast.build_ms",
           "agg.spill_bytes", "agg.peak_mem_bytes", "sink.write_ms", "sink.files", "sink.bytes")
# attributed task time / executor run time outside this band is flagged
RECONCILE_BAND = (0.65, 1.05)


def metric_units(section: str) -> dict[str, str]:
    """Metric names and units of one BENCHMARK.json section."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def _isolate() -> None:
    """Point every temporary and scratch directory into WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = None


def host_info() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        ram_mb = int(f.readline().split()[1]) // 1024
    cores = len(os.sched_getaffinity(0))
    return {
        "cores": cores,
        "ram_mb": ram_mb,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "master": f"local[{cores}]",
        # a quarter of RAM, at most 2 GiB: well below physical memory
        "driver_memory_mb": min(ram_mb // 4, 2048),
        "shuffle_partitions": 2 * cores,
    }


def start_session(host: dict):
    from gdal_vfr_spark import get_spark

    return get_spark(
        "perfbench",
        master=host["master"],
        shuffle_partitions=host["shuffle_partitions"],
        extra_conf={
            "spark.driver.memory": f"{host['driver_memory_mb']}m",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # fixed heap and young-generation sizes, so GC heuristics do not
            # resize them between runs; pages are not touched up front, so RSS
            # still grows with what the heap retains (cached relations,
            # broadcast tables, aggregation buffers)
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                f"-Xms{host['driver_memory_mb']}m -Xmn{host['driver_memory_mb'] // 4}m"),
        },
    )


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        out.setdefault(ppid, []).append(int(name))
    return out


def descendants(root: int) -> list[int]:
    kids, out, stack = _children(), [], [root]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except (OSError, IndexError, ValueError):
        return 0.0


class RssSampler(threading.Thread):
    """Summed RSS of this process's descendants (the driver JVM and its
    Python workers), sampled from /proc every `period` seconds.
    take_peak() returns the peak since the previous call."""

    def __init__(self, period: float = 0.1):
        super().__init__(daemon=True)
        self.period, self._peak = period, 0.0
        self._lock = threading.Lock()
        self._halt = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._halt.is_set():
            rss = sum(_rss_mb(p) for p in descendants(me))
            with self._lock:
                self._peak = max(self._peak, rss)
            self._halt.wait(self.period)

    def take_peak(self) -> float:
        with self._lock:
            peak, self._peak = self._peak, 0.0
        return peak

    def stop(self) -> None:
        self._halt.set()
        self.join()


class Spans:
    """Named status-store marks around the calls into each layer."""

    def __init__(self, tracer):
        self.tracer, self.marks = tracer, {}

    @contextlib.contextmanager
    def __call__(self, name: str):
        if self.tracer is None:
            yield
            return
        before = self.tracer.mark()
        try:
            yield
        finally:
            self.marks[name] = (before, self.tracer.mark())


def shutdown(spark) -> None:
    """Stop Spark, end the gateway JVM, and wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        with contextlib.suppress(OSError):
            os.kill(pid, 9)
    for pid in descendants(os.getpid()):
        with contextlib.suppress(ChildProcessError, OSError):
            os.waitpid(pid, 0)


def _layer_values(led: dict, cores: int) -> dict:
    out = {k: led.get(k, 0.0) for k in _DIRECT}
    out["overhead.idle_s"] = led["stages.covered_s"] - led["executor.run_ms"] / 1e3 / cores
    out["reconcile.task_ratio"] = led["task.attributed_ms"] / led["executor.run_ms"] \
        if led["executor.run_ms"] else 1.0
    return out


class Prepare(threading.Thread):
    """wl.prepare() in the background while the session starts."""

    def __init__(self, wl):
        super().__init__(daemon=True)
        self.wl, self.error = wl, None

    def run(self):
        try:
            self.wl.prepare()
        except Exception as e:  # noqa: BLE001 - re-raised in result()
            self.error = e

    def result(self):
        self.join()
        if self.error is not None:
            raise self.error


class Tally:
    """What the op loop saw."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.walls, self.rows, self.traced_walls, self.untraced_walls = [], [], [], []
        self.rss_peaks = []
        self.read_s, self.layer_rows = [], []


def measure(wl, seconds: float, tracer=None, persisted=lambda: 0, cores: int = 1,
            rss=None) -> Tally:
    """Closed loop, one client: `wl.warmup_ops` untimed warm-up ops (JIT,
    codegen, Python workers), then ops back to back until `seconds` have
    passed; the op in flight is finished. An op that raises or fails its
    check counts as failed. With a tracer, every second op is traced and
    the others give the untraced baseline. With an RssSampler, each
    timed op's peak RSS is kept."""
    tally = Tally()
    t_run = None
    i = 0
    while True:
        warm = i < wl.warmup_ops
        traced = tracer is not None and not warm and i % 2 == 0
        spans = Spans(tracer if traced else None)
        tally.attempted += 1
        if rss is not None:
            rss.take_peak()
        try:
            with spans("op"):
                t = time.perf_counter()
                n, out = wl.op(i, spans)
                wall = time.perf_counter() - t
            ok = bool(wl.check(i, out))
        except Exception as e:  # noqa: BLE001 - a raising op is a failed op
            print(f"op {i} raised {type(e).__name__}: {e}", file=sys.stderr)
            ok, wall = False, None
        tally.failed += not ok
        if not warm and wall is not None:
            tally.walls.append(wall)
            tally.rows.append(n)
            if rss is not None:
                tally.rss_peaks.append(rss.take_peak())
            (tally.traced_walls if traced else tally.untraced_walls).append(wall)
        if traced and ok:
            t = time.perf_counter()
            leds = {k: tracer.read(b, a) for k, (b, a) in spans.marks.items()}
            vals = _layer_values(leds["op"], cores)
            lo, hi = RECONCILE_BAND
            if not lo <= vals["reconcile.task_ratio"] <= hi:
                print(f"FLAG op {i} unreconciled: attributed task time is "
                      f"{vals['reconcile.task_ratio']:.3f} of executor run time")
            vals["cache.persisted_after_op"] = float(persisted())
            vals.update(wl.layers(i, out, leds))
            tally.read_s.append(time.perf_counter() - t)
            tally.layer_rows.append(vals)
        wl.after_op(i)
        i += 1
        if warm:
            t_run = time.perf_counter()
            continue
        elapsed = time.perf_counter() - t_run
        # a trace run also needs a traced and an untraced op, unless traced
        # ops keep failing
        traced_enough = tracer is None or (tally.layer_rows and tally.untraced_walls) \
            or elapsed >= 4 * seconds
        if elapsed >= seconds and traced_enough:
            return tally


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in NEEDED if not os.path.exists(os.path.join(REPO, p))]
    if missing:
        print(f"perfbench: engine sources missing under {REPO}: {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [BENCH, REPO]
    _isolate()
    import ledger
    from stats import summarize
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    import __spark_entry__  # noqa: F401 - imported here, not first inside the thread

    end_to_end, per_layer = metric_units("end_to_end"), metric_units("per_layer")

    host = host_info()
    wl = WORKLOADS[args.workload](REPO, WORK, args.seed)
    t0 = time.perf_counter()
    prep = Prepare(wl)
    prep.start()
    spark = start_session(host)
    try:
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        prep.result()
        start_s = time.perf_counter() - t0  # session start overlapped with input generation
        setups = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            wl.setup(spark)
            setups.append(time.perf_counter() - t)
        rss = RssSampler()
        rss.start()
        tally = measure(
            wl, args.seconds,
            tracer=ledger.Tracer(spark) if args.trace else None,
            persisted=lambda: spark.sparkContext._jsc.getPersistentRDDs().size(),
            cores=host["cores"], rss=rss)
        rss.stop()
    finally:
        shutdown(spark)

    walls = tally.walls
    ops = summarize(walls) if walls else {"n": 0}
    e2e = {
        "setup_s": start_s + statistics.median(setups),
        # median per-op throughput: one op slowed by the host moves it no
        # more than it moves op_p50_s
        "rows_per_s": _median(n / w for n, w in zip(tally.rows, walls)),
        "op_p50_s": ops.get("p50", 0.0),
        "peak_rss_mb": _median(tally.rss_peaks),
    }
    print("host: " + json.dumps(host, sort_keys=True))
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
          f"ops={len(walls)} (+{wl.warmup_ops} warm-up) attempted={tally.attempted} failed={tally.failed} "
          f"failed_ratio={tally.failed / tally.attempted:.4f}")
    print(f"setup_s: session start {session_s:.3f} s, with inputs ready {start_s:.3f} s, "
          f"+ median of {SETUP_REPS} set-ups {[round(s, 3) for s in setups]}")
    print("op wall s: " + json.dumps({k: round(v, 4) if isinstance(v, float) else v
                                      for k, v in ops.items()})
          + f" all {[round(w, 3) for w in walls]}")
    for name, unit in end_to_end.items():
        print(f"{name} = {e2e[name]:.6g} {unit}")
    if args.trace:
        metrics = {k: _median(r.get(k, 0.0) for r in tally.layer_rows) for k in per_layer}
        metrics["session.start_s"] = session_s
        metrics["trace.overhead_s"] = _median(tally.traced_walls) - _median(tally.untraced_walls)
        metrics["trace.read_s"] = _median(tally.read_s)
        units = per_layer
        print(f"traced ops: {len(tally.layer_rows)}, untraced ops: {len(tally.untraced_walls)}")
        for flag, key in (("double-read exchange", "shuffle.double_read_exchanges"),
                          ("codegen fallback", "codegen.fallback_nodes"),
                          ("spill", "agg.spill_bytes"),
                          ("relations persisted after op", "cache.persisted_after_op")):
            if metrics[key] > 0:
                print(f"FLAG {flag}: {key} = {metrics[key]:g}")
        for name, unit in per_layer.items():
            print(f"{name} = {metrics[name]:.6g} {unit}")
    else:
        metrics, units = {k: e2e[k] for k in end_to_end}, end_to_end
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
