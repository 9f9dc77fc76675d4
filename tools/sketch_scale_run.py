"""Scale evidence for the constant-state sketches (HLL / CMS / Bloom):
run each over a 10^8-key synthetic stream and report throughput, the
size of the aggregate state that actually crossed the shuffle, and —
for HLL — the estimate error against the known true cardinality.

The input is generated in-engine (spark.range -> key expr), so the
run measures the sketch pipeline itself: md5 hash grind (one digest
per key after the round-4b slice optimization), map-side combine to
constant state, kilobyte-scale exchange. This is the evidence that
the operators' shuffle volume does NOT grow with the corpus — the
property claimed in operators/sketches.py — measured, not argued.

Usage: python tools/sketch_scale_run.py [n_keys]
       (default 100_000_000, on local[session.local_cores()]; prints
       one JSON line). The same run at two SPARK_GRAFT_CPUS values
       evidences scaling.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import level_session  # noqa: E402
from gdal_vfr_spark.session import local_cores  # noqa: E402


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000_000
    cpus = local_cores()

    from pyspark.sql import functions as F

    from gdal_vfr_spark.operators import sketches as sk

    spark = level_session("sketch_scale", cpus)

    # 10^8 rows, ~37M distinct keys (known truth: id % 37_000_003 has
    # min(n, 37_000_003) distinct values), Zipf-free uniform stream —
    # the hash grind dominates either way
    distinct_mod = 37_000_003
    keys = spark.range(n).select(
        F.concat(F.lit("k"), (F.col("id") % distinct_mod)).alias("k")
    )

    results = {}

    def run(name, build):
        df = build()
        df.count()  # warmup (JIT, codegen)
        t0 = time.time()
        rows = df.count()
        dt = time.time() - t0
        results[name] = {
            "keys_per_sec": round(n / dt),
            "wall_s": round(dt, 1),
            "state_rows": rows,
        }
        return dt

    run("hll_registers", lambda: sk.hll_registers(keys, "k"))
    # estimate quality at this cardinality (driver-side correction path)
    row = sk.hll_summary(sk.hll_registers(keys, "k")).collect()[0]
    est = sk.hll_estimate(row)
    true_distinct = min(n, distinct_mod)
    results["hll_registers"]["true_distinct"] = true_distinct
    results["hll_registers"]["estimate"] = round(est)
    results["hll_registers"]["rel_err"] = round(abs(est - true_distinct) / true_distinct, 4)

    run("cms_counters", lambda: sk.cms_counters(keys, "k"))
    run("bloom_build", lambda: sk.bloom_build(keys, "k"))

    print(
        json.dumps(
            {
                "metric": "sketch build throughput (keys/sec)",
                "n_keys": n,
                "cpus": cpus,
                "ops": results,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
