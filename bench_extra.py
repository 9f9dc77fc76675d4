"""Round-6 optimization measurement harness (bench.py is FROZEN for
the driver; this file carries the extra measurements the optimization
guide asks for: per-query noop-sink isolation at an arbitrary SF dir
and formatted-plan capture).

Usage:
  python bench_extra.py --sf /root/testdata/sf1.0 q1 q2 ...
  python bench_extra.py --sf /root/testdata/sf0.1 --plans plans/r06 --tag before q1 ...

Methodology matches bench.py exactly (clearCache per query, one full
warmup materialization, then measured runs until the min is confirmed
by a second run within 30%, up to 5 runs, noop sink).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def _materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plans", default=None, help="directory to write <q>_<tag>.txt formatted plans")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--no-time", action="store_true", help="only dump plans")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from gdal_vfr_spark import get_spark

    spark = get_spark("bench_extra", extra_conf={"spark.ui.showConsoleProgress": "false"})
    qs = entrymod.queries()
    timings: dict[str, float] = {}
    for name in args.queries:
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        df = qs[name](spark, args.sf)
        if args.plans:
            import contextlib
            import io

            # explain-only variants expose plans that the production
            # path hides behind an execution-time localCheckpoint
            variants = getattr(entrymod, "plan_variants", dict)()
            pdf = (variants.get(name) or qs[name])(spark, args.sf)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                pdf.explain("formatted")
            os.makedirs(args.plans, exist_ok=True)
            with open(os.path.join(args.plans, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(buf.getvalue())
        if args.no_time:
            continue
        _materialize(df)
        times: list[float] = []
        for _ in range(args.runs):
            t0 = time.time()
            _materialize(qs[name](spark, args.sf))
            times.append(time.time() - t0)
            if len(times) >= 2:
                lo1, lo2 = sorted(times)[:2]
                if lo2 <= lo1 * 1.3:
                    break
        timings[name] = round(min(times), 3)
        print(f"## {name}: {timings[name]}s  (samples: {[round(t,2) for t in times]})", flush=True)
    spark.stop()
    print(json.dumps({"sf_dir": args.sf, "queries": timings, "total": round(sum(timings.values()), 3)}))


if __name__ == "__main__":
    main()
