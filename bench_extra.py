"""Round-6 optimization measurement harness: per-query noop-sink
isolation at an arbitrary SF dir and formatted-plan capture, beside
the headline suite of bench.py.

Usage:
  python bench_extra.py --sf /root/testdata/sf1.0 q1 q2 ...
  python bench_extra.py --sf /root/testdata/sf0.1 --plans plans/r06 --tag before q1 ...

Each query is timed with bench.py's per-query step (bench.time_query).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from bench import time_query  # noqa: E402


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
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        if args.plans:
            import contextlib
            import io

            spark.catalog.clearCache()
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
        best, times = time_query(spark, lambda: qs[name](spark, args.sf), args.runs)
        timings[name] = round(best, 3)
        print(f"## {name}: {timings[name]}s  (samples: {[round(t,2) for t in times]})", flush=True)
    spark.stop()
    print(json.dumps({"sf_dir": args.sf, "queries": timings, "total": round(sum(timings.values()), 3)}))


if __name__ == "__main__":
    main()
