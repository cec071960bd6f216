"""Per-query isolation harness for optimization work (guide §1.4).

NOT part of the driver contract — bench.py stays the frozen measured
artifact. This tool times a subset of registry queries in a fresh JVM
(noop sink, untimed warmup, best-of-N) and optionally dumps
``explain("formatted")`` for each to a directory, so before/after plan
evidence can be committed under plans/r07/.

Usage:
    python bench_extra.py q1 q2 ...            # time queries
    python bench_extra.py --explain DIR --suffix before q1 q2 ...
    python bench_extra.py --all                # every BENCH_QUERIES row
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--explain", metavar="DIR", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--reps", type=int, default=int(os.environ.get("SPARK_BENCH_REPS", "3")))
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import BENCH_QUERIES, run_plan
    from tools import measure
    from yomitoku_spark.queries import QUERIES
    from yomitoku_spark.session import get_spark

    names = BENCH_QUERIES if args.all else args.queries
    spark = get_spark(app="bench_extra")

    timings, spreads = {}, {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = QUERIES[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.explain, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(plan)
        walls = [
            r["wall"]
            for r in measure.timed(spark, lambda: run_plan(QUERIES[name](spark, sf_dir)), args.reps)
        ]
        timings[name] = round(min(walls), 3)
        spreads[name] = round(max(walls) / max(min(walls), 1e-9), 2)
        print(f"  {name}: {timings[name]} s (spread {spreads[name]}, n={len(walls)})",
              file=sys.stderr)
    print(json.dumps({"queries": timings, "spread": spreads, "sf_dir": sf_dir}))
    spark.stop()


if __name__ == "__main__":
    main()
