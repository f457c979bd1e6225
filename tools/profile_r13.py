"""Round-13 optimization profiler.

Writes each query's ``explain("formatted")`` text to
plans/r13/<name>_<tag>.txt, so plan-shape claims in OPTIMIZATION_r13.md
are checkable without running Spark, then times the queries with
``bench.run_suite`` (the bench.py clock: best-of-N noop-sink writes
after an sf0.001 warm-up, with per-query layer stats).

Usage:
    python tools/profile_r13.py --tag before [--runs 3] [query ...]

With no query names, profiles the bench HEADLINE list. Plans are always
captured; pass --no-time to skip timing (plans only).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from cdc_sink_spark.queries import registry
from cdc_sink_spark.session import get_spark


def formatted_plan(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--no-time", action="store_true")
    ap.add_argument("--plans-dir", default=os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r13"))
    args = ap.parse_args()

    names = args.queries or bench.HEADLINE
    os.makedirs(args.plans_dir, exist_ok=True)
    spark = get_spark("cdc-sink-spark-profile-r13")
    spark.sparkContext.setLogLevel("ERROR")

    for name in names:
        fn = registry.QUERIES.get(name)
        if fn is None:
            print(f"SKIP unknown query {name}", file=sys.stderr)
            continue
        with open(os.path.join(args.plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
            f.write(formatted_plan(fn(spark, args.sf_dir)))

    res = {} if args.no_time else bench.run_suite(spark, names, args.sf_dir, args.runs)
    timings = {n: r["best_s"] for n, r in res.items()}
    spread = {n: r["spread_s"] for n, r in res.items()}
    print(json.dumps({"tag": args.tag, "sf_dir": args.sf_dir, "runs": args.runs,
                      "queries": timings, "spread": spread, "layers": res,
                      "total": round(sum(timings.values()), 3)}))


if __name__ == "__main__":
    main()
