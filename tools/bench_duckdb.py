"""DuckDB side of BASELINE.md: runs the oracle SQL for bench.py's
headline queries, warm, best of $SPARK_GRAFT_BENCH_RUNS, on
$SPARK_GRAFT_CPUS threads (the Spark side's width), after bench.py's
idle gate, and prints one JSON line."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from bench import HEADLINE, wait_idle

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Same idle gate as bench.py: this tool is the DENOMINATOR of the
    # BASELINE table — a contended DuckDB run silently inflates the
    # published Spark-vs-DuckDB ratio.
    loadavg_start, contended = wait_idle()
    con = duckdb.connect()
    # The width bench.py's Spark session runs at (session.get_spark).
    con.execute(f"SET threads TO {int(os.environ.get('SPARK_GRAFT_CPUS', '32'))}")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = entrymod.oracle_sql()
    missing = [n for n in HEADLINE if n not in oracles]
    if missing:
        print(
            f"WARNING: HEADLINE names without oracles (skipped): {missing}",
            file=sys.stderr,
        )
    # Best-of-N (default 3), same as bench.py: a single timed run let a
    # cold-cache/scheduler outlier inflate a query 10x (events_sessionize
    # measured 1.6s once vs a 0.12s steady state) — the baseline must not
    # be flattered OR penalized by one noisy sample.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings = {}
    spread = {}
    for name in HEADLINE:
        sql = oracles.get(name)
        if not sql:
            continue
        con.execute(sql).fetchall()  # warm
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            samples.append(time.perf_counter() - t0)
        timings[name] = round(min(samples), 3)
        spread[name] = round(max(samples) - min(samples), 3)
    print(
        json.dumps(
            {
                "metric": "duckdb_oracle_suite_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "spread": spread,
                "runs": runs,
                "loadavg_start": loadavg_start,
                "contended": contended,
                "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
            }
        )
    )


if __name__ == "__main__":
    main()
