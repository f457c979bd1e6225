"""The ``headline`` workload: the batch and training-data user.

Runs a subset of ``bench.HEADLINE`` (one query from each query module,
connected components for textops) on generated tables at scale factor
``SF``. Each query is forced with a noop write, as ``bench.py`` does,
and timed in two steps: construct (the registry call, where the
driver-side loops run) and execute (the write). The seed sets the order
of the queries in each pass.

Order of a run:
  1. on a checkout's first run only: generate the tables and store each
     query's DuckDB oracle digest with them, under ``.perfbench/cache/``;
  2. start the session (``setup_s`` starts);
  3. warm-up: one pass that collects and hashes every result and
     compares it with the stored oracle digest (the correctness check,
     outside the timed passes);
  4. timed passes until ``--seconds`` have passed (at least
     ``MIN_PASSES``); each query's figure is its median over them.
"""

from __future__ import annotations

import gc
import json
import os
import random
import time

import harness
from harness import log, median, quantile

SF = 0.01
MIN_PASSES = 2
# Drawn from bench.HEADLINE (checked at run time): one per query module;
# the textops one is connected components, whose driver-side rounds are
# the largest single cost of a HEADLINE pass. A full pass (33 queries,
# ~25 s warm and ~50 s cold on 4 cores) does not fit the run length.
QUERIES = (
    "q1_pricing_summary",  # analytic
    "q18_large_volume",  # tpch_extra
    "apply_upsert_delete",  # cdc
    "ann_topk_bruteforce",  # vectors
    "dedup_connected_components",  # textops -> operators.dedup.connected_components
)


def _tables() -> tuple[str, dict[str, list]]:
    """The tables' directory and each query's oracle digest, built once
    per checkout: the tables are the same for every seed."""
    import datagen

    data = os.path.join(harness.repo_root(), ".perfbench", "cache", f"headline-sf{SF}")
    digests = os.path.join(data, "oracle_digests.json")
    if not os.path.isfile(digests):
        datagen.write_tables(data, SF, seed=0)
        with open(digests + ".tmp", "w") as f:
            json.dump(_oracle_digests(data), f)
        os.rename(digests + ".tmp", digests)
    with open(digests) as f:
        return data, json.load(f)


def _oracle_digests(data: str) -> dict[str, list]:
    """Sorted column names and value hash of each query's DuckDB oracle."""
    from cdc_sink_spark.queries import registry
    from tools.check_correctness import connect_oracle, value_hash

    con = connect_oracle(data)
    out = {}
    for n in QUERIES:
        # The CC oracle's recursive step re-evaluates the (inlined) LSH
        # pair CTE on every iteration; materializing it once is a planner
        # hint only and gives the same rows, ~10x sooner.
        res = con.execute(registry.ORACLES[n].replace(
            "WITH RECURSIVE pairs AS (", "WITH RECURSIVE pairs AS MATERIALIZED (", 1))
        cols = [c[0] for c in res.description]
        out[n] = [sorted(cols), value_hash(res.fetchall(), cols)]
    con.close()
    return out


def run(seed: int, seconds: int, trace: bool, work: str) -> tuple[bool, int, int, dict]:
    data, oracle = _tables()
    import bench
    from tools.check_correctness import value_hash

    missing = [n for n in QUERIES if n not in bench.HEADLINE]
    if missing:
        raise SystemExit(f"not in bench.HEADLINE: {missing}")

    t_setup = time.perf_counter()
    spark = harness.start_session()
    start_s = time.perf_counter() - t_setup

    from cdc_sink_spark.operators import dedup
    from cdc_sink_spark.queries import registry

    tracer = harness.Tracer(spark, enabled=False, run_id=f"headline-{seed}")
    tracer.wrap(dedup, "connected_components", "dedup.cc")

    failed = attempted = 0
    digests = {}
    for n in QUERIES:
        attempted += 1
        try:
            df = registry.QUERIES[n](spark, data)
            digests[n] = [sorted(df.columns), value_hash([tuple(r) for r in df.collect()], df.columns)]
        except Exception as e:  # noqa: BLE001 - a raising query is a failure
            digests[n] = ["raised", str(e)[:200]]
    gc.collect()
    setup_s = time.perf_counter() - t_setup
    warm_s = setup_s - start_s
    log(f"session {start_s:.1f}s, warm-up {warm_s:.1f}s")

    # Timed passes. With --trace 1, untraced and traced passes run in
    # ABBA order (so a session still warming favours neither), and the
    # trace overhead is traced minus untraced on the same session.
    t_meas = time.time()
    order = random.Random(seed)
    passes: list[dict] = []
    while len(passes) < MIN_PASSES * (2 if trace else 1) or time.time() - t_meas < seconds:
        names = order.sample(QUERIES, len(QUERIES))
        passes.append(_pass(spark, registry, data, names, tracer, _traced(trace, len(passes))))
        attempted += len(QUERIES)
        failed += sum(1 for v in passes[-1].values() if v is None)
    tracer.enabled = False

    bad = [n for n in QUERIES if digests[n] != oracle[n]]
    failed += len(bad)
    if bad:
        log(f"digest mismatch or error: {bad}")
    untraced = [p for i, p in enumerate(passes) if not _traced(trace, i)]
    # A batch user waits for the whole query set, so latency is per pass:
    # the typical pass is the sum of the per-query medians.
    per_q = {n: median([_secs(p[n]) for p in untraced if p[n]]) for n in QUERIES}
    suite = sum(per_q.values())
    pass_s = [sum(map(_secs, p.values())) for p in untraced if all(p.values())]
    e2e = {
        "latency_p50_s": suite,
        "latency_p90_s": quantile(pass_s, 0.9),
        "setup_s": setup_s,
    }
    log(f"passes={len(passes)} suite={suite:.3f}s " + " ".join(f"{n}={v:.3f}" for n, v in per_q.items()))
    correct = failed == 0
    if not trace:
        return correct, attempted, failed, e2e

    traced_p = [p for i, p in enumerate(passes) if _traced(trace, i)]
    t_suite = sum(median([_secs(p[n]) for p in traced_p if p[n]]) for n in QUERIES)
    layer = {"session.start_s": start_s, "session.warm_s": warm_s}
    mod_of = {n: registry.QUERIES[n].__module__.rsplit(".", 1)[-1] for n in QUERIES}
    for m in harness.QUERY_MODULES:
        per_pass = []
        for p in traced_p:
            steps = [p[n] for n in QUERIES if mod_of[n] == m and p[n]]
            inc = [tracer.inclusive(s) for step in steps for s in step]
            per_pass.append({
                "construct_s": sum(c.wall_s for c, _ in steps),
                "execute_s": sum(x.wall_s for _, x in steps),
                "jobs": sum(i["jobs"] for i in inc),
                "executor_cpu_s": sum(i["executor_cpu_s"] for i in inc),
                "shuffle_bytes": sum(i["shuffle_write_bytes"] for i in inc),
            })
        for k in ("construct_s", "execute_s", "jobs", "executor_cpu_s", "shuffle_bytes"):
            layer[f"{m}.{k}"] = median([r[k] for r in per_pass])

    calls = [s for s in tracer.named("dedup.cc", since=t_meas) if s.stats]
    layer["dedup.cc_s"] = median([s.wall_s for s in calls])
    layer["dedup.cc_jobs"] = median([tracer.inclusive(s)["jobs"] for s in calls])
    layer["trace.overhead_s"] = t_suite - suite
    layer["trace.read_s"] = tracer.overhead_s
    log(f"spans written to {tracer.dump()}")
    return correct, attempted, failed, layer


def _traced(trace: bool, i: int) -> bool:
    return trace and i % 4 in (1, 2)


def _secs(step) -> float:
    construct, execute = step
    return construct.wall_s + execute.wall_s


def _pass(spark, registry, data: str, names: list[str], tracer, traced: bool) -> dict:
    """One pass over ``names``: {name: (construct span, execute span), or
    None for a query that raised}."""
    tracer.enabled = traced
    out = {}
    for n in names:
        df = None
        try:
            with tracer.span(f"{n}.construct") as c:
                df = registry.QUERIES[n](spark, data)
            with tracer.span(f"{n}.execute") as x:
                df.write.format("noop").mode("overwrite").save()
            out[n] = (c, x)
        except Exception as e:  # noqa: BLE001 - counted as a failed query
            log(f"{n} raised: {str(e)[:200]}")
            out[n] = None
        del df
    # Drop plan references so the ContextCleaner can release the
    # previous queries' checkpoint blocks, as bench.py does.
    gc.collect()
    tracer.enabled = False
    return out
