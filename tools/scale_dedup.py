"""Dedup-family scale smoke: run the three slowest bench entries at an
sf1-EQUIVALENT scale (10x the sf0.1 row counts) on synthetic data with
the same statistical shape as the driver's testdata — duplicate-cluster
structure included — to measure how the documented one-shuffle /
O(diameter) designs actually scale. Prints one JSON line with sf0.1-
equivalent and sf1-equivalent timings per query, each with its layer
stats; queries and the probe are timed by ``bench.timed``.

Shapes (matching /root/testdata generators, seed-free determinism via
hash(doc_id, position) so any N reproduces bit-identically):
  documents  50-word salads over a small vocab; every 5th doc re-rolls
             an earlier doc's text with 2 perturbed words -> near-dup
             clusters for LSH/simhash/connected-components to find.
  events     (event_id, ts, user_id, event_type, value) stream.
  customer   (c_custkey, c_name, c_acctbal) apply target.

Usage: python tools/scale_dedup.py [multiplier]   # default 10 = "sf1"
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import bench
from cdc_sink_spark.session import get_spark

# sf0.1 row counts (TESTDATA.md); the multiplier scales from here.
BASE_DOCS = 5_000
BASE_EVENTS = 100_000
BASE_CUST = 15_000

VOCAB = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data join shuffle plan scale node disk memory stage task core"
).split()


def synth_dir(spark: SparkSession, mult: int) -> str:
    out = tempfile.mkdtemp(prefix=f"scale-dedup-x{mult}-")
    n_docs = BASE_DOCS * mult
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    nv = len(VOCAB)
    base = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    # Every 5th doc clones the cluster head's text (doc_id rounded down
    # to the nearest 100) with its first two words perturbed -> exact
    # heads + near-dup satellites, the same structure the testdata has.
    src_id = F.when(
        (F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 100 != 0),
        F.col("doc_id") - (F.col("doc_id") % 100),
    ).otherwise(F.col("doc_id"))
    words = F.transform(
        F.sequence(F.lit(1), F.lit(50)),
        lambda j: F.element_at(
            vocab,
            (
                F.pmod(
                    F.when(j <= 2, F.xxhash64(F.col("doc_id") * 1_000 + j)).otherwise(
                        F.xxhash64(src_id * 1_000 + j)
                    ),
                    F.lit(nv),
                )
                + 1
            ).cast("int"),
        ),
    )
    docs = base.select(
        "doc_id",
        F.array_join(words, " ").alias("text"),
        F.element_at(
            F.array(F.lit("en"), F.lit("zh"), F.lit("de")),
            (F.pmod(F.xxhash64("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("lang"),
        F.concat(F.lit("src"), (F.col("doc_id") % 8).cast("string")).alias("source"),
    ).withColumn("n_chars", F.length("text"))
    docs.repartition(32).write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))

    n_ev = BASE_EVENTS * mult
    ev = spark.range(n_ev).select(
        F.col("id").alias("event_id"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
            + F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), F.col("id") % 2_592_000)
        ).alias("ts"),
        F.pmod(F.xxhash64(F.col("id") + 7), F.lit(BASE_CUST * mult)).alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("buy"), F.lit("error")),
            (F.pmod(F.xxhash64(F.col("id") + 13), F.lit(4)) + 1).cast("int"),
        ).alias("event_type"),
        F.round(F.pmod(F.xxhash64(F.col("id") + 29), F.lit(100_000)) / 100.0, 2).alias("value"),
        F.lit('{"k": 1}').alias("props"),
    )
    ev.repartition(32).write.mode("overwrite").parquet(os.path.join(out, "events.parquet"))

    cust = spark.range(BASE_CUST * mult).select(
        F.col("id").alias("c_custkey"),
        F.concat(F.lit("Customer#"), F.col("id").cast("string")).alias("c_name"),
        F.round(F.pmod(F.xxhash64(F.col("id") + 3), F.lit(1_000_000)) / 100.0, 2)
        .cast("decimal(12,2)")
        .alias("c_acctbal"),
    )
    cust.write.mode("overwrite").parquet(os.path.join(out, "customer.parquet"))
    return out


def run(spark: SparkSession, sf_dir: str, tracer) -> tuple[dict, dict]:
    """Seconds and row counts per case, and each case's layer stats.
    Every query case and the probe are timed by ``bench.timed`` (the
    bench.py clock: a noop-sink write, so no projected expression is
    pruned); row counts come from an untimed ``count()``."""
    from cdc_sink_spark.queries import cdc, textops

    cases = {
        "dedup_minhash_lsh": textops.dedup_minhash_lsh,
        "dedup_simhash": textops.dedup_simhash,
        "dedup_connected_components": textops.dedup_connected_components,
        "conveyor_end_to_end": cdc.conveyor_end_to_end,
    }
    layers, rows = {}, {}
    for name, fn in cases.items():
        layers[name] = bench.timed(tracer, name, lambda: fn(spark, sf_dir), 1)
        rows[f"{name}_rows"] = fn(spark, sf_dir).count()
    probe_layers, rows["incremental_probe_batch_rows"] = incremental_probe(spark, sf_dir, tracer)
    layers.update(probe_layers)
    return {**{k: round(v["best_s"], 2) for k, v in layers.items()}, **rows}, layers


def incremental_probe(spark: SparkSession, sf_dir: str, tracer) -> tuple[dict, int]:
    """Steady-state incremental dedup: build the persisted band index
    once per corpus size, then probe a FIXED-size batch (BASE_DOCS new
    docs), best of 3. The claim under test: probe time stays flat (±20%)
    while the corpus grows 10x — index build is the only O(corpus) step
    and it runs once, not per batch. The build writes the index rather
    than a query result, so it is timed by a span of its own. Returns
    both steps' layer stats and the probe's row count."""
    from cdc_sink_spark.operators.lshindex import BandIndex

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    toks = F.split(F.col("text"), " ")
    batch = docs.filter(F.col("doc_id") < BASE_DOCS).select(
        (F.col("doc_id") + F.lit(10**9)).alias("doc_id"),
        F.array_join(F.slice(toks, 1, 45), " ").alias("text"),
    )
    path = tempfile.mkdtemp(prefix="scale-lsh-idx-")
    tag = os.path.basename(path).replace("-", "_")
    idx = BandIndex(spark, path=os.path.join(path, "idx"), table_name=f"t_{tag}")
    with tracer.span("incremental_index_build") as s:
        idx.build(docs)
    inc = tracer.inclusive(s)
    layers = {
        "incremental_index_build": {
            "best_s": round(s.wall_s, 3), **{k: round(inc[k], 3) for k in bench.LAYER_KEYS}
        },
        "incremental_probe_batch": bench.timed(
            tracer, "incremental_probe_batch", lambda: idx.probe(batch), 3
        ),
    }
    n = idx.probe(batch).count()
    shutil.rmtree(path, ignore_errors=True)
    spark.sql(f"DROP TABLE IF EXISTS t_{tag}")
    return layers, n


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("scale-dedup")
    spark.sparkContext.setLogLevel("ERROR")
    tracer = bench.new_tracer(spark, "scale-dedup")
    dirs, out, layers = {}, {}, {}
    # dict.fromkeys dedups (1, 1) when invoked with multiplier 1 — the
    # naive tuple ran the x1 case twice and leaked the first tempdir.
    for m in dict.fromkeys((1, mult)):
        dirs[m] = synth_dir(spark, m)
        out[f"x{m}"], layers[f"x{m}"] = run(spark, dirs[m], tracer)
    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)
    total = sum(v for r in out.values() for k, v in r.items() if not k.endswith("_rows"))
    print(
        json.dumps(
            {
                "metric": "scale_dedup_total",
                "value": round(total, 2),
                "unit": "sec",
                "cases": out,
                "layers": layers,
                "base_docs": BASE_DOCS,
                "multiplier": mult,
            }
        )
    )


if __name__ == "__main__":
    main()
