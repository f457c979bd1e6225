"""Scale smoke: drives the CDC core far beyond the test SFs using the
deterministic workload generator — catches plan blowups (lineage
explosions, accidental cartesians, skew collapses) that tiny inputs
hide. Prints one JSON line: seconds per case, each case's layer stats
and its row count.

Every case is timed by ``bench.timed`` (one run: construct, then a
noop-sink write of every row and column); the row counts come from a
separate, untimed ``count()``, which Catalyst may prune.

Cases:
  lww_uniform   LWW dedup over N mutations across N/10 keys
  lww_skewed    same N but 90% of mutations hit ONE key (salted path)
  apply_big     full apply of the deduped batch onto a 1M-row target
  parse_apply   ndjson render -> parse -> apply end-to-end
  frontier_assign  resolved-window tagging, N mutations x 1000
                   frontiers (literal sorted-array lookup: zero
                   shuffle of the stream, zero row blowup, O(frontiers)
                   per row)
  seq_serial_100w  serial sequencer over 100 resolved windows with a CAS
                   rule, so via the grouped per-key JVM fold (constant
                   job count)
  checksum_chunks  chunked table checksums over an N-row table

Usage: SCALE_SMOKE_N=2000000 python tools/scale_smoke.py   # default N 20M
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import bench
from cdc_sink_spark import workload
from cdc_sink_spark.operators import msort, sequencer
from cdc_sink_spark.operators.apply import ApplyConfig, apply_mutations
from cdc_sink_spark.session import get_spark
from cdc_sink_spark.sources import cdcjson

N = int(os.environ.get("SCALE_SMOKE_N", 20_000_000))


def main() -> None:
    spark = get_spark("scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    tracer = bench.new_tracer(spark, "scale-smoke")
    layers: dict[str, dict] = {}
    rows: dict[str, int] = {}

    def case(name: str, rows_key: str, build) -> None:
        layers[name] = bench.timed(tracer, name, build, 1)
        rows[rows_key] = build().count()

    muts = spark.range(N).select(
        (F.col("id") % (N // 10)).alias("key"),
        F.col("id").alias("val"),
        F.struct(F.col("id").alias("nanos"), F.lit(0).cast("int").alias("logical")).alias("ts"),
    )
    case("lww_uniform", "lww", lambda: msort.unique_by_key(muts, "key", "ts"))

    skewed = spark.range(N).select(
        F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id")).alias("key"),
        F.col("id").alias("val"),
        F.struct(F.col("id").alias("nanos"), F.lit(0).cast("int").alias("logical")).alias("ts"),
    )
    case(
        "lww_skewed_salted", "lww_skewed",
        lambda: msort.unique_by_key(skewed, "key", "ts", salt_partitions=32),
    )

    target = spark.range(1_000_000).select(
        F.col("id").alias("key"), F.lit(-1).cast("long").alias("val")
    )
    typed = muts.select(
        "key", "val", F.col("ts").alias("__ts"), F.lit(False).alias("__deleted")
    )
    case("apply_big", "apply", lambda: apply_mutations(target, typed, ["key"], ts_col="__ts")[0])

    parents, children = workload.parent_child_mutations(
        spark, n_parents=200_000, n_children=2_000_000, n_updates=1_000_000
    )
    lines = workload.to_ndjson_lines(children, "child", ["child", "parent", "val"])
    typed2 = cdcjson.typed_mutations(
        cdcjson.parse_lines(lines), "child bigint, parent bigint, val bigint", ["child"]
    )
    empty = spark.createDataFrame([], "child bigint, parent bigint, val bigint")
    case(
        "parse_apply_3m", "parse_apply",
        lambda: apply_mutations(empty, typed2, ["child"], ts_col="__ts")[0],
    )

    frontiers = [((i + 1) * (N // 1000), 0) for i in range(1000)]
    case(
        "frontier_assign_1000f", "frontier_assign",
        lambda: sequencer.assign_resolved_windows(
            muts.withColumnRenamed("ts", "__ts"), frontiers, ts_col="__ts"
        ),
    )

    small = spark.range(200_000).select(
        (F.col("id") % 20_000).alias("key"),
        F.col("id").alias("val"),
        F.struct(F.col("id").alias("nanos"), F.lit(0).cast("int").alias("logical")).alias(
            "__ts"
        ),
        F.lit(False).alias("__deleted"),
    )
    f100 = [((i + 1) * 2_000, 0) for i in range(100)]
    case(
        "seq_serial_100w", "seq_serial",
        lambda: sequencer.seq_serial(
            spark.createDataFrame([], "key bigint, val bigint"),
            small,
            f100,
            ["key"],
            ApplyConfig(cas_columns=["val"]),
            ts_col="__ts",
        )[0],
    )

    # Chunked table checksums over the full N-row table: pure key
    # arithmetic + one hash-agg — the plan must stay a single map +
    # partial/final aggregate pair at any N (no global window).
    wide = spark.range(N).select(
        F.col("id").alias("k"),
        F.concat(F.lit("name-"), F.col("id").cast("string")).alias("nm"),
        (F.col("id") % 1_000_000).alias("v"),
    )
    row_hash = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.col("k").cast("string"), "nm", F.col("v").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    case(
        "checksum_chunks_20m", "checksum_chunks",
        lambda: wide.select((F.col("k") / 65_536).cast("bigint").alias("chunk"), row_hash.alias("h"))
        .groupBy("chunk")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.col("h").cast("decimal(38,0)")) % F.lit(9223372036854775783)).alias("c"),
        ),
    )

    timings = {n: round(r["best_s"], 2) for n, r in layers.items()}
    print(
        json.dumps(
            {
                "metric": "scale_smoke_total",
                "value": round(sum(timings.values()), 2),
                "unit": "sec",
                "cases": timings,
                "layers": layers,
                "rows": rows,
                "n_mutations": N,
            }
        )
    )


if __name__ == "__main__":
    main()
