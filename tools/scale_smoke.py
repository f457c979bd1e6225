"""Scale smoke: drives the CDC core far beyond the test SFs using the
deterministic workload generator — catches plan blowups (lineage
explosions, accidental cartesians, skew collapses) that tiny inputs
hide. Prints one JSON line.

Cases:
  lww_uniform   LWW dedup over N mutations across N/10 keys
  lww_skewed    same N but 90% of mutations hit ONE key (salted path)
  apply_big     full apply of the deduped batch onto a 1M-row target
  parse_apply   ndjson render -> parse -> apply end-to-end
  frontier_assign  resolved-window tagging, 20M mutations x 1000
                   frontiers (literal sorted-array lookup: zero
                   shuffle of the stream, zero row blowup)
  seq_serial_100w  serial sequencer over 100 resolved windows with a CAS
                   rule, so via the grouped per-key JVM fold (constant
                   job count)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from cdc_sink_spark import workload
from cdc_sink_spark.operators import msort
from cdc_sink_spark.operators.apply import ApplyConfig, apply_mutations
from cdc_sink_spark.session import get_spark
from cdc_sink_spark.sources import cdcjson

N = int(os.environ.get("SCALE_SMOKE_N", 20_000_000))


def main() -> None:
    spark = get_spark("scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}

    muts = spark.range(N).select(
        (F.col("id") % (N // 10)).alias("key"),
        F.col("id").alias("val"),
        F.struct(F.col("id").alias("nanos"), F.lit(0).cast("int").alias("logical")).alias("ts"),
    )
    t0 = time.perf_counter()
    n1 = msort.unique_by_key(muts, "key", "ts").count()
    timings["lww_uniform"] = round(time.perf_counter() - t0, 2)

    skewed = spark.range(N).select(
        F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id")).alias("key"),
        F.col("id").alias("val"),
        F.struct(F.col("id").alias("nanos"), F.lit(0).cast("int").alias("logical")).alias("ts"),
    )
    t0 = time.perf_counter()
    n2 = msort.unique_by_key(skewed, "key", "ts", salt_partitions=32).count()
    timings["lww_skewed_salted"] = round(time.perf_counter() - t0, 2)

    target = spark.range(1_000_000).select(
        F.col("id").alias("key"), F.lit(-1).cast("long").alias("val")
    )
    typed = muts.select(
        "key", "val", F.col("ts").alias("__ts"), F.lit(False).alias("__deleted")
    )
    t0 = time.perf_counter()
    snap, _ = apply_mutations(target, typed, ["key"], ts_col="__ts")
    n3 = snap.count()
    timings["apply_big"] = round(time.perf_counter() - t0, 2)

    parents, children = workload.parent_child_mutations(
        spark, n_parents=200_000, n_children=2_000_000, n_updates=1_000_000
    )
    lines = workload.to_ndjson_lines(children, "child", ["child", "parent", "val"])
    typed2 = cdcjson.typed_mutations(
        cdcjson.parse_lines(lines), "child bigint, parent bigint, val bigint", ["child"]
    )
    t0 = time.perf_counter()
    snap2, _ = apply_mutations(
        spark.createDataFrame([], "child bigint, parent bigint, val bigint"),
        typed2,
        ["child"],
        ts_col="__ts",
    )
    n4 = snap2.count()
    timings["parse_apply_3m"] = round(time.perf_counter() - t0, 2)

    from cdc_sink_spark.operators import sequencer

    frontiers = [((i + 1) * (N // 1000), 0) for i in range(1000)]
    t0 = time.perf_counter()
    n5 = sequencer.assign_resolved_windows(
        muts.withColumnRenamed("ts", "__ts"), frontiers, ts_col="__ts"
    ).count()
    timings["frontier_assign_1000f"] = round(time.perf_counter() - t0, 2)

    small = spark.range(200_000).select(
        (F.col("id") % 20_000).alias("key"),
        F.col("id").alias("val"),
        F.struct(F.col("id").alias("nanos"), F.lit(0).cast("int").alias("logical")).alias(
            "__ts"
        ),
        F.lit(False).alias("__deleted"),
    )
    f100 = [((i + 1) * 2_000, 0) for i in range(100)]
    t0 = time.perf_counter()
    snap5, _ = sequencer.seq_serial(
        spark.createDataFrame([], "key bigint, val bigint"),
        small,
        f100,
        ["key"],
        ApplyConfig(cas_columns=["val"]),
        ts_col="__ts",
    )
    n6 = snap5.count()
    timings["seq_serial_100w"] = round(time.perf_counter() - t0, 2)

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
    t0 = time.perf_counter()
    n7 = (
        wide.select((F.col("k") / 65_536).cast("bigint").alias("chunk"), row_hash.alias("h"))
        .groupBy("chunk")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.col("h").cast("decimal(38,0)")) % F.lit(9223372036854775783)).alias("c"),
        )
        .count()
    )
    timings["checksum_chunks_20m"] = round(time.perf_counter() - t0, 2)

    print(
        json.dumps(
            {
                "metric": "scale_smoke_total",
                "value": round(sum(timings.values()), 2),
                "unit": "sec",
                "cases": timings,
                "rows": {
                    "lww": n1,
                    "lww_skewed": n2,
                    "apply": n3,
                    "parse_apply": n4,
                    "frontier_assign": n5,
                    "seq_serial": n6,
                    "checksum_chunks": n7,
                },
                "n_mutations": N,
            }
        )
    )


if __name__ == "__main__":
    main()
