"""Rows-only gate entries for genuinely non-SQL-expressible operators
(SURVEY §2 A21 streaming, C12 multimodal): the driver records a weaker
rows-only check for keys without an oracle — these make the streaming
and multimodal surfaces first-class gate citizens instead of test-only.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_sink_spark.operators import artifact


def _shared_feed(spark: SparkSession, sf_dir: str, name: str, params: dict, render) -> str:
    """Rendered ndjson feed directory shared across invocations: one
    immutable ``artifact.build_once`` version per (sf_dir, events-table
    footer fingerprint, render params), so a changed source re-renders
    and an unchanged one is rendered once. Everything STATEFUL about a
    streaming run (checkpoint dir, memory-sink name, target/parked
    stores) stays per invocation; only the input files are shared."""
    from cdc_sink_spark.queries.textops import _corpus_fingerprint
    from cdc_sink_spark.session import table

    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    tag = "".join(c if c.isalnum() else "_" for c in sf_dir.strip("/"))
    fp = _corpus_fingerprint(sf_dir, table(spark, sf_dir, "events"), table="events")
    return artifact.build_once(
        os.path.join(repo_root, "spark-warehouse", f"stream_feed_{name}_{tag}"),
        {"params": params, "fingerprint": fp},
        render,
    )


def streaming_lww_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL Structured Streaming pipeline (availableNow) over an
    ndjson feed rendered from the events table: parse -> stateful LWW
    (applyInPandasWithState) -> memory sink; returns the winners table.
    Deterministic: same feed, same state transitions, same output."""
    from cdc_sink_spark.queries.cdc import _mutations
    from cdc_sink_spark.streaming import pipeline
    from cdc_sink_spark import workload

    m = _mutations(spark, sf_dir).select(
        F.col("user_id").alias("uid"),
        F.col("value").cast("decimal(12,2)").alias("val"),
        F.col("ts").alias("__ts"),
        F.col("is_delete").alias("__deleted"),
    )
    # Feed shared per (sf_dir, events fingerprint) — rendered once, not
    # per invocation (see _shared_feed). State (checkpoint, sink name)
    # stays per-invocation below.
    feed = _shared_feed(
        spark, sf_dir, "lww",
        {"key": "k", "payload": ["k", "val"], "coalesce": 4, "layout": 1},
        lambda d: workload.to_ndjson_lines(
            m.withColumnRenamed("uid", "k"), "k", ["k", "val"]
        ).coalesce(4).write.mode("overwrite").text(d),
    )
    workdir = tempfile.mkdtemp(prefix="lww-stream-")

    typed = pipeline.stream_typed_mutations(
        pipeline.stream_ndjson(spark, feed), "k bigint, val double", ["k"]
    )
    winners = pipeline.streaming_lww(
        typed,
        ["k"],
        "k bigint, val double, __nanos long, __logical int, __del boolean",
        # Total order even on HLC collisions (same micros + same
        # event_id%4): without a tie-breaker the winner would be
        # arrival-order-dependent across runs.
        tie_breaker=["val"],
    )
    name = f"lww_snap_{abs(hash(workdir)) % 100000}"
    q = (
        winners.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update-mode memory sink appends every emission; keep the last per key
    out = spark.sql(f"select * from {name}")
    from cdc_sink_spark.operators import msort

    latest = msort.unique_by_key(
        out.withColumn("ts", F.struct(F.col("__nanos").alias("nanos"),
                                      F.col("__logical").alias("logical"))),
        "k",
        "ts",
    )
    return latest.select("k", "val", "__nanos", "__logical", "__del").orderBy("k")


def streaming_mode_switch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live switcher flip mid-stream (switcher.go meta-sequencer, A22/§D):
    a small first micro-batch applies in SERIAL mode (only mutations at
    or below the resolved frontier; the rest park), then a bulk batch
    blows the backlog limit and the applier flips to BESTEFFORT, which
    drains the parked set — the final snapshot converges to the same
    LWW state an all-at-once apply produces (switcher_test.go's
    invariant). Rows-only: the mode decision is a runtime policy DuckDB
    can't express; convergence vs the one-shot apply is asserted in
    tests/test_streaming_sources.py."""
    import json
    import shutil

    from cdc_sink_spark import workload
    from cdc_sink_spark.queries.cdc import _mutations
    from cdc_sink_spark.streaming import pipeline

    m = _mutations(spark, sf_dir).select(
        F.col("user_id").alias("k"),
        F.col("value").cast("double").alias("val"),
        F.col("event_id").alias("__tie"),
        F.col("ts").alias("__ts"),
        F.col("is_delete").alias("__deleted"),
    )
    workdir = tempfile.mkdtemp(prefix="modeswitch-")

    def render_feed(feed_dir: str) -> None:
        def render(df, name: str, mtime: int) -> None:
            tmp = os.path.join(workdir, "tmp_" + name)
            workload.to_ndjson_lines(df, "k", ["k", "val", "__tie"]).coalesce(
                1
            ).write.mode("overwrite").text(tmp)
            part = next(f for f in os.listdir(tmp) if f.startswith("part-"))
            dst = os.path.join(feed_dir, name + ".ndjson")
            shutil.copy(os.path.join(tmp, part), dst)
            os.utime(dst, (mtime, mtime))  # file-source batch order = mtime

        render(m.filter(F.col("__tie") % 20 == 0), "00-head", 1_000_000)
        render(m.filter(F.col("__tie") % 20 != 0), "01-bulk", 2_000_000)

    # Feed shared per (sf_dir, events fingerprint); the head/bulk split,
    # file names and forced mtimes are part of the rendered artifact.
    # State (target, parked store, checkpoint, resolved dir) stays
    # per-invocation below.
    feed = _shared_feed(
        spark, sf_dir, "modeswitch",
        {"payload": ["k", "val", "__tie"], "split": "tie%20", "layout": 1},
        render_feed,
    )

    n, lo, hi = m.agg(
        F.count(F.lit(1)), F.min("__ts.nanos"), F.max("__ts.nanos")
    ).first()
    # One frontier stamp at ~60% of the time span: serial mode can only
    # apply through it; everything newer parks until the flip drains it.
    resolved_dir = os.path.join(workdir, "resolved")
    os.makedirs(resolved_dir)
    mid = lo + (hi - lo) * 3 // 5
    with open(os.path.join(resolved_dir, "r1.json"), "w") as f:
        f.write(json.dumps({"resolved": f"{mid}.0000000000"}) + "\n")

    target = os.path.join(workdir, "target")
    spark.createDataFrame([], "k bigint, val double, __tie bigint").write.parquet(target)
    applier = pipeline.StreamingApplier(
        target,
        ["k"],
        parked_path=os.path.join(workdir, "parked"),
        tie_breaker=["__tie"],
        backlog_limit=max(1, n // 5),  # head (~n/20) stays serial; bulk flips
        lag_limit_nanos=(hi - lo + 1) * 10,
        resolved_dir=resolved_dir,
    )
    lines = (
        spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(feed)
    )
    typed = pipeline.stream_typed_mutations(
        lines, "k bigint, val double, __tie bigint", ["k"]
    )
    q = (
        typed.writeStream.foreachBatch(applier)
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    modes = {mode for _, mode in applier.mode_history}
    if modes != {"serial", "besteffort"}:
        # The gate is rows-only here; fail loudly if the flip regresses.
        raise AssertionError(f"expected a serial->besteffort flip, saw {applier.mode_history}")
    return spark.read.parquet(target).orderBy("k")


def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives the Arrow-batched mapInPandas decode plumbing over the
    deterministic synthetic media table (C12); byte-stat features stand
    in for pixel decode (no codecs in this container)."""
    from cdc_sink_spark.operators import multimodal

    media = multimodal.make_media(spark, 60)
    feats = multimodal.decode_images(media)
    return feats.orderBy("media_id")


QUERIES = {
    "streaming_lww_snapshot": streaming_lww_snapshot,
    "streaming_mode_switch": streaming_mode_switch,
    "multimodal_decode_stats": multimodal_decode_stats,
}
ORACLES: dict = {}  # rows-only: genuinely non-SQL-expressible (stateful
# streaming execution; Python mapInPandas plumbing)
