"""The tracing harness reads the same jobs Spark's own status tracker
attributes to a call.

Run: python3 -m pytest perfbench/tests -q
"""

import os

import datagen
import harness


def test_query_job_count_matches_status_tracker(spark, tmp_path):
    from cdc_sink_spark.queries import registry

    data = str(tmp_path / "data")
    datagen.write_tables(data, 0.001, seed=7)
    tracer = harness.Tracer(spark, enabled=True, run_id="reader")
    with tracer.span("q1:construct") as c:
        df = registry.QUERIES["q1_pricing_summary"](spark, data)
    with tracer.span("q1:execute") as x:
        df.write.format("noop").mode("overwrite").save()
    tracker = spark.sparkContext.statusTracker()
    for s in (c, x):
        assert s.stats["jobs"] == len(tracker.getJobIdsForGroup(s.group))
    assert x.stats["jobs"] >= 1
    assert x.stats["tasks"] >= 1 and x.stats["executor_run_s"] > 0


def test_nested_spans_partition_jobs_and_restore_group(spark):
    tracer = harness.Tracer(spark, enabled=True, run_id="nest")
    df = spark.range(1000)
    with tracer.span("outer") as outer:
        df.count()
        with tracer.span("inner") as inner:
            df.count()
            df.selectExpr("sum(id)").collect()
    tracker = spark.sparkContext.statusTracker()
    assert inner.parent == outer.sid
    assert sorted(outer.jobs) == sorted(tracker.getJobIdsForGroup(outer.group))
    assert sorted(inner.jobs) == sorted(tracker.getJobIdsForGroup(inner.group))
    assert outer.jobs and inner.jobs and not set(outer.jobs) & set(inner.jobs)
    assert tracer.inclusive(outer)["jobs"] == len(outer.jobs) + len(inner.jobs)
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_span_in_foreach_batch_thread_tags_its_jobs(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.txt").write_text("x\ny\n")
    tracer = harness.Tracer(spark, enabled=True, run_id="fb")

    def sink(batch, batch_id):
        with tracer.span("sink"):
            batch.count()

    q = (
        spark.readStream.format("text").load(str(src))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    (span,) = tracer.named("sink")
    assert span.stats["jobs"] >= 1
    assert span.stats["jobs"] == len(spark.sparkContext.statusTracker().getJobIdsForGroup(span.group))
    assert os.path.isdir(tmp_path / "ckpt" / "commits")
