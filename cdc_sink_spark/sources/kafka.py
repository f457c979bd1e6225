"""Kafka changefeed source adapter.

Reference: ``internal/source/kafka/consumer.go`` — consumes changefeed
messages whose *values* are the same JSON envelopes as the HTTP feed
(``asPayload``), with resolved-timestamp messages interleaved
(consumer.go:115).

Spark-first: ``spark.readStream.format("kafka")`` yields the canonical
(key binary, value binary, topic, partition, offset, timestamp) frame;
this adapter normalizes it to the engine's mutation layout with the
same cdcjson expressions used for every other source. The transport
itself needs the kafka connector jar (not shipped in this container),
so tests fabricate the kafka frame shape — the adapter is agnostic.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cdc_sink_spark.sources import cdcjson

KAFKA_FRAME_COLUMNS = ("key", "value", "topic", "partition", "offset", "timestamp")


def from_kafka_frame(frame: DataFrame) -> DataFrame:
    """Normalize a kafka-shaped DataFrame into parsed CDC rows
    (mutations + resolved), tagging provenance columns the way the
    reference tracks (topic, partition, offset) for exactly-once
    accounting."""
    lines = frame.select(
        F.col("value").cast("string").alias("value"),
        "topic",
        "partition",
        "offset",
    )
    return cdcjson.parse_lines(lines)


def claim_epochs(parsed: DataFrame) -> DataFrame:
    """ConsumeClaim's flush structure (consumer.go:88) over a parsed
    frame: within each (topic, partition) in OFFSET ORDER, mutations
    accumulate until a resolved message arrives; the resolved message
    closes the accumulation epoch, the batch flushes to the conveyor,
    the partition frontier advances to the resolved HLC, and the
    consumed offsets are marked (consumer.go:115-135).

    Adds ``__epoch`` (how many resolved messages precede this row in its
    partition) and ``__flush_ts`` (the closing resolved HLC for that
    epoch; NULL marks the unflushed tail that waits for the periodic
    flush). One window pass + one per-(partition, epoch) equi-join —
    both shuffle on the kafka partition key, which is already the
    frame's natural clustering.
    """
    w = Window.partitionBy("topic", "partition").orderBy("offset")
    is_res = F.col("resolved_str").isNotNull()
    with_epoch = parsed.withColumn(
        "__epoch",
        F.count(F.when(is_res, 1)).over(w.rowsBetween(Window.unboundedPreceding, -1)),
    )
    closers = (
        with_epoch.filter(is_res)
        .select(
            F.col("topic").alias("__ct"),
            F.col("partition").alias("__cp"),
            F.col("__epoch").alias("__ce"),
            parse_resolved_hlc().alias("__flush_ts"),
            F.col("offset").alias("__closer_offset"),
        )
    )
    joined = with_epoch.join(
        closers,
        (F.col("topic") == F.col("__ct"))
        & (F.col("partition") == F.col("__cp"))
        & (F.col("__epoch") == F.col("__ce")),
        "left",
    )
    return joined.drop("__ct", "__cp", "__ce")


def parse_resolved_hlc():
    from cdc_sink_spark.functions.hlc import parse_hlc

    return parse_hlc(F.col("resolved_str"))


def consumer_group_pass(
    frame: DataFrame, memo, topic: str, time_range_max: tuple[int, int] | None = None
) -> tuple[DataFrame, DataFrame, dict[int, int], dict[int, bool]]:
    """One consumer-group session over a fabricated kafka frame,
    mirroring Consumer.Setup/ConsumeClaim/mark (consumer.go):

    - Setup seek: rows below the saved per-partition mark are dropped
      (session.MarkOffset from fromState — a redelivered overlap after
      a rebalance is skipped, not double-accepted).
    - Flush-on-resolved: mutations whose epoch has a closing resolved
      message are accepted; the unflushed tail stays pending for the
      next session (the reference's periodic flush covers it only once
      a resolved or timer fires).
    - Marks advance to just past each partition's last closed epoch and
      persist to the memo — monotone across sessions by construction.
    - ``time_range_max``: a resolved HLC beyond it marks the partition
      done (consumer.go:118 'Done with topic=...'), reported per
      partition.

    Returns (accepted_mutations, pending_tail, marks, done_by_partition).
    """
    parsed = from_kafka_frame(frame)
    start = load_offsets(memo, topic) or {}
    if start:
        spark = frame.sparkSession
        seek = spark.createDataFrame(
            [(int(p), int(o)) for p, o in start.items()], "__sp int, __so long"
        )
        parsed = (
            parsed.join(F.broadcast(seek), F.col("partition") == F.col("__sp"), "left")
            .filter(F.col("__so").isNull() | (F.col("offset") >= F.col("__so")))
            .drop("__sp", "__so")
        )
    ep = claim_epochs(parsed)
    is_res = F.col("resolved_str").isNotNull()
    accepted = ep.filter(~is_res & F.col("__flush_ts").isNotNull()).drop(
        "__epoch", "__flush_ts", "__closer_offset", "resolved_str"
    )
    pending = ep.filter(~is_res & F.col("__flush_ts").isNull()).drop(
        "__epoch", "__flush_ts", "__closer_offset", "resolved_str"
    )
    closer_rows = ep.filter(is_res).select(
        "partition", "offset", F.col("__flush_ts").alias("ts")
    ).collect()  # one row per resolved message: frontier-sized, never data-sized
    marks: dict[int, int] = {}
    done: dict[int, bool] = {}
    for r in closer_rows:
        p = int(r["partition"])
        marks[p] = max(marks.get(p, 0), int(r["offset"]) + 1)
        if time_range_max is not None and r["ts"] is not None:
            beyond = (r["ts"]["nanos"], r["ts"]["logical"]) > tuple(time_range_max)
            done[p] = done.get(p, False) or beyond
    if marks:
        merged = dict(start)
        for p, o in marks.items():
            merged[p] = max(merged.get(p, 0), o)  # monotone across sessions
        memo.put(f"kafka-offsets::{topic}", json.dumps(merged))
        marks = merged
    else:
        marks = dict(start)
    return accepted, pending, marks, done


def offsets_json(topic: str, partition_offsets: dict[int, int]) -> str:
    """Render the per-partition resume point in the connector's
    ``startingOffsets`` JSON shape — the consumer-group seek the
    reference performs from its saved marks (consumer.go startAt)."""
    import json

    return json.dumps(
        {topic: {str(p): o for p, o in sorted(partition_offsets.items())}}
    )


def save_offsets(memo, topic: str, frame_or_rows) -> dict[int, int]:
    """Persist the durable consumer mark per partition to the Memo
    (paired with CheckpointGroup for the HLC frontier). Accepts a
    kafka-shaped DataFrame or collected rows.

    Resolved-gated feeds mark only CLOSED epochs: if the frame carries
    any resolved messages, each partition's mark stops just past its
    last resolved offset — the unflushed tail (mutations after the last
    resolved message) has NOT been applied yet, and max(offset)+1 would
    skip it forever on resume. A frame with no resolved messages at all
    is a non-gated feed whose caller applied everything; there the mark
    is max(offset)+1 as before."""
    import json

    if isinstance(frame_or_rows, DataFrame):
        f = frame_or_rows
        has_resolved = False
        if "value" in f.columns:
            value_str = F.col("value").cast("string")
            is_res = F.get_json_object(value_str, "$.resolved").isNotNull()
            has_resolved = f.filter(is_res).limit(1).count() > 0
        if has_resolved:
            rows = (
                f.filter(is_res)
                .groupBy("partition")
                .agg(F.max("offset").alias("o"))
                .collect()
            )
        else:
            rows = f.groupBy("partition").agg(F.max("offset").alias("o")).collect()
    else:
        rows = frame_or_rows
    marks = {int(r["partition"]): int(r["o"]) + 1 for r in rows}  # next-to-read
    memo.put(f"kafka-offsets::{topic}", json.dumps(marks))
    return marks


def load_offsets(memo, topic: str) -> dict[int, int] | None:
    import json

    raw = memo.get(f"kafka-offsets::{topic}")
    return {int(k): v for k, v in json.loads(raw).items()} if raw else None
