"""Dead-letter queue.

Reference: ``internal/target/dlq`` — failed/unmergeable mutations are
written to a DLQ table with provenance (target table, reason, payload)
for operator inspection and replay.

Spark-first: the DLQ is an append-only parquet table partitioned by
reason — replays filter one reason partition without scanning the rest.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from cdc_sink_spark.operators import artifact
from cdc_sink_spark.session import release_checkpoint


class DeadLetterQueue:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def enqueue(
        self, rows: DataFrame, target_table: str, reason_col: str = "__reason"
    ) -> None:
        """Append rejected rows; everything except the reason is packed
        into a JSON payload so the DLQ schema is stable across tables
        (dlq_schema.go fixed-schema approach)."""
        payload_cols = [c for c in rows.columns if c != reason_col]
        out = rows.select(
            F.lit(target_table).alias("target_table"),
            F.col(reason_col).alias("reason"),
            F.to_json(F.struct(*payload_cols)).alias("payload"),
        )
        # Dedupe WITHIN the batch too: deadline-expired rows split off
        # before LWW dedup, so one batch can carry per-key duplicates of
        # the same rejection — without this they each append an identical
        # DLQ entry. Checkpoint so the write doesn't recompute the
        # (possibly joined) reject lineage; the same job observes the
        # row count and the reasons present.
        seen = Observation()
        rendered = (
            out.dropDuplicates(["target_table", "reason", "payload"])
            .observe(seen, F.count(F.lit(1)).alias("n"), F.collect_set("reason").alias("reasons"))
            .localCheckpoint()
        )
        out = rendered
        try:
            if seen.get["n"] == 0:
                # Nothing to append; read() answers a queue that was never
                # written with an empty frame.
                return
            # Idempotent on the full rendered row: a crash-replayed
            # micro-batch re-rejects the same mutations (rejected rows
            # deliberately stay out of the applied ledger so DLQ replay
            # can converge), and re-enqueueing them would duplicate DLQ
            # entries. The reference keeps ONE staged row per failed
            # mutation; the anti-join against the existing queue is the
            # append-only equivalent. The queue scan is pruned to the
            # reason PARTITIONS present in this batch, so the read
            # stays bounded by this batch's failure classes, not total
            # queue history. The lock spans the read, the anti-join and
            # the append: two processes enqueueing the same rejects must
            # not both see them absent and both append them.
            with artifact.locked(self.path):
                existing = self.read().filter(F.col("reason").isin(seen.get["reasons"]))
                out = out.join(existing, ["target_table", "reason", "payload"], "left_anti")
                out.write.mode("append").partitionBy("reason").parquet(self.path)
        finally:
            release_checkpoint(rendered)

    # Fixed schema (dlq_schema.go): also lets read() work on a DLQ dir
    # that exists but holds no part files yet (schema inference would
    # fail there), and on a queue that was never written at all.
    SCHEMA = "target_table string, payload string, reason string"

    def read(self, reason: str | None = None) -> DataFrame:
        if not os.path.isdir(self.path):
            # A pipeline that never rejected anything never created the
            # queue: that is an empty queue, not a missing one.
            return self.spark.createDataFrame([], self.SCHEMA)
        df = self.spark.read.schema(self.SCHEMA).parquet(self.path)
        if reason:
            df = df.filter(F.col("reason") == reason)  # partition-pruned
        return df

    def replayable(self, reason: str, payload_schema: str) -> DataFrame:
        """Re-typed payloads for replay through the apply pipeline."""
        return (
            self.read(reason)
            .select(F.from_json("payload", payload_schema).alias("p"))
            .select("p.*")
        )


def exists(path: str) -> bool:
    return os.path.isdir(path)
