"""Durable mutation staging.

Reference: ``internal/staging/stage`` (stage tables keyed by (key, hlc);
``types.go:149 Stager`` — FilterApplied anti-join, MarkApplied, Retire)
and ``internal/staging/checkpoint`` (resolved-timestamp frontier).

Spark-first: the staging store is a parquet table partitioned by an HLC
*bucket* column (coarse time bucket of nanos). Partitioning by bucket
means Retire is a partition-pruned scan-and-rewrite of only the affected
buckets, FilterApplied prunes to the buckets in flight, and a 100 TB
staging table never does a full-table pass for routine operations.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from cdc_sink_spark.operators import artifact

# One bucket per ~17.9 minutes of wall time (2^40 ns); coarse enough to
# keep directory counts sane at years of retention, fine enough to prune.
BUCKET_SHIFT = 40


def with_bucket(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    return df.withColumn("hlc_bucket", F.shiftrightunsigned(F.col(f"{ts_col}.nanos"), BUCKET_SHIFT))


class StagingTable:
    """A staged-mutation table over a parquet directory."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.applied_path = os.path.join(path, "_applied")
        self.data_path = os.path.join(path, "data")
        # A retire killed mid-swap left its boundary bucket aside as
        # ".hlc_bucket=<b>.old" (artifact.replace_dir); restore it.
        if os.path.isdir(self.data_path):
            for entry in os.listdir(self.data_path):
                if entry.startswith(".hlc_bucket=") and entry.endswith(".old"):
                    artifact.recover_dir(os.path.join(self.data_path, entry[1:-4]))

    def stage(self, muts: DataFrame, ts_col: str = "ts") -> None:
        """Durably persist mutations (Stager.Store)."""
        with_bucket(muts, ts_col).write.mode("append").partitionBy("hlc_bucket").parquet(
            self.data_path
        )

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.data_path).drop("hlc_bucket")

    def filter_applied(self, muts: DataFrame, key_cols: list[str], ts_col: str = "ts") -> DataFrame:
        """Anti-join against the applied ledger (types.go:153
        FilterApplied) — returns only unapplied mutations.

        The ledger's schema comes from ``muts``' own key and ts types,
        which ``mark_applied`` writes, so the read runs no
        schema-inference job."""
        if not os.path.isdir(self.applied_path):
            return muts
        schema = muts.schema
        ledger = StructType(
            [StructField(f"a_{k}", schema[k].dataType) for k in key_cols]
            + [StructField("a_ts", schema[ts_col].dataType)]
        )
        applied = self.spark.read.schema(ledger).parquet(self.applied_path)
        cond = F.lit(True)
        for k in key_cols:
            cond = cond & (muts[k] == applied[f"a_{k}"])
        cond = cond & (muts[ts_col] == applied["a_ts"])
        return muts.join(applied, cond, "left_anti")

    def mark_applied(self, muts: DataFrame, key_cols: list[str], ts_col: str = "ts") -> None:
        """Record mutations as applied (Stager.MarkApplied). Each call
        appends one file, not one per shuffle partition: ``filter_applied``
        lists and reads every file of the ledger."""
        ledger = muts.select(
            *[F.col(k).alias(f"a_{k}") for k in key_cols], F.col(ts_col).alias("a_ts")
        )
        ledger.coalesce(1).write.mode("append").parquet(self.applied_path)

    def retire(self, end_nanos: int) -> None:
        """Delete staged mutations with ts <= end (Stager.Retire).

        Whole buckets below the horizon are dropped by partition pruning
        (directory delete); only the single boundary bucket is rewritten.
        """
        import shutil

        boundary_bucket = end_nanos >> BUCKET_SHIFT
        if not os.path.isdir(self.data_path):
            return
        for entry in os.listdir(self.data_path):
            if not entry.startswith("hlc_bucket="):
                continue
            b = int(entry.split("=", 1)[1])
            if b < boundary_bucket:
                shutil.rmtree(os.path.join(self.data_path, entry))
        # Rewrite the boundary bucket, keeping rows above the horizon. The
        # rewrite's dot-name keeps it out of Spark's listing of the table.
        name = f"hlc_bucket={boundary_bucket}"
        bpath = os.path.join(self.data_path, name)
        if os.path.isdir(bpath):
            keep = self.spark.read.parquet(bpath).filter(F.col("ts.nanos") > end_nanos)
            tmp = os.path.join(self.data_path, f".{name}.new")
            keep.write.mode("overwrite").parquet(tmp)
            artifact.replace_dir(tmp, bpath)


def mark_exclude_rejected(
    muts: DataFrame, rejected: DataFrame, key_cols: list[str], ts_col: str = "ts"
) -> DataFrame:
    """The slice of ``muts`` that was applied: ``muts`` minus the (key,
    HLC) pairs in ``rejected``, for ``StagingTable.mark_applied``
    (marker.go marks exactly what the target transaction took).
    ``rejected`` is either apply_mutations' ``(key, __rej_ts)`` rows or
    mutations parked again in ``muts``' own schema. Marking a rejected or
    parked mutation applied would lose it: ``filter_applied`` would drop
    its replay or retry forever."""
    rej_ts = "__rej_ts" if "__rej_ts" in rejected.columns else ts_col
    rej = rejected.select(
        *[F.col(k).alias(f"__rj_{k}") for k in key_cols],
        F.col(rej_ts).alias("__rj_ts"),
    )
    cond = muts[ts_col] == rej["__rj_ts"]
    for k in key_cols:
        cond = cond & (muts[k] == rej[f"__rj_{k}"])
    return muts.join(rej, cond, "left_anti")


def resolved_frontier(
    staged: DataFrame, resolved: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Committable frontier per group (staging/checkpoint): the largest
    resolved timestamp such that no staged-but-unapplied mutation is at
    or below it. Returns min unapplied ts and max resolved ts per group.
    """
    gcols = group_cols or []
    agg_staged = (
        staged.groupBy(*gcols).agg(F.min("ts").alias("min_unapplied"))
        if gcols
        else staged.agg(F.min("ts").alias("min_unapplied"))
    )
    agg_res = (
        resolved.groupBy(*gcols).agg(F.max("ts").alias("max_resolved"))
        if gcols
        else resolved.agg(F.max("ts").alias("max_resolved"))
    )
    if gcols:
        return agg_res.join(agg_staged, gcols, "left")
    return agg_res.crossJoin(agg_staged)
