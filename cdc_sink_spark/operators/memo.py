"""Memo store and schema watching.

Reference: ``internal/staging/memo`` (durable key/value metadata used
for checkpoints and configuration) and ``internal/target/schemawatch``
(periodic snapshots of target-table schemas that drive column mapping).

Spark-first: the memo is a tiny versioned parquet KV (latest value per
key wins by version — the same LWW plan as mutations); schemawatch
reads parquet footers, which is exactly how a Spark target exposes its
schema, and diffs snapshots declaratively.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from cdc_sink_spark.operators import artifact


class Memo:
    """Durable KV with last-write-wins versioning (memo.go Put/Get)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._seq = 0
        self._last_version = 0
        # A compaction killed mid-swap left the log aside (artifact.py);
        # under the lock, a live compaction is never taken for one.
        with artifact.locked(path):
            artifact.recover_dir(path)

    # Appends-per-compaction: every put() adds a parquet file, and get()
    # scans all of them; without a bound a long-running streaming job's
    # per-batch checkpoint writes make frontier reads O(n_batches).
    COMPACT_THRESHOLD = 64

    # Memo ops are single-row driver-side metadata (a progress marker, a
    # frontier stamp). r14: they read/write the SAME versioned-parquet
    # layout through pyarrow directly instead of scheduling a Spark job
    # per op — a put was a createDataFrame + distributed append, a get a
    # read + window + collect, i.e. 2-4 scheduler round-trips (~0.2-0.5 s
    # of pure machinery) per objstore range / streaming micro-batch for
    # one KV row. Files stay cross-readable: schema (k string, v string,
    # version long) is byte-compatible, so stores written by earlier
    # Spark-backed puts keep working and Spark can still read the dir.
    _SCHEMA = None  # lazily built pa.schema

    @classmethod
    def _schema(cls):
        import pyarrow as pa

        if cls._SCHEMA is None:
            cls._SCHEMA = pa.schema(
                [("k", pa.string()), ("v", pa.string()), ("version", pa.int64())]
            )
        return cls._SCHEMA

    def _files(self) -> list[str]:
        try:
            return [
                os.path.join(self.path, f)
                for f in sorted(os.listdir(self.path))
                if f.endswith(".parquet")
            ]
        except FileNotFoundError:
            return []

    def put(self, key: str, value: str) -> None:
        # Hybrid version (the HLC pattern): wall clock survives reboots
        # (CLOCK_MONOTONIC restarts at boot and would freeze LWW), and
        # the max() keeps in-process writes monotonic even if NTP steps
        # the clock backwards.
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        self._last_version = max(self._last_version + 1, time.time_ns())
        t = pa.table(
            {"k": [key], "v": [value], "version": [self._last_version]},
            schema=self._schema(),
        )
        # Unique append-file name (same role as Spark's part-UUID): two
        # processes appending concurrently never write the same file, and
        # the shared lock keeps a compaction from folding the log (and
        # swapping the directory) while this file is being written.
        with artifact.locked(self.path, shared=True):
            os.makedirs(self.path, exist_ok=True)
            pq.write_table(
                t, os.path.join(self.path, f"part-memo-{uuid.uuid4().hex}.parquet")
            )
        self._maybe_compact()

    def _read_all(self):
        """All (k, v, version) rows across the append log — pyarrow
        footers + tiny column reads, no Spark job."""
        import pyarrow.parquet as pq

        cols = {"k": [], "v": [], "version": []}
        for f in self._files():
            t = pq.read_table(f)
            for c in cols:
                cols[c].extend(t.column(c).to_pylist())
        return cols

    def _fragmented(self) -> bool:
        return len(self._files()) > self.COMPACT_THRESHOLD

    def _maybe_compact(self) -> None:
        """Fold the append log into one file once it fragments. The
        exclusive lock spans the read, the write and the swap, so no put
        lands between the read and the rename (it would be lost) and none
        recreates the live directory mid-swap."""
        if not self._fragmented():
            return
        with artifact.locked(self.path):
            # Another process may have compacted while this one waited.
            if self._fragmented():
                self._compact()

    def _compact(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        tmp = self.path + ".compact"
        os.makedirs(tmp, exist_ok=True)
        pq.write_table(
            pa.table(self._read_all(), schema=self._schema()),
            os.path.join(tmp, "part-memo-compacted.parquet"),
        )
        artifact.replace_dir(tmp, self.path)

    def get(self, key: str) -> str | None:
        best: tuple[int, str] | None = None
        # Shared lock: a compaction mid-swap would otherwise show an
        # absent store (None) or a file deleted under the read.
        with artifact.locked(self.path, shared=True):
            rows = self._read_all()
        for k, v, ver in zip(rows["k"], rows["v"], rows["version"]):
            if k == key and (best is None or ver > best[0]):
                best = (ver, v)
        return best[1] if best else None


def schema_snapshot(spark: SparkSession, sf_dir: str, tables: list[str]) -> DataFrame:
    """Current (table, position, column, type) snapshot of target tables
    (schemawatch's table-metadata query, via parquet footers)."""
    rows = []
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        for i, f in enumerate(spark.read.parquet(p).schema.fields):
            rows.append(Row(table_name=t, position=i, column_name=f.name,
                            type_name=f.dataType.simpleString()))
    return spark.createDataFrame(rows, "table_name string, position int, column_name string, type_name string")


def schema_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Columns added/removed/retyped between two snapshots — the signal
    schemawatch raises to re-plan column mappings."""
    o = old.select(
        "table_name", "column_name", F.col("type_name").alias("old_type")
    )
    n = new.select(
        "table_name", "column_name", F.col("type_name").alias("new_type")
    )
    j = o.join(n, ["table_name", "column_name"], "full_outer")
    return j.select(
        "table_name",
        "column_name",
        F.when(F.col("old_type").isNull(), F.lit("added"))
        .when(F.col("new_type").isNull(), F.lit("removed"))
        .when(F.col("old_type") != F.col("new_type"), F.lit("retyped"))
        .otherwise(F.lit("unchanged"))
        .alias("change"),
        "old_type",
        "new_type",
    ).filter(F.col("change") != "unchanged")
