"""Object-store changefeed source.

Reference: ``internal/source/objstore/conn.go`` — a bucket scanner that
relies on the cloud-storage sink's external guarantee (conn.go:95,
quoting sink_cloudstorage.go): *iterating filenames in lexicographic
order, any ``.RESOLVED`` file finalizes everything before it*. The
reference finds consecutive resolved files (findResolved), processes
the files between them as one batch (applyRange), persists the resolved
filename as durable progress (state.setLast), and holds a singleton
lease so only one replicator scans the bucket.

Spark-first split: range discovery is a pure function over the sorted
listing (driver-side, listing-sized — the same walk the reference
does); each range's files then load as ONE ``spark.read.text`` batch so
parsing and apply parallelize across the cluster regardless of how many
small files the changefeed emitted. Progress is the Memo (state.go's
memo table), the lease is operators/leases (util/leases parity).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from cdc_sink_spark.sources import cdcjson

RESOLVED_SUFFIX = ".RESOLVED"
_LAST_KEY = "objstore-last::{ident}"


def read_bucket(
    spark: SparkSession, path: str, streaming: bool = False, max_files_per_trigger: int | None = None
) -> DataFrame:
    """ndjson files under a bucket prefix, with source-file provenance
    (``src_file``, which ``cdcjson.parse_lines`` passes through). The
    streaming variant rides Structured Streaming's file source
    (exactly-once file tracking via the checkpoint); ``scan_apply``
    below is the batch-mode resolved-range walk."""
    from pyspark.sql import functions as F

    if streaming:
        reader = spark.readStream.format("text")
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        lines = reader.load(path)
    else:
        lines = spark.read.text(path)
    return lines.withColumn("src_file", F.input_file_name())


@dataclass
class ResolvedRange:
    """Files between two consecutive resolved markers (conn.go:92
    resolvedRange): process ``files``, then commit ``to`` as progress."""

    to: str  # the closing .RESOLVED filename
    files: list[str] = field(default_factory=list)


def list_bucket(root: str) -> list[str]:
    """Recursive lexicographic listing (bucket.Walk with Recursive).
    Local filesystem stands in for the bucket client; paths are
    bucket-relative so compares match the sink's naming guarantee."""
    out = []
    for base, _, names in os.walk(root):
        for n in names:
            if n.startswith((".", "_")):
                continue  # in-flight temp files / spark markers
            out.append(os.path.relpath(os.path.join(base, n), root))
    out.sort()
    return out


def resolved_ranges(listing: list[str], last: str | None = None) -> list[ResolvedRange]:
    """findResolved over a sorted listing: group data files under the
    next ``.RESOLVED`` at or after them; files past the final resolved
    marker are NOT returned (not yet finalized — the tail the reference
    leaves for the next scan). ``last`` resumes strictly after the
    previously-committed resolved file (state.getLast)."""
    ranges: list[ResolvedRange] = []
    cur: list[str] = []
    for f in listing:
        if last is not None and f <= last:
            continue
        if f.endswith(RESOLVED_SUFFIX):
            ranges.append(ResolvedRange(to=f, files=cur))
            cur = []
        else:
            cur.append(f)
    return ranges


def read_resolved_hlc(root: str, resolved_file: str) -> tuple[int, int]:
    """Parse the resolved file body ({"resolved": "nanos.logical"} —
    ndjson_parser.go:76 / cdcjson resolved line)."""
    with open(os.path.join(root, resolved_file), encoding="utf-8") as f:
        stamp = json.loads(f.readline())["resolved"]
    nanos, _, logical = stamp.partition(".")
    return int(nanos), int(logical or 0)


def get_last(memo, ident: str) -> str | None:
    return memo.get(_LAST_KEY.format(ident=ident))


def set_last(memo, ident: str, resolved_file: str) -> None:
    memo.put(_LAST_KEY.format(ident=ident), resolved_file)


def scan_apply(
    spark: SparkSession,
    root: str,
    memo,
    apply_batch,  # fn(typed_mutations_df, resolved_hlc) -> None
    payload_schema: str,
    key_cols: list[str],
    ident: str = "objstore",
    leases=None,
    coalesce_ranges: bool = False,
) -> int:
    """One scan pass (conn.go apply): discover resolved ranges after the
    committed position, load each range's files as one distributed text
    read, parse through the standard cdcjson expressions, hand the typed
    batch plus its closing resolved HLC to ``apply_batch``, then commit
    the resolved filename. Returns the number of ranges applied.

    Crash safety is the reference's: progress commits AFTER the batch
    applies, so a crash replays the whole range — the apply path is
    idempotent (LWW + applied-ledger), same as every other source.

    ``coalesce_ranges=True`` is the backlog-drain fast path: all pending
    ranges fold into ONE distributed read applied through the LAST
    resolved marker, committing once. Identical final state for the
    idempotent LWW apply (the same trade seq_serial makes when it
    collapses plain-LWW windows); per-range commit granularity is the cost — a crash replays
    the whole backlog instead of one range. A day of 30-second resolved
    intervals is ~3k ranges: the per-range loop is ~3k sequential Spark
    jobs, the coalesced path is one.
    """
    lease = None
    if leases is not None:
        # conn.go Start: singleton lease so exactly one scanner runs.
        lease = leases.acquire(f"objstore::{ident}")
        if lease is None:
            return 0
    try:
        last = get_last(memo, ident)
        ranges = resolved_ranges(list_bucket(root), last)
        n_coalesced = 0
        if coalesce_ranges and ranges:
            n_coalesced = len(ranges) - 1  # reported as ranges covered
            ranges = [
                ResolvedRange(
                    to=ranges[-1].to, files=[f for r in ranges for f in r.files]
                )
            ]
        done = n_coalesced
        for r in ranges:
            hlc = read_resolved_hlc(root, r.to)
            if r.files:
                lines = spark.read.text([os.path.join(root, f) for f in r.files])
                typed = cdcjson.typed_mutations(lines, payload_schema, key_cols)
                apply_batch(typed, hlc)
            else:
                apply_batch(None, hlc)  # empty range still advances the frontier
            set_last(memo, ident, r.to)
            done += 1
        return done
    finally:
        if lease is not None:
            leases.release(lease)
