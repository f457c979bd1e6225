"""Hybrid logical clock column expressions.

Reference: ``internal/util/hlc/hlc.go`` — an HLC time is
``<nanos>.<logical>`` (e.g. ``"1.0"``, ``"1681711549041052050.0000000002"``);
total order is (nanos, logical) lexicographic on the numeric pair
(``hlc.go:49 Compare``).

Spark-first: HLC lives as ``struct<nanos:long, logical:int>``. Spark
orders structs field-by-field, so ``ORDER BY ts`` / ``max(ts)`` /
``ts1 < ts2`` are all correct without custom comparators, stay inside
whole-stage codegen, and sort-merge/partial-agg over them is free.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hlc(nanos, logical=0) -> Column:
    """Build an HLC struct column from components (hlc.go:63 New)."""
    n = F.col(nanos) if isinstance(nanos, str) else F.lit(nanos) if isinstance(nanos, int) else nanos
    l = F.col(logical) if isinstance(logical, str) else F.lit(logical) if isinstance(logical, int) else logical
    return F.struct(
        n.cast("long").alias("nanos"),
        l.cast("int").alias("logical"),
    )


def parse_hlc(col) -> Column:
    """Parse ``"NNNN.LLL"`` into the HLC struct (hlc.go:69 Parse).

    Invalid strings yield NULL, letting callers filter or fail loudly,
    matching Parse's error paths exactly (hlc_test.go TestParse vectors):
    no single '.', negative nanos, and a logical part that is neither
    10 digits nor zero-valued ("123.123" is an ERROR in the reference;
    "1.0" is fine because the short logical is zero).
    """
    c = F.col(col) if isinstance(col, str) else col
    nanos = F.regexp_extract(c, r"^(\d+)\.(\d+)$", 1)
    logical = F.regexp_extract(c, r"^(\d+)\.(\d+)$", 2)
    # Range-check through LONG first: a 10-digit logical above INT32_MAX
    # (e.g. "1.9999999999") would pass the shape check but cast('int') to
    # NULL, yielding a non-NULL struct with a NULL logical that silently
    # misorders downstream tuple compares. Out-of-range components reject
    # the WHOLE struct, same as Parse's strconv error path; overflowing
    # nanos (cast('long') -> NULL) reject for the same reason.
    # try_cast, not cast: ANSI mode throws on malformed/overflowing input
    # where Parse returns an error — NULL-and-reject is the match.
    nanos_l = nanos.try_cast("long")
    logical_l = logical.try_cast("long")
    logical_ok = (
        ((F.length(logical) == 10) | (logical_l == 0))
        & logical_l.isNotNull()
        & (logical_l <= F.lit(2147483647))
    )
    return F.when(
        (nanos != "") & nanos_l.isNotNull() & logical_ok,
        F.struct(nanos_l.alias("nanos"), logical_l.cast("int").alias("logical")),
    )


def format_hlc(col) -> Column:
    """Render the HLC struct back to ``nanos.0000000000`` canonical text
    (hlc.go String: logical zero-padded to 10 digits)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.concat(
        c["nanos"].cast("string"),
        F.lit("."),
        F.lpad(c["logical"].cast("string"), 10, "0"),
    )


def compare(a, b) -> Column:
    """Three-way compare, -1/0/1 (hlc.go:49). Struct ordering is
    field-by-field, so plain operators suffice."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.when(ca < cb, F.lit(-1)).when(ca > cb, F.lit(1)).otherwise(F.lit(0))
