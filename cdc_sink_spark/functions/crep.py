"""Canonical value representation ("crep").

Reference: ``internal/util/crep/crep.go`` — produces a canonical,
JSON-esque representation so values from different drivers (json
float64 vs database int64, time formats) compare equal when they
are semantically equal.

Spark-first: canonicalization is a column expression producing a
normalized string — numerics via a fixed-point decimal render that
strips trailing zeros (so 1, 1.0 and "1.00" agree), booleans
lowercase, timestamps ISO-8601 UTC, NULL as a sentinel.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DataType,
    DateType,
    NumericType,
    TimestampNTZType,
    TimestampType,
)

NULL_SENTINEL = "\x00null"


def canonical(col, dtype: DataType) -> Column:
    """Canonical string form of a typed column (crep.go:45 Canonical)."""
    c = F.col(col) if isinstance(col, str) else col
    if isinstance(dtype, BooleanType):
        # two whens (not otherwise) so NULL propagates to the sentinel
        out = F.when(c, F.lit("true")).when(~c, F.lit("false"))
    elif isinstance(dtype, NumericType):
        # Fixed scale then strip trailing zeros: 1, 1.0, 1.00 agree.
        # try_cast: |x| >= 1e29 overflows decimal(38,9), which THROWS
        # under ANSI mode (Spark 4 default) — out-of-range values fall
        # back to the raw numeric render instead, staying distinct from
        # each other and from the NULL sentinel.
        dec = c.try_cast("decimal(38,9)").cast("string")
        out = F.coalesce(
            F.regexp_replace(F.regexp_replace(dec, r"0+$", ""), r"\.$", ""),
            c.cast("string"),
        )
    elif isinstance(dtype, (TimestampType, TimestampNTZType, DateType)):
        out = F.date_format(c.cast("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
    else:
        out = c.cast("string")
    return F.coalesce(out, F.lit(NULL_SENTINEL))
