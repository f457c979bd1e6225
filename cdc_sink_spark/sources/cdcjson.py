"""CockroachDB changefeed ndjson parsing.

Reference: ``internal/util/cdcjson`` — a changefeed-over-HTTP body is
newline-delimited JSON where each line is either a mutation envelope or
a resolved-timestamp checkpoint:

  wrapped  : {"after": {...}|null, "before": {...}|null,
              "updated": "nanos.logical", "key": [pk...]}
  bare     : {"k": 1, "v": "x", "__crdb__": {"updated": "..."}}
  resolved : {"resolved": "nanos.logical"}

(cdcjson/query_payload.go:82-85 documents the wrapped insert/update/
delete/phantom-delete shapes; ndjson_parser.go:76 the resolved line.)

Spark-first: one ``from_json`` over the line column extracts the
envelope skeleton; payload JSON stays as *strings* (``after``/``before``)
to be parsed with a typed schema only at apply time — so the parse stage
is schema-agnostic and never re-shuffles when table schemas differ.
Works identically on a batch DataFrame and a readStream DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from cdc_sink_spark.functions.hlc import parse_hlc

ENVELOPE_SCHEMA = StructType(
    [
        StructField("after", StringType(), True),
        StructField("before", StringType(), True),
        StructField("updated", StringType(), True),
        StructField("key", StringType(), True),
        StructField("resolved", StringType(), True),
    ]
)

_OPTS = {"primitivesAsString": "false"}


def parse_lines(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """Parse raw ndjson lines into the canonical mutation layout
    (model.MUTATION_SCHEMA) plus a ``resolved`` passthrough column.

    after/before/key are re-extracted with get_json_object so nested
    JSON survives verbatim (from_json would need the payload schema).
    """
    line = F.col(value_col)
    return lines.select(
        F.get_json_object(line, "$.key").alias("key"),
        F.get_json_object(line, "$.after").alias("data"),
        F.get_json_object(line, "$.before").alias("before"),
        parse_hlc(F.get_json_object(line, "$.updated")).alias("ts"),
        F.get_json_object(line, "$.resolved").alias("resolved_str"),
    )


def mutations(parsed: DataFrame) -> DataFrame:
    """Mutation rows only (lines carrying an updated timestamp)."""
    return parsed.filter(F.col("ts").isNotNull()).drop("resolved_str")


def resolved(parsed: DataFrame) -> DataFrame:
    """Resolved-timestamp checkpoints (ndjson_parser.go:76 Resolved)."""
    return (
        parsed.filter(F.col("resolved_str").isNotNull())
        .select(parse_hlc("resolved_str").alias("ts"))
    )


def typed_mutations(parsed_or_lines: DataFrame, payload_schema, key_cols: list[str]) -> DataFrame:
    """Explode payload JSON into typed columns for apply: one column per
    target column plus __ts / __deleted. Delete detection follows
    types.go:143 (after missing/null).

    Fast path: when given raw lines (a `value` column), the whole
    envelope parses with ONE from_json whose `after` field is already
    the typed payload struct — versus 5 get_json_object passes + a
    second from_json when going through parse_lines first (each
    get_json_object is a full JSON parse of the line). The generic
    parse_lines path remains for schema-agnostic staging."""
    if isinstance(payload_schema, str):
        payload_schema = StructType.fromDDL(payload_schema)

    if "value" in parsed_or_lines.columns and "ts" not in parsed_or_lines.columns:
        env = StructType(
            [
                StructField("after", payload_schema, True),
                StructField("updated", StringType(), True),
                StructField("key", StringType(), True),
            ]
        )
        # explode(array(...)) is a deliberate pushdown barrier (r13): a
        # plain projection lets the optimizer substitute the
        # isNotNull(updated) filter below it, planting a second
        # from_json — AND the caller's full line-render lineage — at the
        # scan (the whole ndjson render ran twice per row in conveyor's
        # plan). Filters on generator output don't push through
        # Generate, so the envelope parses exactly once; a 1-element
        # array explode keeps cardinality and is codegen'd.
        e = parsed_or_lines.select(
            F.explode(F.array(F.from_json(F.col("value"), env))).alias("e")
        ).select("e.*")
        parts = F.split(F.col("updated"), r"\.")
        m = e.filter(F.col("updated").isNotNull()).select(
            F.col("after").alias("__data"),
            F.from_json(F.col("key"), "array<string>").alias("__key"),
            F.struct(
                parts[0].cast("long").alias("nanos"), parts[1].cast("int").alias("logical")
            ).alias("__ts"),
            F.col("after").isNull().alias("__deleted"),
        )
    else:
        p = mutations(parsed_or_lines)
        m = p.select(
            F.from_json(F.col("data"), payload_schema).alias("__data"),
            F.from_json(F.col("key"), "array<string>").alias("__key"),
            F.col("ts").alias("__ts"),
            F.col("data").isNull().alias("__deleted"),
        )
    cols = []
    for i, k in enumerate(key_cols):
        field_type = payload_schema[k].dataType.simpleString()
        cols.append(
            F.coalesce(F.col(f"__data.{k}"), F.col("__key")[i].cast(field_type)).alias(k)
        )
    for f in payload_schema.fields:
        if f.name not in key_cols:
            cols.append(F.col(f"__data.{f.name}").alias(f.name))
    return m.select(*cols, "__ts", "__deleted")


def parse_bare_lines(lines: DataFrame, payload_schema, key_cols: list[str],
                     value_col: str = "value") -> DataFrame:
    """Bare-envelope changefeed lines (query_payload.go:93 — payload
    fields at top level, metadata under ``__crdb__``):

      {"__event__":"insert","pk":42,"v":9,"__crdb__":{"updated":"1.0"}}

    Emits the same typed layout as typed_mutations. Delete events carry
    ``__event__ == "delete"``; the key is extracted from the payload's
    own key columns (the reference resolves them from table metadata).
    """
    if isinstance(payload_schema, str):
        payload_schema = StructType.fromDDL(payload_schema)
    line = F.col(value_col)
    data = F.from_json(line, payload_schema)
    event = F.get_json_object(line, "$.__event__")
    cols = [data[f.name].alias(f.name) for f in payload_schema.fields]
    return lines.select(
        *cols,
        parse_hlc(F.get_json_object(line, "$.__crdb__.updated")).alias("__ts"),
        # NULL-safe: a line WITHOUT __event__ is an upsert, and a NULL
        # __deleted is poison downstream (apply's filter(~drop_row)
        # silently drops the joined row — an upsert would DELETE).
        event.eqNullSafe("delete").alias("__deleted"),
    ).filter(F.col("__ts").isNotNull())
