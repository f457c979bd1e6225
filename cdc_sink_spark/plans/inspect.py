"""Plan inspection and assertion helpers.

The engine's scale posture is enforced in tests: a query whose plan
stops pushing filters into the scan, drops a broadcast, or loses
map-side partial aggregation is a regression even while its results
stay correct. These helpers read the executed-plan string so tests
(and developers via ``explain_brief``) can assert plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def has_pushed_filter(df: DataFrame, column: str) -> bool:
    """True if the parquet scan reports a pushed filter on the column.

    Whole-identifier match, not substring: filters print as
    ``IsNotNull(l_quantity), GreaterThan(l_quantity,5.0)``, so a bare
    ``column in chunk`` would report a pushed filter on ``quantity``
    when only ``l_quantity`` is filtered (or when the name appears in a
    filter VALUE) — a vacuous pass for the exact property this helper
    exists to pin. (The session raises maxMetadataStringLength so the
    filter list itself is not truncated.)"""
    import re

    pat = re.compile(r"[(,]\s*" + re.escape(column) + r"\s*[,)]")
    plan = executed_plan(df)
    for chunk in plan.split("PushedFilters: [")[1:]:
        if pat.search(chunk.split("]")[0]):
            return True
    return False


def scan_columns(df: DataFrame) -> list[list[str]]:
    """ReadSchema column lists per scan — column pruning evidence.

    Bracket-aware parse: a nested type (array<...>, struct<...>) closes
    with '>' too, so taking text up to the FIRST '>' would silently drop
    every column after the nested one — letting a "col not in scan"
    pruning assertion pass vacuously while the column is being read.
    The session raises spark.sql.maxMetadataStringLength (default 100)
    for the same reason: a TRUNCATED ReadSchema string drops trailing
    columns from this parse just as silently. Refuse to parse a
    truncated schema rather than return a partial column list."""
    out = []
    plan = executed_plan(df)
    for chunk in plan.split("ReadSchema: struct<")[1:]:
        if "..." in chunk.split("\n", 1)[0]:
            raise AssertionError(
                "ReadSchema is truncated in the plan string (raise "
                "spark.sql.maxMetadataStringLength); a partial parse would "
                "make pruning assertions vacuous"
            )
        depth, end = 1, len(chunk)
        for i, ch in enumerate(chunk):
            if ch == "<":
                depth += 1
            elif ch == ">":
                depth -= 1
                if depth == 0:
                    end = i
                    break
        body = chunk[:end]
        cols, level, start = [], 0, 0
        for i, ch in enumerate(body):
            if ch == "<":
                level += 1
            elif ch == ">":
                level -= 1
            elif ch == "," and level == 0:
                cols.append(body[start:i])
                start = i + 1
        cols.append(body[start:])
        out.append([f.split(":")[0].strip() for f in cols if f.strip()])
    return out


def broadcast_join_count(df: DataFrame) -> int:
    return executed_plan(df).count("BroadcastHashJoin")


def has_partial_aggregate(df: DataFrame) -> bool:
    return "partial_" in executed_plan(df)


def explain_brief(df: DataFrame) -> str:
    """One-line-per-operator digest of the executed plan.

    Codegen'd operators print as ``*(1) Filter ...``: strip the stage
    marker including its parenthesized id BEFORE splitting on '(' —
    otherwise ``split('(')[0]`` is empty and exactly the codegen'd
    (i.e. compute-heavy) operators vanish from the digest."""
    import re

    lines = []
    for raw in executed_plan(df).splitlines():
        s = raw.strip().lstrip("+- :")
        s = re.sub(r"^\*\(\d+\)\s*", "", s)  # whole-stage-codegen marker
        op = s.split("(")[0].split(" ")[0]
        if op and op not in ("", ":"):
            lines.append(op)
    return " -> ".join(reversed(lines[:30]))
