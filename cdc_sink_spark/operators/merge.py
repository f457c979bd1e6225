"""Three-way merge for conflicting updates.

Reference: ``internal/util/merge/standard.go`` — per property:
  1. before == proposed            -> unchanged, keep target
  2. target == proposed            -> idempotent, keep target
  3. target == before (or unset)   -> safe, take proposed
  4. otherwise                     -> unmerged -> fallback merger or DLQ

Spark-first: the three images arrive as column triples on one row
(``before_x``, ``proposed_x`` and the target's ``x``), so the whole
decision tree is a CASE expression per column — columnar, codegen'd,
no per-row Python. Rows with any unmerged property go to the DLQ
side-output with the property list (merge.go:41 Conflict.Unmerged),
mirroring Standard.Merge falling back to ConflictError.

The reference also lets a userscript supply a CUSTOM conflict merger:
``bindMerge`` exports a JS function as a ``merge.Merger`` and the
standard three-way logic falls back to it for the properties it can't
resolve (internal/script/script.go:639-666, loader.go:368). Here the
same hook is a per-column ``fallback`` map of Column-expression rules
(delta-sum, prefer-newer, ...) — still columnar, still zero per-row
Python; only properties with no rule reach the DLQ.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# Prebuilt fallback rules (the common domain resolutions a bindMerge
# userscript implements). Each takes (target, before, proposed) Columns
# and returns the resolved value Column.
def rule_sum_deltas(tgt: Column, bef: Column, prop: Column) -> Column:
    """Additive counters/balances: both sides' deltas survive —
    target + (proposed - before)."""
    return tgt + (prop - bef)


def rule_prefer_proposed(tgt: Column, bef: Column, prop: Column) -> Column:
    """Source-of-truth-wins: take the incoming value."""
    return prop


def _eq(a, b):
    """NULL-safe equality (crep.Equal treats equal nulls as equal)."""
    return a.eqNullSafe(b)


def merge_standard(
    joined: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
    before_prefix: str = "before_",
    proposed_prefix: str = "proposed_",
    fallback: dict[str, Callable[[Column, Column, Column], Column]] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Resolve a DataFrame of conflicts.

    ``joined`` has, per row: the key columns, the current target value
    columns (bare names), and ``before_*`` / ``proposed_*`` images.
    Returns ``(resolved, dlq)``: resolved rows carry the merged value per
    column; dlq rows carry ``unmerged`` (sorted property names, matching
    standard.go:49 "Ensure stable ordering").

    ``fallback`` maps column name -> rule ``(target, before, proposed) ->
    Column`` applied ONLY where the standard rules conflict (both sides
    changed, differently) — the script.go bindMerge hook as a columnar
    expression. The rule's output is cast back to the column's pre-merge
    dtype so the resolved schema is identical with and without fallback
    (decimal arithmetic would otherwise widen it). A rule that evaluates
    to NULL DECLINES the row: the property stays unmerged and falls to
    the DLQ, exactly like a bindMerge merger returning no resolution —
    otherwise a NULL input (e.g. a NULL ``before`` image under
    delta-sum) would silently corrupt the column with NULL where the
    standard path would have DLQ'd. A rule that genuinely means
    "resolve to NULL" must return a typed sentinel and map it afterward.
    """
    fallback = fallback or {}
    merged_cols = []
    conflict_flags = []
    for v in value_cols:
        tgt = F.col(v)
        bef = F.col(f"{before_prefix}{v}")
        prop = F.col(f"{proposed_prefix}{v}")
        unchanged = _eq(bef, prop)
        idempotent = _eq(tgt, prop)
        safe = _eq(bef, tgt)
        standard = F.when(unchanged | idempotent, tgt).when(safe, prop).otherwise(tgt)
        conflict = ~unchanged & ~idempotent & ~safe
        if v in fallback:
            resolved_v = fallback[v](tgt, bef, prop).cast(joined.schema[v].dataType)
            merged = (
                F.when(conflict & resolved_v.isNotNull(), resolved_v)
                .otherwise(standard)
                .alias(v)
            )
            flag = F.when(conflict & resolved_v.isNull(), F.lit(v)).otherwise(
                F.lit(None).cast("string")
            )
        else:
            merged = standard.alias(v)
            flag = F.when(conflict, F.lit(v)).otherwise(F.lit(None))
        merged_cols.append(merged)
        conflict_flags.append(flag)

    unmerged = F.array_sort(
        F.filter(F.array(*conflict_flags), lambda x: x.isNotNull())
    ).alias("unmerged")
    with_flags = joined.select(*key_cols, *merged_cols, unmerged)

    resolved = with_flags.filter(F.size("unmerged") == 0).drop("unmerged")
    dlq = with_flags.filter(F.size("unmerged") > 0)
    return resolved, dlq
