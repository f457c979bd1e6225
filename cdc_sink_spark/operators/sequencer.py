"""Sequencers: ordering policies for mutation application.

Reference: ``internal/sequencer`` — ``immediate`` (apply as they
arrive), ``core`` (serial: transactionally-consistent resolved-window
batches), ``besteffort`` (apply what you can, park failures), and the
``scheduler``/``lockset`` (key-disjoint parallelism: mutations for the
same key apply in order, distinct keys apply concurrently).

Spark-first: ordering policies become *partitioning + window* choices,
not thread scheduling. Key-disjoint parallelism is exactly Spark's hash
partitioning on the key; serial consistency is grouping by resolved
window and applying windows in ascending order (each window is one
batch-apply, itself fully parallel).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType

from cdc_sink_spark.operators import msort
from cdc_sink_spark.operators.apply import ApplyConfig, apply_mutations


def seq_immediate(
    target: DataFrame, muts: DataFrame, key_cols: list[str], cfg: ApplyConfig | None = None, **kw
) -> tuple[DataFrame, DataFrame]:
    """Immediate mode (sequencer/immediate): no ordering barrier beyond
    per-key LWW; one batch-apply of everything."""
    return apply_mutations(target, muts, key_cols, cfg, **kw)


def _hlc_array(hlcs: Sequence, ts_type: DataType):
    """``(nanos, logical)`` HLCs as one literal array of the mutations' ts
    type, built as one SQL expression: a Column per HLC costs several JVM
    round trips (1000 frontiers took ~3 s that way on a 4-core box, and
    0.2 s as one expression)."""
    items = ", ".join(f"named_struct('nanos', {int(n)}L, 'logical', {int(lg)})" for n, lg in hlcs)
    return F.expr(f"array({items})").cast(ArrayType(ts_type))


def assign_resolved_windows(muts: DataFrame, resolved: Sequence, ts_col: str = "ts") -> DataFrame:
    """Tag each mutation with the earliest resolved timestamp covering it
    (sequencer/core groups work into resolved-timestamp windows).

    ``resolved`` is the frontier as ``(nanos, logical)`` HLCs: control
    data the driver already holds. They become one sorted literal array
    and the covering frontier is picked per row with
    ``array_min(filter(...))``: no job, no exchange, no join, and no row
    blowup (a theta join on ``ts <= resolved`` would multiply the stream
    by the frontier count). The higher-order function is interpreted,
    not code-generated, and costs O(frontiers) per row.
    """
    frontiers = _hlc_array(sorted(set(map(tuple, resolved))), muts.schema[ts_col].dataType)
    covering = F.array_min(F.filter(frontiers, lambda f: F.col(ts_col) <= f))
    return muts.withColumn("resolved_window", covering)


def seq_serial(
    target: DataFrame,
    muts: DataFrame,
    resolved: Sequence,
    key_cols: list[str],
    cfg: ApplyConfig | None = None,
    **kw,
) -> tuple[DataFrame, DataFrame]:
    """Serial mode (sequencer/core): apply resolved windows in ascending
    order; mutations beyond the last frontier stay staged. ``resolved``
    holds the frontier's ``(nanos, logical)`` HLCs. Returns ``(snapshot,
    pending)``.

    The rules pick one of two fully-distributed strategies, with no
    driver-side loop over windows in either:

    - plain LWW (no CAS, deadline or TOAST rule): windows commute, so
      every covered window collapses into ONE apply of the mutations at
      or below the newest frontier. Covered and pending are split by two
      comparisons against that literal HLC.
    - a window-sensitive rule: a CAS ratchet or a deadline acts per
      window, and a TOAST sentinel resolves against the prior window's
      winner, so the apply is ``_serial_grouped_fold``.

    Rejection semantics: CAS- and deadline-rejected mutations under
    serial consistency are FINAL — the CAS ratchet only rises and time
    only moves forward, so unlike besteffort's FK orphans a retry can
    never succeed; they are consumed by the fold, not parked or
    returned. Callers needing a record of rejections (DLQ) apply with
    ``apply_mutations``, which returns them (the conveyor, and
    StreamingApplier outside serial mode).
    """
    cfg = cfg or ApplyConfig()
    if cfg.cas_columns or cfg.deadlines or cfg.toast_sentinel is not None:
        return _serial_grouped_fold(target, muts, resolved, key_cols, cfg, **kw)
    ts_col = kw.get("ts_col", "__ts")
    covers = F.lit(False)
    if resolved:
        newest = _hlc_array([max(map(tuple, resolved))], muts.schema[ts_col].dataType)[0]
        # A NULL stamp stays pending, as an untagged row of the fold does.
        covers = F.coalesce(F.col(ts_col) <= newest, F.lit(False))
    snapshot, _ = apply_mutations(target, muts.filter(covers), key_cols, cfg, **kw)
    return snapshot, muts.filter(~covers)


def _serial_grouped_fold(
    target: DataFrame,
    muts: DataFrame,
    resolved: Sequence,
    key_cols: list[str],
    cfg: ApplyConfig,
    now=None,
    ts_col: str = "__ts",
    deleted_col: str = "__deleted",
    tie_breaker: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Window-serial apply as one grouped fold per key (see seq_serial);
    returns ``(snapshot, pending)``. Under plain LWW it equals the
    collapsed apply, and it is the reference the tests hold it to.

    Windows are disjoint ts intervals and the reference's own scheduler
    is key-disjoint (util/lockset), so window-serial semantics factor
    into an independent sequential fold per key. Each mutation is tagged
    with its window (``assign_resolved_windows``), one shuffle on the
    key brings each key's window winners together, and a JVM-side
    ``F.aggregate`` over the sorted winner array replays the windows in
    order (CAS ratchet, deletes) against the target row from one outer
    join. Cost is O(windows-per-key) per key, with a constant plan depth
    however many frontiers a day brings. (Measured on 200k rows x 100
    windows x 20k keys: a driver loop with one join per window 44 s, a
    pandas grouped-apply 69 s, at ~3 ms of invocation overhead per
    group, and the expression fold 9 s; only the fold's job count stays
    constant as frontiers accumulate.)

    Column rules (rename/ignore/exprs/extras) and deadlines are
    window-independent, so they run as the SAME DataFrame expressions
    the batch apply uses; only the genuinely sequential part — the
    per-key CAS/delete state machine across window boundaries — is an
    ``F.aggregate`` fold over the key's sorted window winners, one
    interpreted lambda step per (key, window) winner, zero Python.
    """
    from cdc_sink_spark.operators.apply import apply_deadlines, prepare_mutations

    tagged = assign_resolved_windows(muts, resolved, ts_col=ts_col)
    pending = tagged.filter(F.col("resolved_window").isNull()).drop("resolved_window")
    covered = tagged.filter(F.col("resolved_window").isNotNull())
    # resolved_window is fold-internal metadata, and tie-breaker columns
    # are ordering inputs: keep both out of extras packing (else the
    # window tag pollutes extras payloads AND the columns are dropped
    # before unique_by_key needs them).
    m = prepare_mutations(
        covered,
        target.columns,
        cfg,
        meta_cols=(ts_col, deleted_col, "resolved_window", *(tie_breaker or ())),
    )
    if cfg.deadlines:
        if now is None:
            # Same guard as apply_mutations: a NULL `now` makes every
            # deadline predicate NULL and silently drops ALL mutations.
            raise ValueError("deadlines require an explicit `now` for determinism")
        m, _ = apply_deadlines(m, cfg, now)
    # The unified post-apply schema (mutation dtypes coerced against the
    # target's, e.g. double value onto a decimal column) comes from a
    # ZERO-ROW batch apply — plan-only, never executed. Column rules
    # were ALREADY applied to `m` above; exprs are the one
    # non-idempotent rule (re-applying "$0 * 2" would widen the probe's
    # dtype past the fold's actual schema), so the probe runs with them
    # (and the already-enforced deadlines) cleared.
    from dataclasses import replace as _dc_replace

    proto, _ = apply_mutations(
        target.limit(0),
        m.limit(0).drop("resolved_window"),
        key_cols,
        _dc_replace(cfg, exprs={}, deadlines={}),
        now=now,
        ts_col=ts_col,
        deleted_col=deleted_col,
        tie_breaker=tie_breaker,
    )
    out_schema = proto.schema
    val_fields = [f for f in out_schema.fields if f.name not in key_cols]

    def _vals(get):
        return F.struct(*[get(f).cast(f.dataType).alias(f.name) for f in val_fields])

    # LWW winner per (key, window): one shuffle; the fold then sees at
    # most one row per window per key. collect_list groups on the same
    # key prefix, so Catalyst reuses the exchange.
    win = msort.unique_by_key(m, [*key_cols, "resolved_window"], ts_col, tie_breaker=tie_breaker)
    step = F.struct(
        F.col("resolved_window.nanos").alias("__w_nanos"),
        F.col("resolved_window.logical").alias("__w_logical"),
        F.col(deleted_col).alias("__del"),
        _vals(lambda f: F.col(f.name) if f.name in win.columns else F.lit(None)).alias("v"),
    )
    packed = (
        win.select(*key_cols, step.alias("__step"))
        .groupBy(*key_cols)
        .agg(F.sort_array(F.collect_list("__step")).alias("__steps"))
        .withColumn("__p_present", F.lit(True))
    )
    # Row-presence flags, NOT key-NULL checks (same rule as the batch
    # apply): a target row with a legitimately-NULL key component must
    # not read as "absent" after the outer join.
    tt = target.withColumn("__t_present", F.lit(True))
    jcond = None
    for k in key_cols:
        c = tt[k].eqNullSafe(packed[k])
        jcond = c if jcond is None else (jcond & c)
    j = tt.join(packed, jcond, "full_outer")
    has_target = tt["__t_present"].isNotNull()
    acc0 = F.struct(
        has_target.alias("p"),
        _vals(lambda f: tt[f.name] if f.name in target.columns else F.lit(None)).alias("v"),
    )
    cas_cols = list(cfg.cas_columns)

    def _accepted_vals(acc, x):
        """Incoming value struct with the unchanged-TOAST placeholder
        resolved against the accumulator (toasted.tmpl semantics): a
        sentinel keeps the row's CURRENT value — which is the target's
        value on the first step and the prior window's winner after —
        and resolves to NULL when the row doesn't exist (matching the
        batch apply, where target[v] is NULL for absent rows)."""
        if cfg.toast_sentinel is None:
            return x["v"]
        return F.struct(
            *[
                F.when(
                    x["v"][f.name].cast("string") == cfg.toast_sentinel,
                    F.when(acc["p"], acc["v"][f.name]),
                )
                .otherwise(x["v"][f.name])
                .cast(f.dataType)
                .alias(f.name)
                for f in val_fields
            ]
        )

    def merge(acc, x):
        if cas_cols:
            # CAS compares the RAW incoming tuple (pre-TOAST resolution),
            # same as the batch apply's __mv_ columns.
            inc = F.struct(*[x["v"][c] for c in cas_cols])
            cur = F.struct(*[acc["v"][c] for c in cas_cols])
            # Three-valued like the batch apply: NULL compare -> not ok.
            ok = ~acc["p"] | (inc > cur)
        else:
            ok = F.lit(True)
        return (
            F.when(ok & x["__del"], F.struct(F.lit(False).alias("p"), acc["v"].alias("v")))
            .when(ok, F.struct(F.lit(True).alias("p"), _accepted_vals(acc, x).alias("v")))
            .otherwise(acc)
        )

    # Target-only keys have a NULL steps array; aggregate(NULL) is NULL,
    # so route them straight to the seed accumulator.
    final = F.when(packed["__p_present"].isNull(), acc0).otherwise(
        F.aggregate(F.col("__steps"), acc0, merge)
    )
    out = j.select(
        *[
            F.when(has_target, tt[k]).otherwise(packed[k]).alias(k)
            for k in key_cols
        ],
        final.alias("__acc"),
    ).filter(F.col("__acc.p"))
    snapshot = out.select(
        *key_cols, *[F.col(f"__acc.v.{f.name}").alias(f.name) for f in val_fields]
    ).select(*[f.name for f in out_schema.fields])
    return snapshot, pending


def seq_besteffort(
    target: DataFrame,
    muts: DataFrame,
    key_cols: list[str],
    fk_parent: DataFrame | None = None,
    fk_cols: dict[str, str] | None = None,
    cfg: ApplyConfig | None = None,
    **kw,
) -> tuple[DataFrame, DataFrame]:
    """Best-effort mode (sequencer/besteffort): apply what can apply now,
    park what can't (here: FK-orphan mutations) for retry/DLQ.

    Returns (new_snapshot, parked). The orphan check is a broadcast-able
    anti-join against the parent keys — the same shape the reference's
    per-row retry converges to, without per-row round trips.

    CAS/deadline-rejected mutations are parked too (round-9 fix: they
    were silently dropped; the reference parks failures for retry —
    ``internal/sequencer/besteffort``). Rejected rows carry the exact
    (key, HLC) of the failed mutation, so parking is per-mutation —
    successfully-applied mutations of the same key are NOT re-parked
    (that would resubmit applied work every sweep).
    """
    parked = muts.limit(0)
    if fk_parent is not None and fk_cols:
        # EVERY constraint is enforced, not just the first dict entry: a
        # row parks as soon as ONE of its FKs is orphaned, and only rows
        # passing all of them apply. No broadcast hint: the parent KEY
        # SET is target-table-sized at 100 TB (the same unconditional-
        # broadcast class the round-10 review flagged on the vector
        # side). The semi/anti joins are equi-joins on the FK, so AQE
        # broadcasts only when the distinct set is measured small and
        # shuffles otherwise.
        parked_parts = []
        remaining = muts
        for child_col, parent_col in fk_cols.items():
            parents = fk_parent.select(F.col(parent_col).alias("__fk")).distinct()
            parked_parts.append(
                remaining.join(parents, remaining[child_col] == F.col("__fk"), "left_anti")
            )
            remaining = remaining.join(
                parents, remaining[child_col] == F.col("__fk"), "left_semi"
            )
        muts = remaining
        for p in parked_parts:
            parked = parked.unionByName(p)
    snapshot, rejected = apply_mutations(target, muts, key_cols, cfg, **kw)
    if rejected is not None:
        ts_col = kw.get("ts_col", "__ts")
        rej_keys = rejected.select(
            *[F.col(k).alias(f"__r_{k}") for k in key_cols],
            F.col("__rej_ts").alias("__r_ts"),
        ).distinct()
        cond = F.col(ts_col) == F.col("__r_ts")
        for k in key_cols:
            cond = cond & (muts[k] == F.col(f"__r_{k}"))
        # No broadcast hint: a CAS storm can make `rejected` large; let
        # AQE pick broadcast vs shuffle from the runtime size.
        parked = parked.unionByName(muts.join(rej_keys, cond, "left_semi"))
    return snapshot, parked


def scheduler_key_order(muts: DataFrame, key_cols: list[str], ts_col: str = "ts") -> DataFrame:
    """Key-disjoint scheduling order (sequencer/scheduler + util/lockset):
    per-key apply sequence numbers; distinct keys are independent. In
    Spark this *is* hash partitioning: one shuffle on the key, an
    in-partition sort, and a row_number — no locks to take."""
    w = Window.partitionBy(*key_cols).orderBy(ts_col)
    return muts.withColumn("apply_seq", F.row_number().over(w))


def retire_horizon(muts: DataFrame, applied_through, ts_col: str = "ts") -> DataFrame:
    """sequencer/retire: drop mutations at or below the applied horizon."""
    return muts.filter(F.col(ts_col) > F.lit(applied_through))


def switcher_mode(
    staged_count: int, resolved_lag_nanos: int, backlog_limit: int = 10_000,
    lag_limit_nanos: int = 60 * 1_000_000_000,
) -> str:
    """sequencer/switcher: pick the apply mode from backlog pressure.

    The reference flips between transactionally-consistent (serial) and
    best-effort modes when the staging backlog or resolved-timestamp lag
    crosses thresholds, trading consistency latency for drain rate."""
    if staged_count > backlog_limit or resolved_lag_nanos > lag_limit_nanos:
        return "besteffort"
    return "serial"


def seq_chaos(muts: DataFrame, drop_mod: int = 0, dup_mod: int = 0, id_col: str = "event_id") -> DataFrame:
    """sequencer/chaos: deterministic fault injection for tests — drop
    every drop_mod-th mutation, duplicate every dup_mod-th. Downstream
    operators must converge regardless (LWW dedup + idempotent apply)."""
    out = muts
    if drop_mod:
        out = out.filter(F.col(id_col) % drop_mod != 0)
    if dup_mod:
        dups = out.filter(F.col(id_col) % dup_mod == 0)
        out = out.unionByName(dups)
    return out
