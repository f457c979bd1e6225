"""Schema-aware mutation application (the target/apply stage).

Reference: ``internal/target/apply`` + ``internal/util/applycfg/conf.go``.
The reference renders per-product SQL (UPSERT/CTE templates, e.g.
``queries/crdb/conditional.tmpl``); we compute the *post-apply snapshot*
of the target relation declaratively so Catalyst plans it — one full
outer join on the primary key. Spark never broadcasts a full outer
join, so both sides shuffle on the key, the target included, however
small the mutation batch.

Per-table rules carried over (conf.go:53 Config):
- ``source_names``  rename incoming columns (SourceNames)
- ``ignore``        drop incoming columns (Ignore)
- ``exprs``         substitution expressions, '$0' = incoming value (Exprs)
- ``extras``        pack unmapped incoming columns into a JSON column (Extras)
- ``deadlines``     reject rows whose timestamp col is older than now-d
                    (conditional.tmpl: ``col > now() - 'd'::INTERVAL``)
- ``cas_columns``   apply only when the incoming CAS tuple is strictly
                    greater than the target's (conditional.tmpl ``action``)

``apply_mutations`` takes *typed* mutations (one column per target
column, plus ``__ts`` HLC struct and ``__deleted`` flag — the conveyor
or cdcjson source produces this shape) and returns the new snapshot plus
the rejected rows (the reference returns those for merge/DLQ handling).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_sink_spark.operators import msort


@dataclass
class ApplyConfig:
    """Per-target-table apply rules (applycfg/conf.go:53)."""

    cas_columns: list[str] = field(default_factory=list)
    deadlines: dict[str, float] = field(default_factory=dict)  # col -> seconds
    exprs: dict[str, str] = field(default_factory=dict)  # col -> SQL with $0
    extras: str | None = None  # JSON column for unmapped source cols
    ignore: list[str] = field(default_factory=list)
    source_names: dict[str, str] = field(default_factory=dict)  # target <- source
    # Unchanged-TOAST marker (types.go:263 ToastedColumnPlaceholder;
    # crdb/toasted.tmpl): an incoming value equal to this sentinel keeps
    # the target's current value instead of overwriting it.
    toast_sentinel: str | None = None

    @property
    def can_reject(self) -> bool:
        """Whether ``apply_mutations`` can return a non-empty reject
        frame: only a CAS rule or a deadline rejects a mutation."""
        return bool(self.cas_columns or self.deadlines)


def prepare_mutations(
    muts: DataFrame,
    target_cols: list[str],
    cfg: ApplyConfig,
    meta_cols: tuple[str, ...] = ("__ts", "__deleted"),
) -> DataFrame:
    """Column-level rules: rename, ignore, exprs, extras packing."""
    df = muts
    for tgt, src in cfg.source_names.items():
        if src in df.columns:
            df = df.withColumnRenamed(src, tgt)
    drop = [c for c in cfg.ignore if c in df.columns]
    if drop:
        df = df.drop(*drop)
    for col, expr in cfg.exprs.items():
        df = df.withColumn(col, F.expr(expr.replace("$0", f"`{col}`")))
    if cfg.extras:
        mapped = set(target_cols) | set(meta_cols) | {cfg.extras}
        unmapped = [c for c in df.columns if c not in mapped]
        if unmapped:
            df = df.withColumn(cfg.extras, F.to_json(F.struct(*sorted(unmapped)))).drop(*unmapped)
    return df


def apply_deadlines(muts: DataFrame, cfg: ApplyConfig, now) -> tuple[DataFrame, DataFrame]:
    """Split mutations into (live, expired) per the deadline rules.

    ``now`` is an explicit timestamp expression/literal for determinism
    (the reference uses the target database's now()).
    """
    if not cfg.deadlines:
        return muts, muts.limit(0)
    cond = F.lit(True)
    for col, seconds in cfg.deadlines.items():
        cond = cond & (
            F.col(col).cast("timestamp_ltz").cast("long") > (F.lit(now).cast("timestamp_ltz").cast("long") - F.lit(int(seconds)))
        )
    # Three-valued split hazard: a NULL deadline column makes cond NULL,
    # which fails BOTH filter(cond) and filter(~cond) — the mutation
    # would be neither applied nor rejected (and the marker would then
    # record it applied: permanent silent loss). NULL deadlines reject,
    # like the reference's `col > now() - d` WHERE clause not matching.
    live = F.coalesce(cond, F.lit(False))
    return muts.filter(live), muts.filter(~live)


def _nullsafe_default(dt):
    """A non-null constant of ``dt``'s type for the coalesce half of the
    null-safe join tuple. ANY constant is correct: a real value equal to
    the default still differs from NULL on the isnull half, so the
    (coalesce(k, d), isnull(k)) pair compares exactly like k <=> k.
    Returns None for types we don't build a constant for (caller falls
    back to a plain eqNullSafe join)."""
    s = dt.simpleString()
    if s in ("bigint", "int", "smallint", "tinyint", "double", "float") or s.startswith(
        "decimal"
    ):
        return F.lit(0).cast(dt)
    if s == "string":
        return F.lit("")
    if s == "boolean":
        return F.lit(False)
    if s == "date":
        return F.expr("DATE '1970-01-01'")
    if s in ("timestamp", "timestamp_ntz"):
        return F.expr(f"{s.upper()} '1970-01-01 00:00:00'")
    return None


def apply_mutations(
    target: DataFrame,
    muts: DataFrame,
    key_cols: list[str],
    cfg: ApplyConfig | None = None,
    now=None,
    ts_col: str = "__ts",
    deleted_col: str = "__deleted",
    tie_breaker: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Apply a batch of typed mutations onto the target snapshot.

    Returns ``(new_snapshot, rejected)`` where rejected rows carry the
    mutation's HLC (``__rej_ts``) and a ``__reason`` column
    ('deadline' | 'cas') — the reference reports those back for
    merge/DLQ handling (apply.go conflict path).

    Plan shape: LWW dedup (one shuffle on key) then a single
    full-outer join target⋈mutations on the key. No driver loops.
    """
    cfg = cfg or ApplyConfig()
    value_cols = [c for c in target.columns if c not in key_cols]

    # Meta columns (HLC, delete flag, tie-breakers) are pipeline-internal:
    # extras packing must not swallow them — unique_by_key still needs
    # the tie column after the rules run.
    m = prepare_mutations(
        muts, target.columns, cfg, meta_cols=(ts_col, deleted_col, *(tie_breaker or ()))
    )
    if cfg.deadlines:
        if now is None:
            raise ValueError("deadlines require an explicit `now` for determinism")
        m, expired = apply_deadlines(m, cfg, now)
        # Rejected rows carry their HLC so retry sweeps can target the
        # exact failed mutations, not every staged mutation of the key.
        expired = expired.select(
            *key_cols, F.col(ts_col).alias("__rej_ts"), F.lit("deadline").alias("__reason")
        )
    else:
        expired = None

    # Null-safe join tuple (r13): Spark plans k <=> k joins by shuffling
    # BOTH sides on (coalesce(k, default), isnull(k)) — expressions the
    # LWW window's hash(k) partitioning does not satisfy, so the deduped
    # mutation batch re-shuffled in full right after its window exchange.
    # Materializing the same tuple as real columns, partitioning the LWW
    # window by THEM (identical grouping: the tuple is injective per
    # null-safe key), and joining on their plain equality lets the join
    # reuse the window's exchange — one shuffle of the batch instead of
    # two, at any scale. Falls back to the old eqNullSafe condition when
    # a key type has no constant here.
    defaults = [
        _nullsafe_default(m.schema[k].dataType) if k in m.columns else None
        for k in key_cols
    ]
    nullsafe_cols = all(d is not None for d in defaults)
    part_cols = None
    if nullsafe_cols:
        for i, (k, d) in enumerate(zip(key_cols, defaults)):
            m = m.withColumn(f"__jk{i}", F.coalesce(F.col(k), d)).withColumn(
                f"__jn{i}", F.isnull(F.col(k))
            )
        part_cols = [c for i in range(len(key_cols)) for c in (f"__jk{i}", f"__jn{i}")]

    # Last-write-wins per key within the batch (msort.UniqueByKey).
    m = msort.unique_by_key(
        m, key_cols, ts_col, tie_breaker=tie_breaker, partition_cols=part_cols
    )

    mm = m.select(
        *[F.col(c).alias(f"__m_{c}") for c in key_cols],
        *[F.col(c).alias(f"__mv_{c}") for c in value_cols if c in m.columns],
        *[F.col(c).alias(f"__m_{c}") for c in (part_cols or ())],
        F.col(deleted_col).alias("__m_deleted"),
        F.col(ts_col).alias("__m_ts"),
        F.lit(True).alias("__m_present"),
    )
    # Row-presence flags, NOT key-NULL checks: a target row whose first
    # key column is legitimately NULL would otherwise read as "absent"
    # after the outer join and have its remaining key columns replaced
    # with the (NULL) mutation side's.
    tt = target.withColumn("__t_present", F.lit(True))
    join_cond = None
    if nullsafe_cols:
        for i, (k, d) in enumerate(zip(key_cols, defaults)):
            tt = tt.withColumn(f"__jk{i}", F.coalesce(F.col(k), d)).withColumn(
                f"__jn{i}", F.isnull(F.col(k))
            )
        for c in part_cols:
            eq = tt[c] == mm[f"__m_{c}"]
            join_cond = eq if join_cond is None else (join_cond & eq)
    else:
        for k in key_cols:
            # Null-SAFE equality, same as the serial fold: a NULL key
            # component must match its own row (plain == never matches, so
            # a NULL-keyed upsert would duplicate the row and a delete
            # no-op).
            c = tt[k].eqNullSafe(mm[f"__m_{k}"])
            join_cond = c if join_cond is None else (join_cond & c)
    j = tt.join(mm, join_cond, "full_outer")

    has_target = tt["__t_present"].isNotNull()
    has_mut = mm["__m_present"].isNotNull()

    # CAS: incoming applies iff target absent OR incoming tuple strictly
    # greater than current (conditional.tmpl `action` CTE).
    if cfg.cas_columns:
        inc = F.struct(*[F.col(f"__mv_{c}") for c in cfg.cas_columns])
        cur = F.struct(*[tt[c] for c in cfg.cas_columns])
        cas_ok = ~has_target | (inc > cur)
    else:
        cas_ok = F.lit(True)

    take_mut = has_mut & cas_ok & ~F.col("__m_deleted")
    drop_row = has_mut & cas_ok & F.col("__m_deleted")

    out_cols = []
    for k in key_cols:
        out_cols.append(F.when(has_target, tt[k]).otherwise(mm[f"__m_{k}"]).alias(k))
    for v in value_cols:
        mv = F.col(f"__mv_{v}") if f"__mv_{v}" in mm.columns else F.lit(None)
        if cfg.toast_sentinel is not None and f"__mv_{v}" in mm.columns:
            # toasted.tmpl: unchanged-TOAST placeholder keeps the current
            # target value (left join against current, per column).
            mv = F.when(mv.cast("string") == cfg.toast_sentinel, tt[v]).otherwise(mv)
        out_cols.append(F.when(take_mut, mv).otherwise(tt[v]).alias(v))

    snapshot = j.filter(~drop_row).select(*out_cols)

    rejected = (
        j.filter(has_mut & has_target & ~cas_ok)
        .select(
            *[mm[f"__m_{k}"].alias(k) for k in key_cols],
            mm["__m_ts"].alias("__rej_ts"),
            F.lit("cas").alias("__reason"),
        )
    )
    if expired is not None:
        rejected = rejected.unionByName(expired)
    return snapshot, rejected


def apply_scd2(
    muts: DataFrame,
    key_cols: list[str],
    ts_col: str = "__ts",
    deleted_col: str = "__deleted",
    tie_breaker: list[str] | None = None,
) -> DataFrame:
    """History-preserving apply (SCD-2): each mutation opens a version
    whose validity interval is closed by the key's next mutation.

    Mutations are first deduplicated per (time, key) — the reference
    stages through msort.UniqueByTimeKey, and without it HLC ties would
    produce zero-width intervals that erase versions. Interval bounds
    carry the FULL HLC (nanos + logical), so the as-of predicate is a
    tuple compare, not a lossy nanos-only compare. Deletes close the
    prior interval without opening one. One shuffle on the key.
    """
    from pyspark.sql import Window

    from cdc_sink_spark.operators import msort

    m = msort.unique_by_time_key(muts, key_cols, ts_col)
    order = [F.col(f"{ts_col}.nanos"), F.col(f"{ts_col}.logical")] + [
        F.col(c) for c in (tie_breaker or [])
    ]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        m.withColumn("valid_to_nanos", F.lead(F.col(f"{ts_col}.nanos")).over(w))
        .withColumn("valid_to_logical", F.lead(F.col(f"{ts_col}.logical")).over(w))
        .filter(~F.col(deleted_col))
        .withColumn("valid_from_nanos", F.col(f"{ts_col}.nanos"))
        .withColumn("valid_from_logical", F.col(f"{ts_col}.logical"))
    )
