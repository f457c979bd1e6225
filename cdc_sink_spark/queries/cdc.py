"""CDC operator suite as driver-checkable queries (SURVEY §2 A).

The events table is reinterpreted as a deterministic mutation stream:
key = user_id, HLC ts = (epoch_micros*1000, event_id % 4), op = delete
when event_type = 'error', payload = value. Both the Spark side (through
the real operators in cdc_sink_spark.operators) and the DuckDB oracle
derive the stream identically, so the oracle checks the *operator
semantics*, not a reimplementation shortcut.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_sink_spark.functions.hlc import format_hlc, parse_hlc
from cdc_sink_spark.operators import merge as merge_op
from cdc_sink_spark.operators import msort, script, sequencer
from cdc_sink_spark.operators.apply import ApplyConfig, apply_mutations, prepare_mutations
from cdc_sink_spark.sources import cdcjson
from cdc_sink_spark.session import release_checkpoint
from cdc_sink_spark.session import spread as _spread

# Shared SQL fragment: the mutation stream derived from events.
MUT_SQL = """
SELECT user_id, event_id, value, event_type,
       epoch_us(ts) * 1000 AS nanos,
       CAST(event_id % 4 AS INTEGER) AS logical,
       (event_type = 'error') AS is_delete
FROM events
"""


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from cdc_sink_spark.session import table

    return table(spark, sf_dir, name)


def _mutations(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        "event_id",
        "value",
        "event_type",
        F.struct(
            (F.unix_micros(F.col("ts").cast("timestamp_ltz")) * 1000).alias("nanos"),
            (F.col("event_id") % 4).cast("int").alias("logical"),
        ).alias("ts"),
        (F.col("event_type") == "error").alias("is_delete"),
    )


# --------------------------------------------------------------------- A1
def hlc_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format HLC structs to 'nanos.logical' text, re-parse, and take the
    per-key max — a full round-trip through hlc.py (hlc.go Parse/String),
    proving text order == struct order."""
    m = _mutations(spark, sf_dir)
    rt = m.select("user_id", parse_hlc(format_hlc("ts")).alias("ts2"))
    return rt.groupBy("user_id").agg(
        F.max("ts2").alias("max_ts")
    ).select(
        "user_id", F.col("max_ts.nanos").alias("nanos"), F.col("max_ts.logical").alias("logical")
    )


HLC_ORDER_SQL = f"""
WITH m AS ({MUT_SQL})
SELECT user_id, nanos, logical FROM (
  SELECT user_id, nanos, logical,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY nanos DESC, logical DESC) rn
  FROM m
) WHERE rn = 1
"""


# --------------------------------------------------------------------- A2
def cdc_parse_ndjson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render each mutation as a changefeed ndjson line (wrapped
    envelope, query_payload.go:82 shapes), parse it back through
    cdcjson.parse_lines/typed_mutations, and aggregate — a real
    serialization round-trip."""
    m = _mutations(spark, sf_dir)
    line = F.concat(
        F.lit('{"after":'),
        F.when(
            F.col("is_delete"), F.lit("null")
        ).otherwise(
            F.concat(
                F.lit('{"user_id":'),
                F.col("user_id").cast("string"),
                F.lit(',"event_id":'),
                F.col("event_id").cast("string"),
                F.lit("}"),
            )
        ),
        F.lit(',"updated":"'),
        format_hlc("ts"),
        F.lit('","key":['),
        F.col("user_id").cast("string"),
        F.lit("]}"),
    )
    lines = m.select(line.alias("value")).transform(_spread)
    typed = cdcjson.typed_mutations(lines, "user_id bigint, event_id bigint", ["user_id"])
    return typed.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_mutations"),
        F.sum(F.col("__deleted").cast("long")).alias("n_deletes"),
        F.max(F.col("__ts.nanos")).alias("max_nanos"),
    )


CDC_PARSE_SQL = f"""
WITH m AS ({MUT_SQL})
SELECT user_id, COUNT(*) AS n_mutations,
       CAST(SUM(CASE WHEN is_delete THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
       MAX(nanos) AS max_nanos
FROM m GROUP BY user_id
"""


# --------------------------------------------------------------------- A3
def mutation_dedup_last_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _mutations(spark, sf_dir)
    out = msort.unique_by_key(m, "user_id", "ts", tie_breaker=["event_id"])
    return out.select("user_id", "event_id", "value", "event_type")


DEDUP_LWW_SQL = f"""
WITH m AS ({MUT_SQL})
SELECT user_id, event_id, value, event_type FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY user_id ORDER BY nanos DESC, logical DESC, event_id DESC) rn
  FROM m
) WHERE rn = 1
"""


# --------------------------------------------------------------------- A4
def mutation_dedup_time_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _mutations(spark, sf_dir)
    out = msort.unique_by_time_key(m, "user_id", "ts")
    return out.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_unique"))


DEDUP_TK_SQL = f"""
WITH m AS ({MUT_SQL})
SELECT user_id, COUNT(*) AS n_unique FROM (
  SELECT DISTINCT ON (nanos, logical, user_id) user_id FROM m
) GROUP BY user_id
"""


# --------------------------------------------------------------------- A5
def _typed_muts(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _mutations(spark, sf_dir)
    return m.select(
        F.col("user_id").alias("id"),
        F.col("value").alias("bal"),
        F.col("ts").alias("__ts"),
        F.col("event_id").alias("__tie"),
        F.col("is_delete").alias("__deleted"),
    )


def _target(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name"), F.col("c_acctbal").alias("bal")
    )


# Oracle fragment: LWW winner per user.
LWW_SQL = f"""
SELECT user_id, value, is_delete FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY user_id ORDER BY nanos DESC, logical DESC, event_id DESC) rn
  FROM ({MUT_SQL})
) WHERE rn = 1
"""


def apply_upsert_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full apply semantics on a real table: LWW dedup then one
    full-outer merge. Customers whose latest mutation is a delete drop;
    upserts overwrite the full row (unmapped target columns go NULL,
    matching the reference's full-row UPSERT); untouched rows survive."""
    snap, _ = apply_mutations(
        _target(spark, sf_dir), _typed_muts(spark, sf_dir), ["id"], tie_breaker=["__tie"]
    )
    return snap


APPLY_UD_SQL = f"""
WITH w AS ({LWW_SQL})
SELECT COALESCE(c_custkey, user_id) AS id,
       CASE WHEN user_id IS NOT NULL THEN NULL ELSE c_name END AS name,
       CASE WHEN user_id IS NOT NULL THEN value ELSE c_acctbal END AS bal
FROM customer FULL JOIN w ON c_custkey = user_id
WHERE user_id IS NULL OR NOT is_delete
"""


# --------------------------------------------------------------------- A6
def apply_cas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAS on bal: the winning mutation applies only when its bal is
    strictly greater than the target's (conditional.tmpl action CTE)."""
    snap, _ = apply_mutations(
        _target(spark, sf_dir),
        _typed_muts(spark, sf_dir).filter(~F.col("__deleted")),
        ["id"],
        ApplyConfig(cas_columns=["bal"]),
        tie_breaker=["__tie"],
    )
    return snap


APPLY_CAS_SQL = f"""
WITH w AS (
  -- deletes are excluded from the stream *before* LWW (matching the
  -- Spark side, which drops them pre-dedup)
  SELECT user_id, value FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY user_id ORDER BY nanos DESC, logical DESC, event_id DESC) rn
    FROM ({MUT_SQL}) WHERE NOT is_delete
  ) WHERE rn = 1
)
SELECT COALESCE(c_custkey, user_id) AS id,
       CASE WHEN user_id IS NOT NULL AND (c_custkey IS NULL OR value > c_acctbal)
            THEN NULL ELSE c_name END AS name,
       CASE WHEN user_id IS NOT NULL AND (c_custkey IS NULL OR value > c_acctbal)
            THEN value ELSE c_acctbal END AS bal
FROM customer FULL JOIN w ON c_custkey = user_id
"""


# --------------------------------------------------------------------- A7
def apply_deadlines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deadline rule: mutations whose event time is older than 7 days
    before the frozen 'now' (2024-01-30) are rejected."""
    ev = _t(spark, sf_dir, "events")
    from cdc_sink_spark.operators.apply import apply_deadlines as dl

    cfg = ApplyConfig(deadlines={"ts": 7 * 86400})
    live, expired = dl(ev, cfg, "2024-01-30 00:00:00")
    return (
        live.select(F.lit("live").alias("status"), "event_id")
        .unionByName(expired.select(F.lit("expired").alias("status"), "event_id"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
    )


APPLY_DL_SQL = """
SELECT CASE WHEN epoch(ts) > epoch(TIMESTAMP '2024-01-30 00:00:00') - 604800
            THEN 'live' ELSE 'expired' END AS status,
       COUNT(*) AS n
FROM events GROUP BY 1
"""


# --------------------------------------------------------------------- A8
def apply_exprs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substitution expressions: ver-style rewrite value -> $0 * 2 + 1
    (exact decimal), then per-user sum."""
    m = _mutations(spark, sf_dir).withColumn("val_dec", F.col("value").cast("decimal(12,2)"))
    out = prepare_mutations(
        m,
        ["user_id", "val_dec"],
        ApplyConfig(exprs={"val_dec": "$0 * 2 + 1"}),
        meta_cols=("ts", "event_id", "value", "event_type", "is_delete"),
    )
    return out.groupBy("user_id").agg(
        F.sum("val_dec").cast("decimal(38,2)").cast("double").alias("sum_rewritten")
    )


APPLY_EXPRS_SQL = """
SELECT user_id,
  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2)) * 2 + 1) AS DECIMAL(38,2)) AS DOUBLE) AS sum_rewritten
FROM events GROUP BY user_id
"""


# --------------------------------------------------------------------- A9
def apply_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extras packing: unmapped source columns land in a JSON column."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.col("user_id").alias("uid"),
        F.lit(None).cast("struct<nanos:long,logical:int>").alias("__ts"),
        F.lit(False).alias("__deleted"),
    )
    out = prepare_mutations(ev, ["event_id", "extras"], ApplyConfig(extras="extras"))
    return out.select("event_id", "extras")


APPLY_EXTRAS_SQL = """
SELECT event_id, CAST(to_json(struct_pack(event_type := event_type, uid := user_id)) AS VARCHAR) AS extras
FROM events
"""


# -------------------------------------------------------------------- A10
def apply_ignore_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumns(
        {"__ts": F.lit(None).cast("struct<nanos:long,logical:int>"), "__deleted": F.lit(False)}
    )
    out = prepare_mutations(
        ev,
        ["event_id", "kind", "amount"],
        ApplyConfig(ignore=["props", "ts"], source_names={"kind": "event_type", "amount": "value"}),
    )
    return out.select("event_id", "kind", "amount", "user_id")


APPLY_IR_SQL = """
SELECT event_id, event_type AS kind, value AS amount, user_id FROM events
"""


# -------------------------------------------------------------------- A11
def merge_three_way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-way merge over synthesized conflicts on orders:
    target changed when orderkey%5=0; proposed changed when orderkey%3!=0.
    Both changed differently -> DLQ (conflicted=true, target kept)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 5)
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
        F.col("o_totalprice").alias("before_price"),
        F.when(F.col("o_orderkey") % 3 != 0, F.col("o_totalprice") + 10)
        .otherwise(F.col("o_totalprice"))
        .alias("proposed_price"),
    )
    resolved, dlq = merge_op.merge_standard(o, ["o_orderkey"], ["price"])
    return resolved.withColumn("conflicted", F.lit(False)).unionByName(
        dlq.drop("unmerged").withColumn("conflicted", F.lit(True))
    )


MERGE_SQL = """
SELECT o_orderkey,
  CASE
    WHEN o_orderkey % 3 = 0 THEN  -- proposed unchanged: keep target
      CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 5 ELSE o_totalprice END
    WHEN o_orderkey % 5 <> 0 THEN o_totalprice + 10  -- safe: target==before
    ELSE o_totalprice + 5  -- conflict: keep target
  END AS price,
  (o_orderkey % 3 <> 0 AND o_orderkey % 5 = 0) AS conflicted
FROM orders
"""


def merge_three_way_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """merge_three_way with a user-supplied conflict rule (the scripted
    merger hook — reference internal/script/script.go:639-666 bindMerge
    exports a JS function as a merge.Merger; loader.go:368 wires it as
    the standard logic's fallback). The same conflicts as
    merge_three_way, but `price` carries a delta-sum rule — an additive
    balance where BOTH sides' changes survive: target + (proposed -
    before). All three images are non-NULL here, so the rule resolves
    every conflict (a NULL rule output would DECLINE to the DLQ) and the
    DLQ is empty by construction — asserted, so a regression that leaks
    rule-covered conflicts to the DLQ fails loudly instead of silently
    shrinking the result."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 5)
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
        F.col("o_totalprice").alias("before_price"),
        F.when(F.col("o_orderkey") % 3 != 0, F.col("o_totalprice") + 10)
        .otherwise(F.col("o_totalprice"))
        .alias("proposed_price"),
    )
    resolved, dlq = merge_op.merge_standard(
        o, ["o_orderkey"], ["price"], fallback={"price": merge_op.rule_sum_deltas}
    )
    if not dlq.isEmpty():
        raise AssertionError(
            "delta-sum rule over non-NULL images must resolve every conflict"
        )
    return resolved.withColumn(
        "rule_resolved", (F.col("o_orderkey") % 3 != 0) & (F.col("o_orderkey") % 5 == 0)
    )


# The conflict branch mirrors the ENGINE's float expression shape —
# (target) + ((proposed) - (before)), not a pre-folded +15 — so both
# engines execute the same IEEE op sequence and compare bit-exact.
MERGE_FALLBACK_SQL = """
SELECT o_orderkey,
  CASE
    WHEN o_orderkey % 3 = 0 THEN  -- proposed unchanged: keep target
      CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 5 ELSE o_totalprice END
    WHEN o_orderkey % 5 <> 0 THEN o_totalprice + 10  -- safe: target==before
    ELSE (o_totalprice + 5) + ((o_totalprice + 10) - o_totalprice)  -- delta-sum rule
  END AS price,
  (o_orderkey % 3 <> 0 AND o_orderkey % 5 = 0) AS rule_resolved
FROM orders
"""


# -------------------------------------------------------------------- A12
def stage_filter_applied(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FilterApplied anti-join: the applied ledger holds even event_ids;
    only odd ones remain staged."""
    m = _mutations(spark, sf_dir)
    applied = m.filter(F.col("event_id") % 2 == 0).select(
        F.col("user_id").alias("a_user_id"), F.col("ts").alias("a_ts")
    )
    remaining = m.join(
        applied,
        (m.user_id == F.col("a_user_id")) & (m.ts == F.col("a_ts")),
        "left_anti",
    )
    return remaining.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_staged"))


STAGE_FA_SQL = f"""
WITH m AS ({MUT_SQL})
SELECT user_id, COUNT(*) AS n_staged FROM m
WHERE NOT EXISTS (
  SELECT 1 FROM m a
  WHERE a.event_id % 2 = 0 AND a.user_id = m.user_id
    AND a.nanos = m.nanos AND a.logical = m.logical)
GROUP BY user_id
"""


# -------------------------------------------------------------------- A13
def stage_retire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retire: drop mutations at/below the resolved horizon."""
    m = _mutations(spark, sf_dir)
    horizon = 1705276800 * 1_000_000_000  # 2024-01-15T00:00Z in nanos
    kept = sequencer.retire_horizon(
        m.withColumn("n", F.col("ts.nanos")), horizon, ts_col="n"
    )
    return kept.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_kept"))


STAGE_RETIRE_SQL = f"""
WITH m AS ({MUT_SQL})
SELECT user_id, COUNT(*) AS n_kept FROM m
WHERE nanos > 1705276800000000000 GROUP BY user_id
"""


# -------------------------------------------------------------------- A14
def checkpoint_resolved_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Committable frontier: max resolved ts and min unapplied ts."""
    from cdc_sink_spark.operators.staging import resolved_frontier

    m = _mutations(spark, sf_dir)
    staged = m.filter(F.col("event_id") % 10 == 3).select("ts")
    resolved = m.filter(F.col("event_id") % 10 == 7).select("ts")
    out = resolved_frontier(staged, resolved)
    return out.select(
        F.col("max_resolved.nanos").alias("max_resolved_nanos"),
        F.col("min_unapplied.nanos").alias("min_unapplied_nanos"),
    )


CHECKPOINT_SQL = f"""
WITH m AS ({MUT_SQL})
SELECT
  (SELECT MAX(nanos) FROM m WHERE event_id % 10 = 7) AS max_resolved_nanos,
  (SELECT MIN(nanos) FROM m WHERE event_id % 10 = 3) AS min_unapplied_nanos
"""


# -------------------------------------------------------------------- A15
def seq_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Immediate sequencer == one batch apply (same output as A5, going
    through the sequencer entry point)."""
    snap, _ = sequencer.seq_immediate(
        _target(spark, sf_dir), _typed_muts(spark, sf_dir), ["id"], tie_breaker=["__tie"]
    )
    return snap


# -------------------------------------------------------------------- A16
def seq_serial_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serial sequencer: two resolved frontiers (Jan 11 / Jan 21);
    mutations beyond the last frontier stay parked, so the snapshot
    reflects only mutations with ts <= Jan 21."""
    snap, pending = sequencer.seq_serial(
        _target(spark, sf_dir),
        _typed_muts(spark, sf_dir),
        [(1704931200 * 1_000_000_000, 0), (1705795200 * 1_000_000_000, 0)],
        ["id"],
        tie_breaker=["__tie"],
    )
    return snap


SEQ_SERIAL_SQL = """
WITH m AS (
  SELECT user_id, value, (event_type = 'error') AS is_delete,
         epoch_us(ts) * 1000 AS nanos, CAST(event_id % 4 AS INTEGER) AS logical, event_id
  FROM events WHERE epoch_us(ts) * 1000 <= 1705795200000000000
), w AS (
  SELECT user_id, value, is_delete FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY user_id ORDER BY nanos DESC, logical DESC, event_id DESC) rn
    FROM m
  ) WHERE rn = 1
)
SELECT COALESCE(c_custkey, user_id) AS id,
       CASE WHEN user_id IS NOT NULL THEN NULL ELSE c_name END AS name,
       CASE WHEN user_id IS NOT NULL THEN value ELSE c_acctbal END AS bal
FROM customer FULL JOIN w ON c_custkey = user_id
WHERE user_id IS NULL OR NOT is_delete
"""


# -------------------------------------------------------------------- A17
def seq_besteffort_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-effort: mutations whose key has no parent row (custkey <= 100)
    are parked for retry/DLQ; the rest apply."""
    parent = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 100)
    snap, parked = sequencer.seq_besteffort(
        _target(spark, sf_dir).filter(F.col("id") <= 100),
        _typed_muts(spark, sf_dir),
        ["id"],
        fk_parent=parent,
        fk_cols={"id": "c_custkey"},
        tie_breaker=["__tie"],
    )
    return spark.createDataFrame(
        [("applied", snap.count()), ("parked", parked.count())], "bucket string, n long"
    )


SEQ_BE_SQL = """
WITH w AS (
  SELECT user_id, value, is_delete FROM (
    SELECT user_id, value, (event_type = 'error') AS is_delete,
           ROW_NUMBER() OVER (PARTITION BY user_id
             ORDER BY epoch_us(ts)*1000 DESC, CAST(event_id % 4 AS INTEGER) DESC, event_id DESC) rn
    FROM events WHERE user_id <= 100
  ) WHERE rn = 1
)
SELECT 'applied' AS bucket, COUNT(*) AS n FROM (
  SELECT COALESCE(c_custkey, user_id) id FROM
    (SELECT * FROM customer WHERE c_custkey <= 100) c
    FULL JOIN w ON c_custkey = user_id
  WHERE user_id IS NULL OR NOT is_delete)
UNION ALL
SELECT 'parked', COUNT(*) FROM events WHERE user_id > 100
"""


# -------------------------------------------------------------------- A18
def scheduler_key_disjoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _mutations(spark, sf_dir)
    out = sequencer.scheduler_key_order(
        m.withColumn("ord", F.struct(F.col("ts.nanos"), F.col("ts.logical"), F.col("event_id"))),
        ["user_id"],
        "ord",
    )
    return out.select("user_id", "event_id", "apply_seq")


SCHED_SQL = f"""
WITH m AS ({MUT_SQL})
SELECT user_id, event_id,
  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY nanos, logical, event_id) AS INTEGER) AS apply_seq
FROM m
"""


# -------------------------------------------------------------------- A19
def script_map_filter_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    flt = script.script_filter(ev, F.col("value") > 5)
    mapped = script.script_map(
        flt, {"value2": (F.col("value").cast("decimal(12,2)") * 2)}
    )
    routes = script.script_dispatch(mapped, F.col("event_type"), ["click", "view", "purchase"])
    parts = [
        d.groupBy().agg(
            F.lit(r).alias("route"),
            F.count(F.lit(1)).alias("n"),
            F.sum("value2").cast("decimal(38,2)").cast("double").alias("sum_value2"),
        )
        for r, d in routes.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # A global agg emits one row even for an EMPTY route; the oracle's
    # GROUP BY emits none — drop the phantom so both agree when a route
    # has no rows at some SF.
    return out.filter(F.col("n") > 0)


SCRIPT_SQL = """
SELECT event_type AS route, COUNT(*) AS n,
  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2)) * 2) AS DECIMAL(38,2)) AS DOUBLE) AS sum_value2
FROM events
WHERE value > 5 AND event_type IN ('click','view','purchase')
GROUP BY event_type
"""


# -------------------------------------------------------------------- A20
def conveyor_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse -> dedup -> apply composed as one plan (internal/conveyor):
    render ndjson, parse through cdcjson, apply onto the customer-derived
    target, then aggregate the final snapshot."""
    m = _mutations(spark, sf_dir)
    line = F.concat(
        F.lit('{"after":'),
        F.when(F.col("is_delete"), F.lit("null")).otherwise(
            F.concat(
                F.lit('{"id":'),
                F.col("user_id").cast("string"),
                F.lit(',"bal":'),
                F.col("value").cast("decimal(12,2)").cast("string"),
                F.lit(',"tie":'),
                F.col("event_id").cast("string"),
                F.lit("}"),
            )
        ),
        F.lit(',"updated":"'),
        format_hlc("ts"),
        F.lit('","key":['),
        F.col("user_id").cast("string"),
        F.lit("]}"),
    )
    lines = m.select(line.alias("value")).transform(_spread)
    typed = cdcjson.typed_mutations(lines, "id bigint, bal double, tie bigint", ["id"])
    snap, _ = apply_mutations(
        _target(spark, sf_dir),
        typed.withColumnRenamed("tie", "__tie"),
        ["id"],
        tie_breaker=["__tie"],
    )
    return snap.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("bal").cast("decimal(12,2)")).cast("decimal(38,2)").cast("double").alias("sum_bal"),
    )


# The oracle performs the SAME ndjson render -> parse round-trip the
# Spark plan does (the previous oracle short-circuited straight to the
# source columns, understating the baseline's work by the entire parse
# stage — the whole point of the conveyor is parse+apply).
CONVEYOR_SQL = f"""
WITH m AS ({MUT_SQL}),
lines AS (
  SELECT '{{"after":' ||
    CASE WHEN is_delete THEN 'null'
         ELSE '{{"id":' || user_id || ',"bal":' || CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR)
              || ',"tie":' || event_id || '}}'
    END
    || ',"updated":"' || nanos || '.' || lpad(CAST(logical AS VARCHAR), 10, '0')
    || '","key":[' || user_id || ']}}' AS line
  FROM m
),
parsed AS (
  SELECT COALESCE(CAST(json_extract(line, '$.after.id') AS BIGINT),
                  CAST(json_extract(line, '$.key[0]') AS BIGINT)) AS id,
         CAST(json_extract(line, '$.after.bal') AS DOUBLE) AS bal,
         CAST(json_extract(line, '$.after.tie') AS BIGINT) AS tie,
         CAST(split_part(json_extract_string(line, '$.updated'), '.', 1) AS BIGINT) AS nanos,
         CAST(split_part(json_extract_string(line, '$.updated'), '.', 2) AS INTEGER) AS logical,
         json_extract_string(line, '$.after') IS NULL AS is_delete
  FROM lines
),
w AS (
  SELECT id, bal, is_delete FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY id ORDER BY nanos DESC, logical DESC, tie DESC NULLS LAST) rn
    FROM parsed
  ) WHERE rn = 1
)
SELECT COUNT(*) AS n_rows,
  CAST(CAST(SUM(CAST(bal2 AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_bal
FROM (
  SELECT CASE WHEN w.id IS NOT NULL THEN w.bal ELSE c.c_acctbal END AS bal2
  FROM customer c FULL JOIN w ON c.c_custkey = w.id
  WHERE w.id IS NULL OR NOT w.is_delete
)
"""


# -------------------------------------------------------------------- A22
def webhook_parse_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Webhook-envelope ingest parse (source/cdc webhook.go): render the
    envelope JSON from events, parse it back through
    ``parse_webhook_envelope`` (explode + from_json, all JVM-side), and
    aggregate — proving the webhook head's parse stage against an
    independent SQL construction."""
    from cdc_sink_spark.sources.webhook import parse_webhook_envelope

    m = _mutations(spark, sf_dir)
    mut_line = F.concat(
        F.lit('{"payload":[{"topic":"events","key":"['),
        F.col("event_id").cast("string"),
        F.lit(']","after":'),
        F.when(F.col("is_delete"), F.lit("null")).otherwise(
            F.concat(
                F.lit('{"v":'),
                F.col("value").cast("decimal(12,2)").cast("string"),
                F.lit("}"),
            )
        ),
        F.lit(',"updated":"'),
        format_hlc("ts"),
        F.lit('"}],"length":1}'),
    )
    res_line = F.concat(
        F.lit('{"resolved":"'),
        F.max(F.col("ts.nanos")).cast("string"),
        F.lit('.0000000000"}'),
    )
    lines = m.select(mut_line.alias("value")).unionByName(
        m.groupBy("user_id").agg(res_line.alias("value")).select("value")
    )
    out = parse_webhook_envelope(lines)
    return out.agg(
        F.count("ts").alias("n_muts"),
        F.count(F.when(F.col("ts").isNotNull() & F.col("data").isNull(), 1)).alias(
            "n_deletes"
        ),
        F.max(F.col("ts.nanos")).alias("max_nanos"),
        F.count("resolved_str").alias("n_resolved"),
    )


WEBHOOK_SQL = f"""
WITH m AS ({MUT_SQL}),
lines AS (
  SELECT '{{"payload":[{{"topic":"events","key":"[' || event_id || ']","after":' ||
    CASE WHEN is_delete THEN 'null'
         ELSE '{{"v":' || CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR) || '}}' END ||
    ',"updated":"' || nanos || '.' || lpad(CAST(logical AS VARCHAR), 10, '0') ||
    '"}}],"length":1}}' AS line
  FROM m
  UNION ALL
  SELECT '{{"resolved":"' || CAST(MAX(nanos) AS VARCHAR) || '.0000000000"}}'
  FROM m GROUP BY user_id
),
parsed AS (
  SELECT json_extract_string(line, '$.payload[0].updated') AS upd,
         json_extract_string(line, '$.payload[0].after') AS after,
         json_extract_string(line, '$.resolved') AS res
  FROM lines
)
SELECT COUNT(upd) AS n_muts,
       COUNT(CASE WHEN upd IS NOT NULL AND after IS NULL THEN 1 END) AS n_deletes,
       MAX(CASE WHEN upd IS NOT NULL
                THEN CAST(split_part(upd, '.', 1) AS BIGINT) END) AS max_nanos,
       COUNT(res) AS n_resolved
FROM parsed
"""


# -------------------------------------------------------------------- A26
def multi_table_temporal_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MultiBatch semantics (types/batches.go:91): per-table work applied
    under ONE shared resolved frontier, so cross-table state is
    transactionally aligned — at the frontier both tables reflect
    exactly the mutations at-or-below it, later mutations stay pending
    on both. The stream splits into two 'tables' by event parity; each
    applies via the serial sequencer against the same frontier."""
    m = _mutations(spark, sf_dir)
    # frontier logical = 3 (the max the stream produces), so the HLC
    # tuple compare degenerates to nanos <= f on both engines exactly.
    resolved = [(1705276800 * 1_000_000_000, 3)]

    def one(table_mod: int, name: str) -> DataFrame:
        muts = (
            m.filter(F.col("event_id") % 2 == table_mod)
            .select(
                F.col("user_id").alias("id"),
                F.col("value").alias("bal"),
                F.col("ts").alias("__ts"),
                F.col("event_id").alias("__tie"),
                F.col("is_delete").alias("__deleted"),
            )
        )
        target = spark.createDataFrame([], "id bigint, bal double")
        snap, pending = sequencer.seq_serial(
            target, muts, resolved, ["id"], ts_col="__ts",
            tie_breaker=["__tie"],
        )
        return snap.agg(
            F.lit(name).alias("src_table"),
            F.count(F.lit(1)).alias("n_keys"),
        ).crossJoin(
            F.broadcast(pending.agg(F.count(F.lit(1)).alias("n_pending")))
        )

    return one(0, "t_even").unionByName(one(1, "t_odd"))


MULTIBATCH_SQL = f"""
WITH m AS ({MUT_SQL}),
frontier AS (SELECT CAST(1705276800000000000 AS BIGINT) AS f),
w AS (
  SELECT par, user_id, is_delete FROM (
    SELECT CAST(event_id % 2 AS INTEGER) AS par, user_id, is_delete,
      ROW_NUMBER() OVER (PARTITION BY event_id % 2, user_id
        ORDER BY nanos DESC, logical DESC, event_id DESC) rn
    FROM m, frontier WHERE nanos <= f
  ) WHERE rn = 1
)
SELECT 't_even' AS src_table,
  CAST((SELECT COUNT(*) FROM w WHERE par = 0 AND NOT is_delete) AS BIGINT) AS n_keys,
  CAST((SELECT COUNT(*) FROM m, frontier
        WHERE event_id % 2 = 0 AND nanos > f) AS BIGINT) AS n_pending
UNION ALL
SELECT 't_odd',
  CAST((SELECT COUNT(*) FROM w WHERE par = 1 AND NOT is_delete) AS BIGINT),
  CAST((SELECT COUNT(*) FROM m, frontier
        WHERE event_id % 2 = 1 AND nanos > f) AS BIGINT)
"""


# -------------------------------------------------------------------- A25
def dlq_replay_cas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DLQ replay loop (internal/target/dlq): CAS-apply rejects the
    losers into the DLQ payload shape (to_json pack -> from_json unpack,
    the dlq.enqueue/replayable transform), the operator force-replays
    them, and the final snapshot must equal the unconditional apply —
    the convergence invariant the reference's replay tooling relies on.
    The oracle is the plain apply, so the gate checks that the whole
    reject -> pack -> unpack -> semi-join -> re-apply loop loses
    nothing."""
    target = _target(spark, sf_dir)
    muts = _typed_muts(spark, sf_dir).filter(~F.col("__deleted"))
    snap1, rejected = apply_mutations(
        target, muts, ["id"], ApplyConfig(cas_columns=["bal"]), tie_breaker=["__tie"]
    )
    payload = rejected.select(
        F.to_json(
            F.struct(F.col("id"), F.col("__rej_ts").alias("ts"), F.col("__reason"))
        ).alias("payload")
    )
    keys = payload.select(
        F.from_json(
            "payload", "id bigint, ts struct<nanos:long,logical:int>, __reason string"
        ).alias("p")
    ).select(F.col("p.id").alias("__r_id"), F.col("p.ts").alias("__r_ts"))
    replay = muts.join(
        keys,
        (muts["id"] == F.col("__r_id")) & (muts["__ts"] == F.col("__r_ts")),
        "left_semi",
    )
    snap2, _ = apply_mutations(snap1, replay, ["id"], None, tie_breaker=["__tie"])
    return snap2.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("bal").cast("decimal(12,2)")).cast("decimal(38,2)").cast("double").alias("sum_bal"),
    )


DLQ_REPLAY_SQL = f"""
WITH m AS ({MUT_SQL}),
w AS (
  SELECT user_id, value FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY user_id ORDER BY nanos DESC, logical DESC, event_id DESC) rn
    FROM m WHERE NOT is_delete
  ) WHERE rn = 1
)
SELECT COUNT(*) AS n_rows,
  CAST(CAST(SUM(CAST(bal AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_bal
FROM (
  SELECT CASE WHEN user_id IS NOT NULL THEN value ELSE c_acctbal END AS bal
  FROM customer FULL JOIN w ON c_custkey = user_id
)
"""


QUERIES = {
    "hlc_order": hlc_order,
    "cdc_parse_ndjson": cdc_parse_ndjson,
    "mutation_dedup_last_wins": mutation_dedup_last_wins,
    "mutation_dedup_time_key": mutation_dedup_time_key,
    "apply_upsert_delete": apply_upsert_delete,
    "apply_cas": apply_cas,
    "apply_deadlines": apply_deadlines,
    "apply_exprs": apply_exprs,
    "apply_extras": apply_extras,
    "apply_ignore_rename": apply_ignore_rename,
    "merge_three_way": merge_three_way,
    "merge_three_way_fallback": merge_three_way_fallback,
    "stage_filter_applied": stage_filter_applied,
    "stage_retire": stage_retire,
    "checkpoint_resolved_window": checkpoint_resolved_window,
    "seq_immediate": seq_immediate,
    "seq_serial_batch": seq_serial_batch,
    "seq_besteffort_dlq": seq_besteffort_dlq,
    "scheduler_key_disjoint": scheduler_key_disjoint,
    "script_map_filter_dispatch": script_map_filter_dispatch,
    "conveyor_end_to_end": conveyor_end_to_end,
    "webhook_parse_envelope": webhook_parse_envelope,
    "dlq_replay_cas": dlq_replay_cas,
    "multi_table_temporal_batch": multi_table_temporal_batch,
}

ORACLES = {
    "hlc_order": HLC_ORDER_SQL,
    "cdc_parse_ndjson": CDC_PARSE_SQL,
    "mutation_dedup_last_wins": DEDUP_LWW_SQL,
    "mutation_dedup_time_key": DEDUP_TK_SQL,
    "apply_upsert_delete": APPLY_UD_SQL,
    "apply_cas": APPLY_CAS_SQL,
    "apply_deadlines": APPLY_DL_SQL,
    "apply_exprs": APPLY_EXPRS_SQL,
    "apply_extras": APPLY_EXTRAS_SQL,
    "apply_ignore_rename": APPLY_IR_SQL,
    "merge_three_way": MERGE_SQL,
    "merge_three_way_fallback": MERGE_FALLBACK_SQL,
    "stage_filter_applied": STAGE_FA_SQL,
    "stage_retire": STAGE_RETIRE_SQL,
    "checkpoint_resolved_window": CHECKPOINT_SQL,
    "seq_immediate": APPLY_UD_SQL,
    "seq_serial_batch": SEQ_SERIAL_SQL,
    "seq_besteffort_dlq": SEQ_BE_SQL,
    "scheduler_key_disjoint": SCHED_SQL,
    "script_map_filter_dispatch": SCRIPT_SQL,
    "conveyor_end_to_end": CONVEYOR_SQL,
    "webhook_parse_envelope": WEBHOOK_SQL,
    "dlq_replay_cas": DLQ_REPLAY_SQL,
    "multi_table_temporal_batch": MULTIBATCH_SQL,
}


# -------------------------------------------------------------------- A23
def apply_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """History-preserving apply (SCD-2) through operators.apply.apply_scd2:
    (time,key)-dedup first (msort.UniqueByTimeKey — HLC ties would
    otherwise create zero-width intervals), then validity intervals
    carrying the full HLC (nanos + logical) closed by lead()."""
    from cdc_sink_spark.operators.apply import apply_scd2

    m = _mutations(spark, sf_dir).select(
        "user_id",
        "event_id",
        "value",
        F.col("ts").alias("__ts"),
        F.col("is_delete").alias("__deleted"),
    )
    # deterministic (time,key) survivor for the oracle: min event_id
    m = msort.unique_by_key(
        m.withColumn("__neg", -F.col("event_id")),
        ["user_id", "__ts"],
        "__ts",
        tie_breaker=["__neg"],
    ).drop("__neg")
    hist = apply_scd2(m, ["user_id"], tie_breaker=["event_id"])
    return hist.select(
        "user_id",
        F.col("event_id").alias("version_id"),
        "value",
        "valid_from_nanos",
        "valid_from_logical",
        "valid_to_nanos",
        "valid_to_logical",
    )


SCD2_SQL = f"""
WITH m AS ({MUT_SQL}),
dd AS (
  SELECT user_id, event_id, value, nanos, logical, is_delete FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY user_id, nanos, logical ORDER BY event_id) rn
    FROM m
  ) WHERE rn = 1
)
SELECT user_id, event_id AS version_id, value,
       nanos AS valid_from_nanos, logical AS valid_from_logical,
       valid_to_nanos, valid_to_logical
FROM (
  SELECT *,
    LEAD(nanos) OVER (PARTITION BY user_id ORDER BY nanos, logical, event_id) AS valid_to_nanos,
    LEAD(logical) OVER (PARTITION BY user_id ORDER BY nanos, logical, event_id) AS valid_to_logical
  FROM dd
)
WHERE NOT is_delete
"""

QUERIES["apply_scd2_history"] = apply_scd2_history
ORACLES["apply_scd2_history"] = SCD2_SQL


# -------------------------------------------------------------------- A24
SNAPSHOT_T = 1705276800 * 1_000_000_000  # 2024-01-15T00:00Z


def snapshot_at_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: reconstruct the table state as of T from the SCD-2
    history — version live at T iff (valid_from <= T < valid_to) with
    full-HLC tuple compares and open intervals counting as infinity.
    Proves the history table answers as-of queries, the point of
    keeping it."""
    hist = apply_scd2_history(spark, sf_dir)
    t = F.struct(F.lit(SNAPSHOT_T).alias("nanos"), F.lit(0).cast("int").alias("logical"))
    vf = F.struct(F.col("valid_from_nanos").alias("nanos"), F.col("valid_from_logical").alias("logical"))
    vt = F.struct(F.col("valid_to_nanos").alias("nanos"), F.col("valid_to_logical").alias("logical"))
    live = (vf <= t) & (F.col("valid_to_nanos").isNull() | (t < vt))
    return hist.filter(live).select("user_id", "version_id", "value")


SNAPSHOT_SQL = f"""
WITH hist AS ({{scd2}})
SELECT user_id, version_id, value FROM hist
WHERE (valid_from_nanos, valid_from_logical) <= ({SNAPSHOT_T}, 0)
  AND (valid_to_nanos IS NULL
       OR ({SNAPSHOT_T}, 0) < (valid_to_nanos, valid_to_logical))
""".format(scd2=SCD2_SQL)

QUERIES["snapshot_at_time"] = snapshot_at_time
ORACLES["snapshot_at_time"] = SNAPSHOT_SQL


# -------------------------------------------------------------------- A27
EVOLVE_CUT = 1705276800 * 1_000_000_000  # 2024-01-15T00:00Z: feed adds `etype`


def apply_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution mid-stream (schemawatch coldata.go:33 +
    target/apply re-plan): mutations before the cut carry (id, bal);
    after the cut the feed adds an `etype` column. The second batch
    re-plans the column mapping (operators/schemawatch.replan_columns),
    widens the target with a NULL backfill, and keeps applying — no
    restart. Final snapshot: rows last touched by the old format have
    etype NULL; rows the new format won carry it."""
    from cdc_sink_spark.operators.schemawatch import replan_columns

    m = _mutations(spark, sf_dir)
    base = m.select(
        F.col("user_id").alias("id"),
        F.col("value").alias("bal"),
        F.col("event_type").alias("etype"),
        F.col("ts").alias("__ts"),
        F.col("event_id").alias("__tie"),
        F.col("is_delete").alias("__deleted"),
    )
    old = base.filter(F.col("__ts.nanos") <= EVOLVE_CUT).drop("etype")
    new = base.filter(F.col("__ts.nanos") > EVOLVE_CUT)
    target0 = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_acctbal").alias("bal")
    )
    snap1, _ = apply_mutations(target0, old, ["id"], tie_breaker=["__tie"])
    widened, report = replan_columns(snap1, new, ["id"])
    if report["added"] != ["etype"] or report["dropped"]:
        raise AssertionError(f"unexpected drift report: {report}")
    snap2, _ = apply_mutations(widened, new, ["id"], tie_breaker=["__tie"])
    return snap2


# Every post-cut mutation outranks every pre-cut one (nanos ordering),
# so sequential apply == global LWW with etype visible only on post-cut
# winners — which is exactly the NULL-before-the-column-existed shape.
EVOLVE_SQL = f"""
WITH m AS (
  SELECT user_id, value,
         CASE WHEN epoch_us(ts) * 1000 > {EVOLVE_CUT} THEN event_type END AS etype,
         (event_type = 'error') AS is_delete,
         epoch_us(ts) * 1000 AS nanos, CAST(event_id % 4 AS INTEGER) AS logical, event_id
  FROM events
), w AS (
  SELECT user_id, value, etype, is_delete FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY user_id ORDER BY nanos DESC, logical DESC, event_id DESC) rn
    FROM m
  ) WHERE rn = 1
)
SELECT COALESCE(c_custkey, user_id) AS id,
       CASE WHEN user_id IS NOT NULL THEN value ELSE c_acctbal END AS bal,
       CASE WHEN user_id IS NOT NULL THEN etype END AS etype
FROM customer FULL JOIN w ON c_custkey = user_id
WHERE user_id IS NULL OR NOT is_delete
"""

QUERIES["apply_schema_evolution"] = apply_schema_evolution
ORACLES["apply_schema_evolution"] = EVOLVE_SQL


# -------------------------------------------------------------------- A28
# Objstore scan cutoffs (cloud-sink lexicographic finalization): three
# RESOLVED markers; the tail past the last marker must NOT apply.
OBJSTORE_CUTS = [
    1704672000 * 1_000_000_000,  # 2024-01-08
    1705363200 * 1_000_000_000,  # 2024-01-16
    1706054400 * 1_000_000_000,  # 2024-01-24
]


def objstore_scan_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Object-store source end-to-end (internal/source/objstore/conn.go):
    render the mutation feed as lexicographically-named ndjson files
    with interleaved .RESOLVED markers (the cloud-storage sink's
    finalization guarantee), scan ranges under a singleton lease, apply
    each range as one distributed batch, and commit progress per range.
    Mutations past the LAST resolved marker sit in the bucket but are
    not finalized — the snapshot must exclude them, which is exactly
    what the oracle checks."""
    import json as _json
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from cdc_sink_spark.operators.leases import LeaseStore
    from cdc_sink_spark.operators.memo import Memo
    from cdc_sink_spark.sources import objstore

    m = _mutations(spark, sf_dir)
    line = F.concat(
        F.lit('{"after":'),
        F.when(F.col("is_delete"), F.lit("null")).otherwise(
            F.concat(
                F.lit('{"id":'), F.col("user_id").cast("string"),
                F.lit(',"bal":'), F.col("value").cast("string"),
                F.lit(',"tie":'), F.col("event_id").cast("string"),
                F.lit("}"),
            )
        ),
        F.lit(',"updated":"'), format_hlc("ts"),
        F.lit('","key":['), F.col("user_id").cast("string"), F.lit("]}"),
    )
    root = _tempfile.mkdtemp(prefix="objstore-")
    bounds = [0, *OBJSTORE_CUTS, 1 << 62]
    # Render the feed lines ONCE (r14, VERDICT item 5): the previous
    # per-range renders re-ran the scan -> HLC-format -> JSON-concat
    # lineage four times (once per range filter). The checkpoint is
    # EAGER deliberately — r13's rejected attempt was lazy, so the
    # whole render materialized inside the FIRST range's coalesce(1),
    # i.e. on one task; eager=True materializes it across the scan's
    # full parallelism, and each range write then just filters cached
    # (nanos, value) rows. The per-range file layout, RESOLVED markers
    # and commit/lease lifecycle below are unchanged.
    rendered = m.select(
        F.col("ts.nanos").alias("__nanos"), line.alias("value")
    ).localCheckpoint(eager=True)
    for i in range(len(bounds) - 1):
        lo, hi = bounds[i], bounds[i + 1]
        part = rendered.filter((F.col("__nanos") > lo) & (F.col("__nanos") <= hi))
        tmp = _os.path.join(root, f".render{i}")
        part.select("value").coalesce(1).write.mode("overwrite").text(tmp)
        src = next(f for f in _os.listdir(tmp) if f.startswith("part-"))
        _shutil.move(_os.path.join(tmp, src), _os.path.join(root, f"{i:03d}-data.ndjson"))
        _shutil.rmtree(tmp)
        if i < len(OBJSTORE_CUTS):  # the tail range has no RESOLVED marker
            with open(_os.path.join(root, f"{i:03d}-zz.RESOLVED"), "w") as fh:
                fh.write(_json.dumps({"resolved": f"{hi}.0000000000"}) + "\n")
    release_checkpoint(rendered)

    state = {"snap": _target(spark, sf_dir), "frontier": None}

    def apply_batch(typed, hlc):
        if typed is not None:
            snap, _ = apply_mutations(
                state["snap"], typed.withColumnRenamed("tie", "__tie"),
                ["id"], tie_breaker=["__tie"],
            )
            state["snap"] = snap.localCheckpoint(eager=True)
        state["frontier"] = hlc

    workdir = _tempfile.mkdtemp(prefix="objstore-state-")
    memo = Memo(spark, _os.path.join(workdir, "memo"))
    leases = LeaseStore(_os.path.join(workdir, "leases"))
    n = objstore.scan_apply(
        spark, root, memo, apply_batch, "id bigint, bal double, tie bigint",
        ["id"], leases=leases,
    )
    if n != len(OBJSTORE_CUTS) or state["frontier"] != (OBJSTORE_CUTS[-1], 0):
        raise AssertionError(f"expected {len(OBJSTORE_CUTS)} ranges, got {n}, {state['frontier']}")
    if objstore.get_last(memo, "objstore") != "002-zz.RESOLVED":
        raise AssertionError("progress not committed")
    # A second scan finds nothing new (progress held in the memo).
    if objstore.scan_apply(
        spark, root, memo, apply_batch, "id bigint, bal double, tie bigint",
        ["id"], leases=leases,
    ) != 0:
        raise AssertionError("rescan must be a no-op")
    return state["snap"]


OBJSTORE_SQL = f"""
WITH m AS (
  SELECT user_id, value, (event_type = 'error') AS is_delete,
         epoch_us(ts) * 1000 AS nanos, CAST(event_id % 4 AS INTEGER) AS logical, event_id
  FROM events WHERE epoch_us(ts) * 1000 <= {OBJSTORE_CUTS[-1]}
), w AS (
  SELECT user_id, value, is_delete FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY user_id ORDER BY nanos DESC, logical DESC, event_id DESC) rn
    FROM m
  ) WHERE rn = 1
)
SELECT COALESCE(c_custkey, user_id) AS id,
       CASE WHEN user_id IS NOT NULL THEN NULL ELSE c_name END AS name,
       CASE WHEN user_id IS NOT NULL THEN value ELSE c_acctbal END AS bal
FROM customer FULL JOIN w ON c_custkey = user_id
WHERE user_id IS NULL OR NOT is_delete
"""

QUERIES["objstore_scan_apply"] = objstore_scan_apply
ORACLES["objstore_scan_apply"] = OBJSTORE_SQL


# -------------------------------------------------------------------- A30
def snapshot_diff_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot differencing: given two table states, synthesize the
    minimal I/U/D mutation feed that transforms one into the other —
    the initial-sync/backfill reconciliation a replicator needs when a
    target diverged (the inverse of target/apply: apply(t0, diff) ==
    t1). One full-outer join on the key, null-safe column compares, no
    row survives that wouldn't change anything."""
    t0 = _target(spark, sf_dir)
    t1, _ = apply_mutations(
        t0, _typed_muts(spark, sf_dir), ["id"], tie_breaker=["__tie"]
    )
    a = t0.select(
        F.col("id").alias("k0"), F.col("name").alias("name0"), F.col("bal").alias("bal0")
    )
    b = t1.select(
        F.col("id").alias("k1"), F.col("name").alias("name1"), F.col("bal").alias("bal1")
    )
    j = a.join(b, a.k0 == b.k1, "full_outer")
    same = F.col("name0").eqNullSafe(F.col("name1")) & F.col("bal0").eqNullSafe(
        F.col("bal1")
    )
    op = (
        F.when(F.col("k0").isNull(), F.lit("I"))
        .when(F.col("k1").isNull(), F.lit("D"))
        .when(~same, F.lit("U"))
    )
    return (
        j.select(
            F.coalesce("k0", "k1").alias("id"),
            op.alias("op"),
            F.col("name1").alias("new_name"),
            F.col("bal1").alias("new_bal"),
        )
        .filter(F.col("op").isNotNull())
    )


SNAPSHOT_DIFF_SQL = f"""
WITH t1 AS ({APPLY_UD_SQL}),
j AS (
  SELECT c.c_custkey AS k0, c.c_name AS name0, c.c_acctbal AS bal0,
         t1.id AS k1, t1.name AS name1, t1.bal AS bal1
  FROM customer c FULL JOIN t1 ON c.c_custkey = t1.id
)
SELECT COALESCE(k0, k1) AS id,
       CASE WHEN k0 IS NULL THEN 'I'
            WHEN k1 IS NULL THEN 'D'
            WHEN NOT (name0 IS NOT DISTINCT FROM name1
                      AND bal0 IS NOT DISTINCT FROM bal1) THEN 'U'
       END AS op,
       name1 AS new_name, bal1 AS new_bal
FROM j
WHERE CASE WHEN k0 IS NULL THEN 'I'
           WHEN k1 IS NULL THEN 'D'
           WHEN NOT (name0 IS NOT DISTINCT FROM name1
                     AND bal0 IS NOT DISTINCT FROM bal1) THEN 'U'
      END IS NOT NULL
"""

QUERIES["snapshot_diff_feed"] = snapshot_diff_feed
ORACLES["snapshot_diff_feed"] = SNAPSHOT_DIFF_SQL


# -------------------------------------------------------------------- A31
def script_fanout_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table dispatch fan-out (internal/script/loader.go:56-64):
    one mutation may land in SEVERAL target tables —
    ``{doc} => {"target": [docs...], "otherTarget": [...]}`` — the
    replicate-into-main-plus-audit-table pattern. The router returns an
    ``array<string>`` of destinations; high-value events fan out to
    their type table AND the audit table; signup/error types route
    nowhere (dispatch returning an empty map drops the row)."""
    ev = _t(spark, sf_dir, "events")
    router = F.when(
        F.col("value") > 8, F.array(F.col("event_type"), F.lit("audit"))
    ).otherwise(F.array(F.col("event_type")))
    routes = script.script_dispatch_many(
        ev, router, ["click", "view", "purchase", "audit"]
    )
    parts = [
        d.groupBy().agg(
            F.lit(r).alias("route"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("decimal(38,2)")
            .cast("double")
            .alias("sum_value"),
        )
        for r, d in routes.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # Same phantom-row guard as A19: a global agg over an empty route
    # yields (route, 0, NULL); the oracle's GROUP BY yields nothing.
    return out.filter(F.col("n") > 0)


SCRIPT_FANOUT_SQL = """
WITH routed AS (
  SELECT event_type AS route, value FROM events
  UNION ALL
  SELECT 'audit' AS route, value FROM events WHERE value > 8
)
SELECT route, COUNT(*) AS n,
  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_value
FROM routed WHERE route IN ('click','view','purchase','audit')
GROUP BY route
"""

QUERIES["script_fanout_dispatch"] = script_fanout_dispatch
ORACLES["script_fanout_dispatch"] = SCRIPT_FANOUT_SQL


def script_deletes_to(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deletesTo routing (internal/script/script.go:51-54 ``DeletesTo``;
    loader.go:103 wires it as the delete-path dispatch target): DELETE
    mutations route to a tombstone/audit table while upserts go to the
    main table. The repo's dispatch router is an arbitrary Column, so
    the reference's dedicated config knob is one op-dependent expression
    — this entry pins the pattern end-to-end: per route, the row count,
    how many are deletes (tombstones must be ALL deletes, main NONE —
    the oracle compare enforces it value-exactly), and the value sum."""
    m = _mutations(spark, sf_dir)
    router = F.when(
        F.col("is_delete"), F.array(F.lit("tombstones"))
    ).otherwise(F.array(F.lit("main")))
    routes = script.script_dispatch_many(m, router, ["main", "tombstones"])
    parts = [
        d.groupBy().agg(
            F.lit(r).alias("route"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("is_delete").cast("long")).alias("n_deletes"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("decimal(38,2)")
            .cast("double")
            .alias("sum_value"),
        )
        for r, d in routes.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # Same phantom-row guard as the fan-out entry: empty route -> (r, 0,
    # NULL, NULL) from the global agg; the oracle's GROUP BY emits nothing.
    return out.filter(F.col("n") > 0)


SCRIPT_DELETES_TO_SQL = f"""
WITH m AS ({MUT_SQL})
SELECT CASE WHEN is_delete THEN 'tombstones' ELSE 'main' END AS route,
  COUNT(*) AS n,
  CAST(SUM(CAST(is_delete AS BIGINT)) AS BIGINT) AS n_deletes,
  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_value
FROM m
GROUP BY 1
"""

QUERIES["script_deletes_to"] = script_deletes_to
ORACLES["script_deletes_to"] = SCRIPT_DELETES_TO_SQL


# -------------------------------------------------------------------- A32
CHECKSUM_CHUNK_WIDTH = 256


def table_checksum_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunked table checksums for source/target divergence detection:
    per fixed-width primary-key range, (row count, key bounds, an
    order-independent sum of per-row hashes). Two sides compare chunk
    lists and re-sync only mismatched ranges — the checksum-based
    verification pattern replication operators run after a backfill,
    and the cheap complement to snapshot_diff_feed (which needs both
    tables co-located; checksums travel).

    Plan: chunk id is a pure function of the KEY (floor division), so
    the whole computation is one map + one hash-agg — no global window,
    no single-reducer ntile; at 100 TB each chunk checksums in parallel
    wherever its rows live. The row hash is the repo's md5→bigint
    parity pattern; the balance rides as exact cents (a double→string
    render would not be engine-portable)."""
    c = _t(spark, sf_dir, "customer")
    row_str = F.concat_ws(
        "|",
        F.col("c_custkey").cast("string"),
        F.coalesce(F.col("c_name"), F.lit("∅")),
        F.coalesce(F.col("c_nationkey").cast("string"), F.lit("-1")),
        F.round(F.col("c_acctbal") * 100, 0).cast("bigint").cast("string"),
        F.coalesce(F.col("c_mktsegment"), F.lit("∅")),
    )
    row_hash = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("bigint")
    return (
        c.select(
            F.floor(F.col("c_custkey") / F.lit(CHECKSUM_CHUNK_WIDTH))
            .cast("bigint")
            .alias("chunk"),
            F.col("c_custkey").alias("k"),
            row_hash.alias("h"),
        )
        .groupBy("chunk")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("k").alias("min_key"),
            F.max("k").alias("max_key"),
            # Sum in decimal(38,0) (the bigint hash sum can pass 2^63),
            # then reduce mod a < 2^63 prime so both engines emit a plain
            # BIGINT (HUGEINT/decimal128 dtypes don't compare portably).
            (F.sum(F.col("h").cast("decimal(38,0)")) % F.lit(9223372036854775783))
            .cast("bigint")
            .alias("checksum"),
        )
    )


CHECKSUM_SQL = f"""
SELECT CAST(FLOOR(c_custkey / {CHECKSUM_CHUNK_WIDTH}) AS BIGINT) AS chunk,
       COUNT(*) AS n_rows,
       MIN(c_custkey) AS min_key,
       MAX(c_custkey) AS max_key,
       CAST(SUM(CAST(CAST('0x' || substr(md5(concat_ws('|',
             CAST(c_custkey AS VARCHAR),
             COALESCE(c_name, '∅'),
             COALESCE(CAST(c_nationkey AS VARCHAR), '-1'),
             CAST(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS VARCHAR),
             COALESCE(c_mktsegment, '∅'))), 1, 15) AS BIGINT) AS DECIMAL(38,0)))
         % 9223372036854775783 AS BIGINT) AS checksum
FROM customer
GROUP BY 1
"""

QUERIES["table_checksum_chunks"] = table_checksum_chunks
ORACLES["table_checksum_chunks"] = CHECKSUM_SQL
