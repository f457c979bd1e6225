"""target/apply operator tests: upsert/delete, CAS, deadlines, exprs,
extras, ignore/rename — semantics from internal/target/apply templates
(conditional.tmpl) and applycfg/conf.go."""

from __future__ import annotations

import json

from pyspark.sql import Row

from cdc_sink_spark.operators.apply import ApplyConfig, apply_mutations, prepare_mutations

TGT_SCHEMA = "id bigint, val string, ver bigint"
MUT_SCHEMA = (
    "id bigint, val string, ver bigint, "
    "__ts struct<nanos:long, logical:int>, __deleted boolean"
)


def _target(spark, rows):
    return spark.createDataFrame([Row(id=i, val=v, ver=ver) for i, v, ver in rows], TGT_SCHEMA)


def _muts(spark, rows):
    return spark.createDataFrame(
        [
            Row(id=i, val=v, ver=ver, __ts=Row(nanos=n, logical=0), __deleted=d)
            for (i, v, ver, n, d) in rows
        ],
        MUT_SCHEMA,
    )


def test_upsert_insert_update_delete(spark):
    target = _target(spark, [(1, "one", 1), (2, "two", 1)])
    muts = _muts(
        spark,
        [
            (2, "two-new", 2, 10, False),  # update
            (3, "three", 1, 10, False),  # insert
            (1, None, None, 10, True),  # delete
        ],
    )
    snap, rejected = apply_mutations(target, muts, ["id"])
    rows = {r.id: (r.val, r.ver) for r in snap.collect()}
    assert rows == {2: ("two-new", 2), 3: ("three", 1)}
    assert rejected.count() == 0


def test_lww_within_batch(spark):
    target = _target(spark, [])
    muts = _muts(spark, [(1, "old", 1, 5, False), (1, "new", 2, 9, False)])
    snap, _ = apply_mutations(target, muts, ["id"])
    assert [r.val for r in snap.collect()] == ["new"]


def test_cas_strictly_greater_applies(spark):
    # conditional.tmpl: apply iff (incoming cas tuple) > (current cas tuple)
    target = _target(spark, [(1, "cur", 5)])
    stale = _muts(spark, [(1, "stale", 5, 10, False)])  # equal -> reject
    newer = _muts(spark, [(1, "newer", 6, 11, False)])  # greater -> apply

    cfg = ApplyConfig(cas_columns=["ver"])
    snap, rej = apply_mutations(target, stale, ["id"], cfg)
    assert [r.val for r in snap.collect()] == ["cur"]
    assert [(r.id, r["__reason"]) for r in rej.collect()] == [(1, "cas")]

    snap, rej = apply_mutations(target, newer, ["id"], cfg)
    assert [r.val for r in snap.collect()] == ["newer"]
    assert rej.count() == 0


def test_cas_insert_bypasses_comparison(spark):
    target = _target(spark, [])
    muts = _muts(spark, [(9, "fresh", 1, 10, False)])
    snap, rej = apply_mutations(target, muts, ["id"], ApplyConfig(cas_columns=["ver"]))
    assert snap.count() == 1 and rej.count() == 0


def test_deadlines_reject_stale(spark):
    target = _target(spark, [])
    muts = spark.createDataFrame(
        [
            Row(id=1, val="live", ver=1, seen="2024-01-01 00:10:00",
                __ts=Row(nanos=1, logical=0), __deleted=False),
            Row(id=2, val="stale", ver=1, seen="2024-01-01 00:00:00",
                __ts=Row(nanos=1, logical=0), __deleted=False),
        ],
        "id bigint, val string, ver bigint, seen string, "
        "__ts struct<nanos:long, logical:int>, __deleted boolean",
    )
    cfg = ApplyConfig(deadlines={"seen": 300}, ignore=[])
    snap, rej = apply_mutations(
        target.withColumn("seen", target.val.cast("string")).limit(0).select("id", "val", "ver"),
        muts,
        ["id"],
        cfg,
        now="2024-01-01 00:12:00",
    )
    ids = {r.id for r in snap.collect()}
    assert ids == {1}
    assert [(r.id, r["__reason"]) for r in rej.collect()] == [(2, "deadline")]


def test_exprs_substitution(spark):
    # applycfg.Exprs: '$0' is replaced with the incoming value.
    muts = _muts(spark, [(1, "x", 10, 1, False)])
    out = prepare_mutations(muts, ["id", "val", "ver"], ApplyConfig(exprs={"ver": "$0 * 2"}))
    assert out.collect()[0].ver == 20


def test_extras_packing(spark):
    muts = spark.createDataFrame(
        [Row(id=1, val="x", stray_a=7, stray_b="q",
             __ts=Row(nanos=1, logical=0), __deleted=False)],
        "id bigint, val string, stray_a int, stray_b string, "
        "__ts struct<nanos:long, logical:int>, __deleted boolean",
    )
    out = prepare_mutations(muts, ["id", "val", "extras"], ApplyConfig(extras="extras"))
    row = out.collect()[0]
    assert json.loads(row.extras) == {"stray_a": 7, "stray_b": "q"}
    assert "stray_a" not in out.columns


def test_ignore_and_rename(spark):
    muts = spark.createDataFrame(
        [Row(id=1, old_name="x", junk=1, __ts=Row(nanos=1, logical=0), __deleted=False)],
        "id bigint, old_name string, junk int, "
        "__ts struct<nanos:long, logical:int>, __deleted boolean",
    )
    out = prepare_mutations(
        muts, ["id", "val"], ApplyConfig(ignore=["junk"], source_names={"val": "old_name"})
    )
    assert out.columns == ["id", "val", "__ts", "__deleted"]
    assert out.collect()[0].val == "x"


def test_snapshot_diff_roundtrip(spark):
    """apply(t0, diff(t0, t1)) == t1 — the invariant that makes the
    snapshot differ usable for divergence reconciliation."""
    from pyspark.sql import functions as F

    from cdc_sink_spark.operators.apply import apply_mutations

    t0 = spark.createDataFrame(
        [Row(id=1, v="a"), Row(id=2, v="b"), Row(id=3, v="c")], "id bigint, v string"
    )
    t1 = spark.createDataFrame(
        [Row(id=1, v="a"), Row(id=2, v="B"), Row(id=4, v="d")], "id bigint, v string"
    )  # 2 updated, 3 deleted, 4 inserted, 1 untouched
    a = t0.select(F.col("id").alias("k0"), F.col("v").alias("v0"))
    b = t1.select(F.col("id").alias("k1"), F.col("v").alias("v1"))
    j = a.join(b, a.k0 == b.k1, "full_outer")
    op = (
        F.when(F.col("k0").isNull(), F.lit("I"))
        .when(F.col("k1").isNull(), F.lit("D"))
        .when(~F.col("v0").eqNullSafe(F.col("v1")), F.lit("U"))
    )
    diff = j.select(
        F.coalesce("k0", "k1").alias("id"), op.alias("op"), F.col("v1").alias("v")
    ).filter(F.col("op").isNotNull())
    assert {(r.id, r.op) for r in diff.collect()} == {(2, "U"), (3, "D"), (4, "I")}
    feed = diff.select(
        "id", "v",
        F.struct(F.lit(1).cast("long").alias("nanos"), F.lit(0).cast("int").alias("logical")).alias("__ts"),
        (F.col("op") == "D").alias("__deleted"),
    )
    replayed, _ = apply_mutations(t0, feed, ["id"])
    assert sorted(map(tuple, replayed.collect())) == sorted(map(tuple, t1.collect()))


def test_null_key_target_rows_survive_untouched(spark):
    """A target row whose FIRST key column is legitimately NULL must
    survive an apply that never touches it, with its other key columns
    intact — presence after the outer join is a row flag, not a
    key-NULL check (a NULL-key row previously read as 'absent' and had
    its remaining key columns replaced by the mutation side's NULLs)."""
    from pyspark.sql import Row

    target = spark.createDataFrame(
        [Row(k0=None, k1=5, v="keep"), Row(k0=1, k1=1, v="old")],
        "k0 bigint, k1 bigint, v string",
    )
    muts = spark.createDataFrame(
        [Row(k0=1, k1=1, v="new", __ts=Row(nanos=5, logical=0), __deleted=False)],
        "k0 bigint, k1 bigint, v string, "
        "__ts struct<nanos:long, logical:int>, __deleted boolean",
    )
    snap, _ = apply_mutations(target, muts, ["k0", "k1"])
    got = {(r.k0, r.k1): r.v for r in snap.collect()}
    assert got == {(None, 5): "keep", (1, 1): "new"}

    # Same invariant through the window-serial grouped fold.
    from cdc_sink_spark.operators import sequencer

    snap2, _ = sequencer._serial_grouped_fold(
        target, muts, [(10, 0)], ["k0", "k1"], ApplyConfig(), ts_col="__ts"
    )
    got2 = {(r.k0, r.k1): r.v for r in snap2.collect()}
    assert got2 == {(None, 5): "keep", (1, 1): "new"}


def test_apply_reuses_lww_window_exchange(spark):
    """The deduped mutation batch must reach the full-outer target join
    WITHOUT a second shuffle: the LWW window partitions by the same
    null-safe (coalesce(k, d), isnull(k)) tuple the join is keyed on, so
    the join reuses the window's exchange (r13). Two hash exchanges
    total — one per join side — not three."""
    import re

    from cdc_sink_spark.plans import inspect

    target = _target(spark, [(1, "one", 1), (2, "two", 1)])
    muts = _muts(spark, [(1, "one'", 2, 10, False), (3, "three", 1, 10, False)])
    snap, _ = apply_mutations(target, muts, ["id"])
    p = inspect.executed_plan(snap)
    hash_exchanges = len(re.findall(r"hashpartitioning", p))
    assert hash_exchanges == 2, p
    # and the window/join partitioning is the null-safe tuple on BOTH
    # exchanges (the fallback eqNullSafe path would shuffle a coalesce
    # EXPRESSION the window partitioning can't satisfy)
    assert p.count("hashpartitioning(__jk0") == 2, p
