"""merge / staging / sequencer / script / cdcjson operator tests.
Merge cases mirror internal/util/merge/standard_test.go's table."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from cdc_sink_spark.operators import merge, msort, script, sequencer, staging
from cdc_sink_spark.operators.apply import ApplyConfig
from cdc_sink_spark.sources import cdcjson

CONFLICT_SCHEMA = (
    "id bigint, a string, b string, "
    "before_a string, before_b string, proposed_a string, proposed_b string"
)


def _conflicts(spark, rows):
    return spark.createDataFrame([Row(**r) for r in rows], CONFLICT_SCHEMA)


def test_merge_unchanged_and_idempotent(spark):
    df = _conflicts(
        spark,
        [
            # before==proposed for both props -> keep target untouched
            dict(id=1, a="T", b="T", before_a="x", before_b="x",
                 proposed_a="x", proposed_b="x"),
            # target==proposed -> idempotent no-op
            dict(id=2, a="P", b="T", before_a="old", before_b="T",
                 proposed_a="P", proposed_b="T"),
        ],
    )
    resolved, dlq = merge.merge_standard(df, ["id"], ["a", "b"])
    rows = {r.id: (r.a, r.b) for r in resolved.collect()}
    assert rows == {1: ("T", "T"), 2: ("P", "T")}
    assert dlq.count() == 0


def test_merge_safe_change_applies(spark):
    # target==before -> proposed wins (standard.go "isSafe")
    df = _conflicts(
        spark,
        [dict(id=1, a="same", b="keep", before_a="same", before_b="keep",
              proposed_a="NEW", proposed_b="keep")],
    )
    resolved, dlq = merge.merge_standard(df, ["id"], ["a", "b"])
    assert resolved.collect()[0].a == "NEW"
    assert dlq.count() == 0


def test_merge_conflict_goes_to_dlq_sorted(spark):
    # both sides changed differently -> unmerged, stable-sorted names
    df = _conflicts(
        spark,
        [dict(id=1, a="tgt-change", b="tgt2", before_a="orig", before_b="orig2",
              proposed_a="prop-change", proposed_b="prop2")],
    )
    resolved, dlq = merge.merge_standard(df, ["id"], ["a", "b"])
    assert resolved.count() == 0
    row = dlq.collect()[0]
    assert row.unmerged == ["a", "b"]


def test_merge_null_safe_equality(spark):
    df = _conflicts(
        spark,
        [dict(id=1, a=None, b="k", before_a=None, before_b="k",
              proposed_a="set", proposed_b="k")],
    )
    resolved, dlq = merge.merge_standard(df, ["id"], ["a", "b"])
    assert resolved.collect()[0].a == "set"
    assert dlq.count() == 0


# ---------------------------------------------------------------- staging
def test_staging_roundtrip(spark, tmp_path):
    st = staging.StagingTable(spark, str(tmp_path / "stage"))
    muts = spark.createDataFrame(
        [Row(key="k%d" % i, ts=Row(nanos=i << 41, logical=0), data="v") for i in range(4)],
        "key string, ts struct<nanos:long, logical:int>, data string",
    )
    st.stage(muts)
    assert st.read().count() == 4

    # mark two applied -> filter_applied returns the other two
    applied = st.read().filter(F.col("ts.nanos") <= (1 << 41))
    st.mark_applied(applied, ["key"])
    remaining = st.filter_applied(st.read(), ["key"])
    assert remaining.count() == 2

    # retire everything at/below bucket of nanos=2<<41
    st.retire(2 << 41)
    assert {r.ts.nanos >> 41 for r in st.read().collect()} == {3}


def test_staging_retire_killed_mid_swap_keeps_rows(spark, tmp_path, monkeypatch):
    """A kill just before the boundary bucket's rewrite is renamed into
    place loses no staged row: the reopened store restores the bucket,
    and retiring again leaves exactly the rows above the horizon."""
    st = staging.StagingTable(spark, str(tmp_path / "stage"))
    b = 5 << staging.BUCKET_SHIFT
    st.stage(spark.createDataFrame(
        [Row(key=f"k{i}", ts=Row(nanos=b + i, logical=0), data="v") for i in range(10)],
        "key string, ts struct<nanos:long, logical:int>, data string",
    ))
    live = os.path.join(st.data_path, "hlc_bucket=5")
    rename = os.rename

    def killed_before_commit(src, dst, *a, **k):
        if os.path.abspath(dst) == os.path.abspath(live):
            raise OSError("killed before the rename onto the live bucket")
        return rename(src, dst, *a, **k)

    monkeypatch.setattr(os, "rename", killed_before_commit)
    with pytest.raises(OSError, match="killed"):
        st.retire(b + 4)
    monkeypatch.undo()
    reopened = staging.StagingTable(spark, st.path)
    reopened.retire(b + 4)
    assert sorted(r.ts.nanos for r in reopened.read().collect()) == [b + i for i in range(5, 10)]


def test_mark_applied_appends_one_file_per_call(spark, tmp_path):
    """Each mark_applied call adds one ledger file, however many
    partitions its input has, and filter_applied still returns exactly
    the unapplied rows."""
    st = staging.StagingTable(spark, str(tmp_path / "stage"))
    muts = spark.createDataFrame(
        [Row(key=f"k{i}", ts=Row(nanos=i, logical=0), data="v") for i in range(12)],
        "key string, ts struct<nanos:long, logical:int>, data string",
    ).repartition(4)
    for lo in (0, 3, 6):
        st.mark_applied(
            muts.filter((F.col("ts.nanos") >= lo) & (F.col("ts.nanos") < lo + 3)), ["key"]
        )
    parts = [f for f in os.listdir(st.applied_path) if f.startswith("part-")]
    assert len(parts) == 3
    assert sorted(r.key for r in st.filter_applied(muts, ["key"]).collect()) == [
        "k10", "k11", "k9"
    ]


def test_resolved_frontier(spark):
    staged = spark.createDataFrame(
        [Row(ts=Row(nanos=n, logical=0)) for n in (7, 9)],
        "ts struct<nanos:long, logical:int>",
    )
    resolved = spark.createDataFrame(
        [Row(ts=Row(nanos=n, logical=0)) for n in (5, 8)],
        "ts struct<nanos:long, logical:int>",
    )
    row = staging.resolved_frontier(staged, resolved).collect()[0]
    assert row.max_resolved.nanos == 8 and row.min_unapplied.nanos == 7


# -------------------------------------------------------------- sequencer
MUT_SCHEMA = (
    "id bigint, val string, __ts struct<nanos:long, logical:int>, __deleted boolean"
)


def _m(spark, rows, val_type="string"):
    return spark.createDataFrame(
        [Row(id=i, val=v, __ts=Row(nanos=n, logical=0), __deleted=False) for i, v, n in rows],
        MUT_SCHEMA if val_type == "string" else MUT_SCHEMA.replace("val string", f"val {val_type}"),
    )


def test_seq_serial_applies_windows_in_order_and_parks_tail(spark):
    target = spark.createDataFrame([], "id bigint, val string")
    muts = _m(spark, [(1, "w1", 5), (2, "w2", 15), (3, "beyond", 99)])
    resolved = [(10, 0), (20, 0)]
    snap, pending = sequencer.seq_serial(target, muts, resolved, ["id"], ts_col="__ts")
    assert {r.id: r.val for r in snap.collect()} == {1: "w1", 2: "w2"}
    assert [r.id for r in pending.collect()] == [3]


def test_seq_serial_empty_frontier_leaves_every_row_pending(spark):
    """With no resolved stamp, both strategies apply nothing: the
    collapse (plain LWW) and the grouped fold (a CAS rule) return the
    target unchanged and every mutation, NULL stamp included, pending."""
    from cdc_sink_spark.operators.apply import ApplyConfig

    target = spark.createDataFrame([Row(id=9, val="seed")], "id bigint, val string")
    muts = spark.createDataFrame(
        [Row(id=1, val="a", __ts=Row(nanos=4, logical=0), __deleted=False),
         Row(id=9, val="b", __ts=None, __deleted=False)],
        MUT_SCHEMA,
    )
    for cfg in (ApplyConfig(), ApplyConfig(cas_columns=["val"])):
        snap, pending = sequencer.seq_serial(target, muts, [], ["id"], cfg, ts_col="__ts")
        assert [tuple(r) for r in snap.collect()] == [(9, "seed")]
        assert sorted(r.id for r in pending.collect()) == [1, 9]


def test_seq_serial_grouped_fold_matches_window_loop_cas(spark):
    """The grouped per-key fold must reproduce EXACT window-by-window
    apply semantics under CAS — including the ratchet case where they
    differ from a collapsed apply: target v=5; window 1 raises it to 7;
    window 2's LWW winner v=6 then FAILS CAS (6 < 7), so serial ends at
    7 while collapsed (one LWW pass -> winner 6 > target 5) ends at 6.
    The inline loop below is the old driver-side implementation kept as
    a semantics oracle."""
    from cdc_sink_spark.operators.apply import ApplyConfig, apply_mutations

    target = spark.createDataFrame([Row(id=1, val=5.0), Row(id=2, val=50.0)],
                                   "id bigint, val double")
    muts = _m(spark, [(1, 7.0, 5), (1, 6.0, 15), (2, 41.0, 5), (2, 60.0, 15), (3, 1.0, 25)],
              val_type="double")
    resolved = [(10, 0), (20, 0)]
    cfg = ApplyConfig(cas_columns=["val"])

    snap, pending = sequencer.seq_serial(target, muts, resolved, ["id"], cfg, ts_col="__ts")
    got = {r.id: r.val for r in snap.collect()}
    assert got == {1: 7.0, 2: 60.0}  # id=1: ratchet holds 7; id=2: 41 fails, 60 applies
    assert [r.id for r in pending.collect()] == [3]  # beyond last frontier

    # The old per-window driver loop, as the semantics oracle.
    tagged = sequencer.assign_resolved_windows(muts, resolved, ts_col="__ts")
    loop_snap = target
    for wts in sorted(
        (r[0] for r in tagged.filter(F.col("resolved_window").isNotNull())
         .select("resolved_window").distinct().collect())
    ):
        batch = tagged.filter(
            (F.col("resolved_window.nanos") == wts["nanos"])
            & (F.col("resolved_window.logical") == wts["logical"])
        ).drop("resolved_window")
        loop_snap, _ = apply_mutations(loop_snap, batch, ["id"], cfg, ts_col="__ts")
    assert got == {r.id: r.val for r in loop_snap.collect()}
    # And one collapsed apply of the covered rows genuinely differs here
    # (ratchet case).
    covered = tagged.filter(F.col("resolved_window").isNotNull()).drop("resolved_window")
    collapsed, _ = apply_mutations(target, covered, ["id"], cfg, ts_col="__ts")
    assert {r.id: r.val for r in collapsed.collect()}[1] == 6.0


def test_seq_serial_toast_sentinel_matches_window_loop(spark):
    """Window-serial fold honors the unchanged-TOAST placeholder
    (types.go ToastedColumnPlaceholder / crdb/toasted.tmpl): a sentinel
    value keeps the row's current value across window boundaries —
    target's value on the first touch, the prior window's winner after,
    and NULL when the row doesn't exist yet. Oracle = the old per-window
    driver loop over apply_mutations (whose batch TOAST path is
    independently tested)."""
    from cdc_sink_spark.operators.apply import ApplyConfig, apply_mutations

    TOAST = "__toast__"
    target = spark.createDataFrame(
        [Row(id=1, big="orig1", small="s1"), Row(id=2, big="orig2", small="s2")],
        "id bigint, big string, small string",
    )
    muts = spark.createDataFrame(
        [
            # id=1 w1: TOAST keeps target's big; w2: TOAST keeps w1's small-update row
            Row(id=1, big=TOAST, small="n1", __ts=Row(nanos=5, logical=0), __deleted=False),
            Row(id=1, big=TOAST, small="n2", __ts=Row(nanos=15, logical=0), __deleted=False),
            # id=2 w1 deletes; w2 re-inserts with TOAST -> big must be NULL
            Row(id=2, big=None, small=None, __ts=Row(nanos=6, logical=0), __deleted=True),
            Row(id=2, big=TOAST, small="re", __ts=Row(nanos=16, logical=0), __deleted=False),
            # id=3 brand new with TOAST in w1 -> NULL big
            Row(id=3, big=TOAST, small="new", __ts=Row(nanos=7, logical=0), __deleted=False),
        ],
        "id bigint, big string, small string, "
        "__ts struct<nanos:long, logical:int>, __deleted boolean",
    )
    resolved = [(10, 0), (20, 0)]
    cfg = ApplyConfig(toast_sentinel=TOAST)
    snap, pending = sequencer.seq_serial(target, muts, resolved, ["id"], cfg, ts_col="__ts")
    got = {r.id: (r.big, r.small) for r in snap.collect()}
    assert got == {1: ("orig1", "n2"), 2: (None, "re"), 3: (None, "new")}
    assert pending.count() == 0

    # Per-window driver loop as the semantics oracle.
    tagged = sequencer.assign_resolved_windows(muts, resolved, ts_col="__ts")
    loop_snap = target
    for wts in sorted(
        (r[0] for r in tagged.filter(F.col("resolved_window").isNotNull())
         .select("resolved_window").distinct().collect())
    ):
        batch = tagged.filter(
            (F.col("resolved_window.nanos") == wts["nanos"])
            & (F.col("resolved_window.logical") == wts["logical"])
        ).drop("resolved_window")
        loop_snap, _ = apply_mutations(loop_snap, batch, ["id"], cfg, ts_col="__ts")
    assert got == {r.id: (r.big, r.small) for r in loop_snap.collect()}


def test_seq_serial_fold_extras_exclude_window_tag(spark):
    """With cfg.extras configured, the fold's internal resolved_window
    column must NOT be packed into the extras JSON (it would both
    pollute payloads and break the per-window unique_by_key). Extras
    alone are no window-sensitive rule, so seq_serial would collapse:
    the fold is called directly."""
    from cdc_sink_spark.operators.apply import ApplyConfig

    target = spark.createDataFrame(
        [Row(id=1, val="old", extras=None)], "id bigint, val string, extras string"
    )
    muts = spark.createDataFrame(
        [
            Row(id=1, val="w1", stray="a", __ts=Row(nanos=5, logical=0), __deleted=False),
            Row(id=1, val="w2", stray="b", __ts=Row(nanos=15, logical=0), __deleted=False),
        ],
        "id bigint, val string, stray string, "
        "__ts struct<nanos:long, logical:int>, __deleted boolean",
    )
    resolved = [(10, 0), (20, 0)]
    cfg = ApplyConfig(extras="extras")
    snap, _ = sequencer._serial_grouped_fold(target, muts, resolved, ["id"], cfg, ts_col="__ts")
    rows = snap.collect()
    assert len(rows) == 1
    assert rows[0].val == "w2"
    assert rows[0].extras == '{"stray":"b"}'


def test_seq_serial_fold_plan_constant_in_window_count(spark):
    """The grouped fold's plan must not grow with the number of resolved
    windows: the old driver loop built one join PER WINDOW (O(frontiers)
    jobs); the fold is one shuffle on the key + one outer join however
    many frontiers a day brings. Pinned: exchange/join counts and plan
    size are IDENTICAL at 2 vs 50 windows, with small absolute bounds
    (the frontiers are one literal array; the exchanges are the key
    shuffle and the outer join's two sides)."""
    from cdc_sink_spark.operators.apply import ApplyConfig

    def fold_plan(n_windows):
        muts = spark.createDataFrame(
            [Row(id=i % 7, val=float(i), __ts=Row(nanos=i, logical=0), __deleted=False)
             for i in range(n_windows * 3)],
            "id bigint, val double, __ts struct<nanos:long, logical:int>, __deleted boolean",
        )
        resolved = [(3 * w + 2, 0) for w in range(n_windows)]
        target = spark.createDataFrame([Row(id=1, val=0.0)], "id bigint, val double")
        snap, _ = sequencer.seq_serial(
            target, muts, resolved, ["id"], ApplyConfig(cas_columns=["val"]), ts_col="__ts"
        )
        return snap._jdf.queryExecution().executedPlan().toString()

    p2, p50 = fold_plan(2), fold_plan(50)
    shape = lambda p: (p.count("Exchange"), p.count("Join"), len(p.splitlines()))  # noqa: E731
    assert shape(p2) == shape(p50), (shape(p2), shape(p50))
    ex, joins, _ = shape(p50)
    assert ex <= 6 and joins <= 2, (ex, joins)


def test_seq_besteffort_parks_fk_orphans(spark):
    target = spark.createDataFrame([], "id bigint, val string")
    parent = spark.createDataFrame([Row(pid=1), Row(pid=2)], "pid bigint")
    muts = _m(spark, [(1, "ok", 5), (7, "orphan", 6)])
    snap, parked = sequencer.seq_besteffort(
        target, muts, ["id"], fk_parent=parent, fk_cols={"id": "pid"}, ts_col="__ts"
    )
    assert {r.id for r in snap.collect()} == {1}
    assert {r.id for r in parked.collect()} == {7}


def test_scheduler_key_order(spark):
    muts = _m(spark, [(1, "a", 5), (1, "b", 7), (2, "c", 6)])
    out = sequencer.scheduler_key_order(muts, ["id"], "__ts")
    seqs = {(r.id, r.val): r.apply_seq for r in out.collect()}
    assert seqs == {(1, "a"): 1, (1, "b"): 2, (2, "c"): 1}


# ------------------------------------------------------------------ script
def test_script_map_filter_dispatch(spark):
    df = spark.createDataFrame(
        [Row(id=1, kind="a", v=10), Row(id=2, kind="b", v=20), Row(id=3, kind="zz", v=30)],
        "id bigint, kind string, v bigint",
    )
    df = script.script_filter(df, F.col("v") > 10)
    df = script.script_map(df, {"v": F.col("v") * 2})
    routes = script.script_dispatch(df, F.col("kind"), ["a", "b"])
    assert routes["a"].count() == 0
    assert [r.v for r in routes["b"].collect()] == [40]
    # unrouted rows are dropped
    assert sum(d.count() for d in routes.values()) == 1


# ----------------------------------------------------------------- cdcjson
def test_cdcjson_parse_shapes(spark):
    lines = spark.createDataFrame(
        [
            # insert / update / delete / phantom delete / resolved
            (('{"after":{"k":2,"v":"a"},"before":null,"updated":"1.0","key":[2]}'),),
            (('{"after":{"k":2,"v":"b"},"before":{"k":2,"v":"a"},"updated":"2.0","key":[2]}'),),
            (('{"after":null,"before":{"k":2,"v":"b"},"updated":"3.0","key":[2]}'),),
            (('{"after":null,"before":null,"updated":"4.0","key":[9]}'),),
            (('{"resolved":"5.0000000002"}'),),
        ],
        "value string",
    )
    parsed = cdcjson.parse_lines(lines)
    muts = cdcjson.mutations(parsed).collect()
    assert len(muts) == 4
    res = cdcjson.resolved(parsed).collect()
    assert len(res) == 1 and res[0].ts.nanos == 5 and res[0].ts.logical == 2

    typed = cdcjson.typed_mutations(parsed, "k bigint, v string", ["k"]).collect()
    by_ts = {r["__ts"].nanos: r for r in typed}
    assert by_ts[1].v == "a" and not by_ts[1]["__deleted"]
    assert by_ts[3]["__deleted"] and by_ts[3].k == 2  # key recovered from key array
    assert by_ts[4]["__deleted"] and by_ts[4].k == 9


def test_conveyor_end_to_end(spark):
    """parse -> dedup -> apply, composed (internal/conveyor)."""
    lines = spark.createDataFrame(
        [
            (('{"after":{"k":1,"v":"x"},"updated":"1.0","key":[1]}'),),
            (('{"after":{"k":1,"v":"y"},"updated":"2.0","key":[1]}'),),
            (('{"after":{"k":2,"v":"z"},"updated":"1.0","key":[2]}'),),
            (('{"after":null,"updated":"3.0","key":[2]}'),),
        ],
        "value string",
    )
    from cdc_sink_spark.operators.apply import apply_mutations

    typed = cdcjson.typed_mutations(cdcjson.parse_lines(lines), "k bigint, v string", ["k"])
    target = spark.createDataFrame([], "k bigint, v string")
    snap, _ = apply_mutations(target, typed, ["k"])
    assert {r.k: r.v for r in snap.collect()} == {1: "y"}


def test_staging_retry_lifecycle_converges(spark, tmp_path):
    """Full staging lifecycle under failure: stage everything, apply a
    partial batch (simulated crash), mark only that batch applied, then
    retry from staging — FilterApplied redelivers exactly the remainder
    and the final state equals a single-shot apply. Retire then drops
    everything at/below the horizon."""
    from cdc_sink_spark.operators.apply import apply_mutations

    st = staging.StagingTable(spark, str(tmp_path / "stage"))
    muts = spark.createDataFrame(
        [
            Row(key=f"k{i % 7}", ts=Row(nanos=(i + 1) << 41, logical=0),
                val=f"v{i}", deleted=False)
            for i in range(20)
        ],
        "key string, ts struct<nanos:long, logical:int>, val string, deleted boolean",
    )
    st.stage(muts)

    def typed(df):
        return df.select(
            "key", "val", F.col("ts").alias("__ts"), F.col("deleted").alias("__deleted")
        )

    target = spark.createDataFrame([], "key string, val string")

    # single-shot reference
    expected, _ = apply_mutations(target, typed(st.read()), ["key"])
    expected_rows = sorted(map(tuple, expected.collect()))

    # crash after applying only the first half
    first = st.read().filter(F.col("ts.nanos") <= (10 << 41))
    snap1, _ = apply_mutations(target, typed(first), ["key"])
    st.mark_applied(first, ["key"])

    # retry: redeliver everything, FilterApplied trims the applied half
    remaining = st.filter_applied(st.read(), ["key"])
    assert remaining.count() == 10
    snap2, _ = apply_mutations(snap1, typed(remaining), ["key"])
    assert sorted(map(tuple, snap2.collect())) == expected_rows

    st.mark_applied(remaining, ["key"])
    assert st.filter_applied(st.read(), ["key"]).count() == 0

    st.retire(20 << 41)
    assert st.read().count() == 0


def test_assign_resolved_windows_no_row_blowup(spark):
    """The frontier lookup is a literal sorted-array filter: output
    cardinality equals input cardinality (no frontier-count multiply) and
    each mutation gets the EARLIEST covering frontier."""
    muts = _m(spark, [(1, "a", 5), (2, "b", 15), (3, "c", 99)])
    resolved = [(10, 0), (20, 0), (30, 0)]
    tagged = sequencer.assign_resolved_windows(muts, resolved, ts_col="__ts")
    rows = {r.id: r.resolved_window for r in tagged.collect()}
    assert tagged.count() == 3
    assert rows[1].nanos == 10 and rows[2].nanos == 20 and rows[3] is None


def test_seq_serial_100_windows_bounded(spark):
    """100 resolved frontiers: the per-window fold must stay tractable
    (the grouped per-key fold keeps the plan depth constant), and
    seq_serial's collapsed plain-LWW apply produces the identical
    snapshot in one apply."""
    from cdc_sink_spark.operators.apply import ApplyConfig

    muts = _m(spark, [(i, f"v{i}", i) for i in range(1, 101)])
    resolved = [(n, 0) for n in range(1, 101)]
    target = spark.createDataFrame([], "id bigint, val string")
    snap, pending = sequencer._serial_grouped_fold(
        target, muts, resolved, ["id"], ApplyConfig(), ts_col="__ts"
    )
    assert snap.count() == 100 and pending.count() == 0
    snap2, _ = sequencer.seq_serial(target, muts, resolved, ["id"], ts_col="__ts")
    assert {(r.id, r.val) for r in snap2.collect()} == {
        (r.id, r.val) for r in snap.collect()
    }


def test_seq_besteffort_parks_cas_rejected(spark):
    """CAS-rejected mutations are parked for retry, not silently dropped
    (reference parks failures: internal/sequencer/besteffort)."""
    from cdc_sink_spark.operators.apply import ApplyConfig

    target = spark.createDataFrame([Row(id=1, val="z9")], "id bigint, val string")
    muts = _m(spark, [(1, "a0", 5), (2, "b", 6)])  # 'a0' < 'z9': CAS loses
    snap, parked = sequencer.seq_besteffort(
        target, muts, ["id"], cfg=ApplyConfig(cas_columns=["val"]), ts_col="__ts"
    )
    assert {r.id: r.val for r in snap.collect()} == {1: "z9", 2: "b"}
    assert {r.id for r in parked.collect()} == {1}


def test_marker_keeps_rejected_replayable(spark, tmp_path):
    """marker.go marks exactly what the accept APPLIED: a CAS-rejected
    mutation must stay out of the applied ledger so a later replay (DLQ
    redelivery, best-effort retry after the target moved) is not
    silently dropped by filter_applied."""
    from cdc_sink_spark.operators.apply import ApplyConfig, apply_mutations
    from cdc_sink_spark.operators.staging import StagingTable, mark_exclude_rejected

    st = StagingTable(spark, str(tmp_path / "staging"))
    target = spark.createDataFrame([Row(id=1, val="z")], "id bigint, val string")
    muts = _m(spark, [(1, "a", 5), (2, "b", 6)])  # 'a' < 'z': CAS loses
    cfg = ApplyConfig(cas_columns=["val"])

    def accept(tgt):
        # once: drop what the ledger holds; marker: mark what was applied.
        fresh = st.filter_applied(muts, ["id"], ts_col="__ts")
        snap, rej = apply_mutations(tgt, fresh, ["id"], cfg, ts_col="__ts")
        snap, rej = snap.localCheckpoint(), rej.localCheckpoint()
        st.mark_applied(
            mark_exclude_rejected(fresh, rej, ["id"], ts_col="__ts"),
            ["id"], ts_col="__ts",
        )
        return snap, rej

    snap1, rej1 = accept(target)
    assert {r.id: r.val for r in snap1.collect()} == {1: "z", 2: "b"}
    assert {r.id for r in rej1.collect()} == {1}
    # Applied id=2 is marked; rejected id=1 is NOT.
    fresh = st.filter_applied(muts, ["id"], ts_col="__ts")
    assert {r.id for r in fresh.collect()} == {1}
    # The target moves backwards out-of-band (op repair); the replayed
    # mutation must now win its CAS instead of being ledger-dropped.
    repaired = spark.createDataFrame([Row(id=1, val="0")], "id bigint, val string")
    snap2, rej2 = accept(repaired)
    assert {r.id: r.val for r in snap2.collect()} == {1: "a"}
    assert rej2.count() == 0
    assert st.filter_applied(muts, ["id"], ts_col="__ts").count() == 0


def test_version_gate_bootstrap_and_warn(spark, tmp_path):
    """staging/version: first boot bootstraps all markers; a later
    missing marker warns instead of running incompatibly."""
    from cdc_sink_spark.operators import version
    from cdc_sink_spark.operators.memo import Memo

    memo = Memo(spark, str(tmp_path / "memo"))
    assert version.check(memo) == []          # bootstrap writes markers
    assert version.check(memo) == []          # idempotent
    newer = version.VERSIONS + [("New staging layout", 99)]
    warns = version.check(memo, newer)
    assert len(warns) == 1 and "99" in warns[0]


def test_checkpoint_group_monotonic_frontier(spark, tmp_path):
    """staging/checkpoint: Advance is monotonic per partition; the group
    frontier is the min across partitions."""
    import pytest as _pytest

    from cdc_sink_spark.operators.checkpoint import CheckpointGroup
    from cdc_sink_spark.operators.memo import Memo

    g = CheckpointGroup(Memo(spark, str(tmp_path / "memo")), "orders")
    g.advance("p0", 100)
    g.advance("p1", 50)
    assert g.frontier() == (50, 0)
    g.advance("p1", 150, 1)
    assert g.frontier() == (100, 0)
    with _pytest.raises(ValueError, match="backwards"):
        g.advance("p0", 99)


def test_checkpoint_registered_unmarked_partition_holds_frontier(spark, tmp_path):
    """A registered partition with no mark yet (crash between the
    registration write and the mark write, or a member that never
    reported) must hold the group frontier at None — excluding it would
    overstate the safe apply-through point (group.go: mark+registration
    are one atomic row; registration-first is the safe two-write order)."""
    import json as _json

    from cdc_sink_spark.operators.checkpoint import CheckpointGroup
    from cdc_sink_spark.operators.memo import Memo

    memo = Memo(spark, str(tmp_path / "memo"))
    g = CheckpointGroup(memo, "orders")
    g.advance("p0", 100)
    assert g.frontier() == (100, 0)
    # Simulate the crash window: register p1 without ever marking it.
    parts = set(_json.loads(memo.get("ckpt-parts::orders")))
    memo.put("ckpt-parts::orders", _json.dumps(sorted(parts | {"p1"})))
    g2 = CheckpointGroup(memo, "orders")
    assert g2.frontier() is None
    g2.advance("p1", 40)
    assert g2.frontier() == (40, 0)


def test_assign_resolved_windows_never_shuffles_stream(spark, sf_dir):
    """Plan-shape net for the frontier-array lookup: the mutation stream
    reaches it with ZERO exchanges on its columns (the old theta-join +
    full-width groupBy re-shuffled the whole stream and multiplied it by
    the frontier count), and the literal array needs no join at all."""
    from cdc_sink_spark.plans import inspect
    from cdc_sink_spark.queries.cdc import _mutations
    from cdc_sink_spark.operators import sequencer as seq

    muts = _mutations(spark, sf_dir)
    resolved = [(n * 10**18, 0) for n in range(1, 4)]
    tagged = seq.assign_resolved_windows(muts, resolved, ts_col="ts")
    plan = inspect.executed_plan(tagged)
    # The stream itself is never hash-partitioned, and no frontier frame
    # is joined in.
    assert "hashpartitioning(user_id" not in plan
    assert "hashpartitioning(event_id" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 0


def test_seq_besteffort_parks_only_failed_mutations(spark):
    """Per-mutation parking: a key with one deadline-expired row and one
    successfully applied row parks ONLY the expired mutation — re-parking
    applied work would resubmit it every retry sweep."""
    from cdc_sink_spark.operators.apply import ApplyConfig

    target = spark.createDataFrame([], "id bigint, val string")
    muts = spark.createDataFrame(
        [
            Row(id=1, val="old", __ts=Row(nanos=5, logical=0), __deleted=False,
                seen="2020-01-01 00:00:00"),
            Row(id=1, val="new", __ts=Row(nanos=6, logical=0), __deleted=False,
                seen="2024-01-01 00:00:00"),
        ],
        "id bigint, val string, __ts struct<nanos:long, logical:int>, "
        "__deleted boolean, seen string",
    )
    cfg = ApplyConfig(deadlines={"seen": 86400.0}, ignore=["seen"])
    snap, parked = sequencer.seq_besteffort(
        target, muts, ["id"], cfg=cfg, ts_col="__ts", now="2024-01-01 12:00:00"
    )
    assert {(r.id, r.val) for r in snap.collect()} == {(1, "new")}
    parked_rows = parked.collect()
    assert [(r.id, r["__ts"].nanos) for r in parked_rows] == [(1, 5)]  # only the expired one


def test_seq_besteffort_enforces_every_fk(spark):
    """ALL fk_cols constraints park, not just the first dict entry."""
    target = spark.createDataFrame([], "id bigint, val string")
    parent = spark.createDataFrame(
        [Row(pid=1, org=10), Row(pid=2, org=20)], "pid bigint, org bigint"
    )
    muts = spark.createDataFrame(
        [Row(id=1, org_id=10, val="ok", __ts=Row(nanos=5, logical=0), __deleted=False),
         Row(id=2, org_id=99, val="orphan-org", __ts=Row(nanos=6, logical=0), __deleted=False),
         Row(id=7, org_id=10, val="orphan-id", __ts=Row(nanos=7, logical=0), __deleted=False)],
        "id bigint, org_id bigint, val string, "
        "__ts struct<nanos:long, logical:int>, __deleted boolean",
    )
    snap, parked = sequencer.seq_besteffort(
        target, muts, ["id"], fk_parent=parent,
        fk_cols={"id": "pid", "org_id": "org"}, ts_col="__ts",
    )
    assert {r.id for r in snap.collect()} == {1}
    assert {r.id for r in parked.collect()} == {2, 7}


def test_seq_besteffort_parks_cas_rejects_and_fk_orphans(spark):
    """A CAS-rejected mutation and an FK orphan both park: the snapshot
    keeps the target row the CAS rule protected, and the parked set
    holds exactly the two mutations that did not apply."""
    from cdc_sink_spark.operators.apply import ApplyConfig

    target = spark.createDataFrame([Row(id=1, org_id=10, v=5.0)],
                                   "id bigint, org_id bigint, v double")
    parent = spark.createDataFrame([Row(pid=1), Row(pid=2)], "pid bigint")
    muts = spark.createDataFrame(
        [Row(id=1, org_id=10, v=3.0, __ts=Row(nanos=5, logical=0), __deleted=False),
         Row(id=9, org_id=10, v=1.0, __ts=Row(nanos=6, logical=0), __deleted=False)],
        "id bigint, org_id bigint, v double, "
        "__ts struct<nanos:long, logical:int>, __deleted boolean",
    )
    snap, parked = sequencer.seq_besteffort(
        target, muts, ["id"], fk_parent=parent, fk_cols={"id": "pid"},
        cfg=ApplyConfig(cas_columns=["v"]), ts_col="__ts",
    )
    assert {r.id: r.v for r in snap.collect()} == {1: 5.0}  # v=3 failed CAS
    assert {r.id for r in parked.collect()} == {1, 9}


def test_merge_fallback_rule_resolves_conflict(spark):
    """bindMerge hook (script.go:639): a per-column fallback rule
    resolves the conflicts the standard logic can't — here delta-sum on
    a numeric balance — while columns WITHOUT a rule still DLQ, and
    non-conflicting rows never consult the rule."""
    df = spark.createDataFrame(
        [
            # conflict on bal (10->tgt 13 / prop 15) AND on note
            Row(id=1, bal=13.0, note="tgt", before_bal=10.0, before_note="o",
                proposed_bal=15.0, proposed_note="prop"),
            # safe change on bal only (target==before): rule NOT consulted
            Row(id=2, bal=10.0, note="n", before_bal=10.0, before_note="n",
                proposed_bal=20.0, proposed_note="n"),
        ],
        "id bigint, bal double, note string, before_bal double, "
        "before_note string, proposed_bal double, proposed_note string",
    )
    resolved, dlq = merge.merge_standard(
        df, ["id"], ["bal", "note"], fallback={"bal": merge.rule_sum_deltas}
    )
    # id=1: bal resolves by rule (13 + (15-10) = 18) but note still
    # conflicts -> the ROW goes to the DLQ with only 'note' unmerged.
    assert resolved.count() == 1
    r2 = resolved.collect()[0]
    assert (r2.id, r2.bal) == (2, 20.0)  # safe path untouched by the rule
    d = dlq.collect()[0]
    assert d.id == 1 and d.unmerged == ["note"] and d.bal == 18.0
    # With BOTH columns ruled, nothing reaches the DLQ.
    resolved2, dlq2 = merge.merge_standard(
        df, ["id"], ["bal", "note"],
        fallback={"bal": merge.rule_sum_deltas, "note": merge.rule_prefer_proposed},
    )
    assert dlq2.count() == 0
    rows = {r.id: (r.bal, r.note) for r in resolved2.collect()}
    assert rows == {1: (18.0, "prop"), 2: (20.0, "n")}


def test_script_dispatch_deletes_to_tombstone_route(spark):
    """deletesTo (script.go:51): an op-dependent router lands DELETE
    mutations ONLY in the tombstone route and upserts ONLY in main —
    no mutation is lost and none lands in both."""
    muts = spark.createDataFrame(
        [Row(id=1, val="a", __ts=Row(nanos=1, logical=0), __deleted=False),
         Row(id=2, val="b", __ts=Row(nanos=2, logical=0), __deleted=True),
         Row(id=3, val="c", __ts=Row(nanos=3, logical=0), __deleted=False)],
        MUT_SCHEMA,
    )
    router = F.when(
        F.col("__deleted"), F.array(F.lit("tombstones"))
    ).otherwise(F.array(F.lit("main")))
    routes = script.script_dispatch_many(muts, router, ["main", "tombstones"])
    main = {(r.id, r["__deleted"]) for r in routes["main"].collect()}
    tomb = {(r.id, r["__deleted"]) for r in routes["tombstones"].collect()}
    assert main == {(1, False), (3, False)}
    assert tomb == {(2, True)}


def test_merge_fallback_null_output_declines_to_dlq(spark):
    """A fallback rule that evaluates to NULL on a conflicting row
    DECLINES it — the property stays unmerged and the row DLQs, instead
    of silently writing NULL where the standard path would have DLQ'd
    (e.g. delta-sum with a NULL before image)."""
    df = spark.createDataFrame(
        [Row(id=1, bal=13.0, before_bal=None, proposed_bal=15.0)],
        "id bigint, bal double, before_bal double, proposed_bal double",
    )
    resolved, dlq = merge.merge_standard(
        df, ["id"], ["bal"], fallback={"bal": merge.rule_sum_deltas}
    )
    assert resolved.count() == 0
    d = dlq.collect()[0]
    assert d.unmerged == ["bal"] and d.bal == 13.0  # standard keep-target
