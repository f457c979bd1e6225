"""Conveyor composition, workload generator, bare envelope, TOAST,
leases — end-to-end parity pieces."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from cdc_sink_spark import conveyor, workload
from cdc_sink_spark.operators.apply import ApplyConfig, apply_mutations
from cdc_sink_spark.operators.dlq import DeadLetterQueue
from cdc_sink_spark.operators.leases import LeaseStore
from cdc_sink_spark.operators.sequencer import seq_besteffort
from cdc_sink_spark.sources import cdcjson


def test_bare_envelope_parse(spark):
    lines = spark.createDataFrame(
        [
            ('{"__event__":"insert","pk":42,"v":9,"__crdb__":{"updated":"1.0"}}',),
            ('{"__event__":"delete","pk":42,"v":null,"__crdb__":{"updated":"2.0"}}',),
            ('{"not":"a bare line"}',),
        ],
        "value string",
    )
    typed = cdcjson.parse_bare_lines(lines, "pk bigint, v bigint", ["pk"]).collect()
    assert len(typed) == 2
    ins = next(r for r in typed if not r["__deleted"])
    assert ins.pk == 42 and ins.v == 9 and ins["__ts"].nanos == 1


def test_toast_sentinel_keeps_target_value(spark):
    target = spark.createDataFrame(
        [Row(id=1, big="PRESERVED", small="old")], "id bigint, big string, small string"
    )
    muts = spark.createDataFrame(
        [Row(id=1, big='"__cdc__sink__toasted__"', small="new",
             __ts=Row(nanos=9, logical=0), __deleted=False)],
        "id bigint, big string, small string, "
        "__ts struct<nanos:long, logical:int>, __deleted boolean",
    )
    cfg = ApplyConfig(toast_sentinel='"__cdc__sink__toasted__"')
    snap, _ = apply_mutations(target, muts, ["id"], cfg)
    row = snap.collect()[0]
    assert row.big == "PRESERVED" and row.small == "new"


def test_conveyor_run_batch_with_dlq(spark, tmp_path):
    lines = spark.createDataFrame(
        [
            ('{"after":{"id":1,"v":5,"ver":2},"updated":"10.0","key":[1]}',),
            ('{"after":{"id":2,"v":1,"ver":1},"updated":"11.0","key":[2]}',),  # CAS-stale
            ('{"after":{"id":3,"v":7,"ver":1},"updated":"12.0","key":[3]}',),  # filtered
        ],
        "value string",
    )
    target = spark.createDataFrame(
        [Row(id=1, v=0, ver=1), Row(id=2, v=0, ver=5)], "id bigint, v bigint, ver bigint"
    )
    dlq = DeadLetterQueue(spark, str(tmp_path / "dlq"))
    cv = conveyor.Conveyor(
        conveyor.ConveyorConfig(
            payload_schema="id bigint, v bigint, ver bigint",
            key_cols=["id"],
            apply=ApplyConfig(cas_columns=["ver"]),
            script_filter=F.col("id") != 3,
        ),
        dlq=dlq,
    )
    snap = cv.run_batch(lines, target, "db.t")
    rows = {r.id: (r.v, r.ver) for r in snap.collect()}
    assert rows == {1: (5, 2), 2: (0, 5)}  # id=2 CAS-rejected keeps target
    assert 3 not in rows
    d = dlq.read().collect()
    assert len(d) == 1 and d[0].reason == "cas" and d[0].target_table == "db.t"


def test_workload_generator_roundtrip(spark):
    parents, children = workload.parent_child_mutations(spark, 10, 50, 20)
    assert parents.count() == 10 and children.count() == 70
    # FK orphans when only half the parents have landed
    ptab = spark.createDataFrame([], "parent bigint, val bigint")
    landed = parents.filter(F.col("parent") < 5).select("parent", "val")
    snap, parked = seq_besteffort(
        spark.createDataFrame([], "child bigint, parent bigint, val bigint"),
        children,
        ["child"],
        fk_parent=landed,
        fk_cols={"parent": "parent"},
        ts_col="__ts",
    )
    assert parked.count() > 0
    orphan_parents = {r.parent for r in parked.select("parent").distinct().collect()}
    assert orphan_parents.isdisjoint({0, 1, 2, 3, 4})

    # ndjson round-trip: render -> parse -> identical typed rows
    lines = workload.to_ndjson_lines(parents, "parent", ["parent", "val"])
    typed = cdcjson.typed_mutations(
        cdcjson.parse_lines(lines), "parent bigint, val bigint", ["parent"]
    )
    a = sorted((r.parent, r.val, r["__ts"].nanos) for r in typed.collect())
    b = sorted((r.parent, r.val, r["__ts"].nanos) for r in parents.collect())
    assert a == b


def test_lease_store(tmp_path):
    store = LeaseStore(str(tmp_path / "leases"))
    l1 = store.acquire("tbl-group-1", "owner-a", duration_s=60)
    assert l1 is not None
    assert store.acquire("tbl-group-1", "owner-b") is None  # held
    l1b = store.renew(l1)
    assert l1b is not None and l1b["owner"] == "owner-a"
    assert store.release(l1b)
    l2 = store.acquire("tbl-group-1", "owner-b")
    assert l2 is not None and l2["owner"] == "owner-b"
    # expiry: a zero-duration lease is immediately reacquirable
    store.release(l2)
    l3 = store.acquire("tbl-group-1", "owner-c", duration_s=0)
    assert l3 is not None  # the zero-duration lease must actually be held...
    assert store.acquire("tbl-group-1", "owner-d") is not None  # ...and expire


def _race_acquire(path, rounds, barrier, out):
    store = LeaseStore(path)
    for r in range(rounds):
        barrier.wait()
        out.put((r, store.acquire(f"race-{r}") is not None))


def test_lease_acquire_has_one_winner_across_processes(tmp_path):
    """Four processes race acquire() on one fresh lease name per round,
    released together by a barrier: every round has exactly one winner."""
    import multiprocessing

    ctx = multiprocessing.get_context("spawn")
    n, rounds = 4, 60
    barrier, out = ctx.Barrier(n), ctx.Queue()
    procs = [
        ctx.Process(target=_race_acquire, args=(str(tmp_path / "leases"), rounds, barrier, out))
        for _ in range(n)
    ]
    for p in procs:
        p.start()
    try:
        wins = [0] * rounds
        for _ in range(n * rounds):
            r, won = out.get(timeout=120)
            wins[r] += won
    finally:
        for p in procs:
            p.join(timeout=60)
            p.kill()
    assert [p.exitcode for p in procs] == [0] * n
    assert wins == [1] * rounds


def test_conveyor_bare_envelope_full_rules(spark, tmp_path):
    """Conveyor with every apply rule at once over bare envelopes:
    deadline rejects stale rows, CAS rejects non-newer versions, both
    land in the DLQ with their reasons; survivors apply."""
    lines = spark.createDataFrame(
        [
            # applies: fresh seen, ver 2 > 1
            ('{"__event__":"update","id":1,"v":"new","ver":2,'
             '"seen":"2024-01-01 00:10:00","__crdb__":{"updated":"10.0"}}',),
            # CAS-stale: ver 1 < target 5
            ('{"__event__":"update","id":2,"v":"stale","ver":1,'
             '"seen":"2024-01-01 00:11:00","__crdb__":{"updated":"11.0"}}',),
            # deadline-stale: seen too old
            ('{"__event__":"update","id":3,"v":"old","ver":9,'
             '"seen":"2024-01-01 00:00:00","__crdb__":{"updated":"12.0"}}',),
        ],
        "value string",
    )
    target = spark.createDataFrame(
        [Row(id=1, v="a", ver=1, seen=None), Row(id=2, v="b", ver=5, seen=None),
         Row(id=3, v="c", ver=1, seen=None)],
        "id bigint, v string, ver bigint, seen string",
    )
    d = DeadLetterQueue(spark, str(tmp_path / "dlq"))
    cv = conveyor.Conveyor(
        conveyor.ConveyorConfig(
            payload_schema="id bigint, v string, ver bigint, seen string",
            key_cols=["id"],
            envelope="bare",
            apply=ApplyConfig(cas_columns=["ver"], deadlines={"seen": 300}),
            now="2024-01-01 00:12:00",
        ),
        dlq=d,
    )
    snap = cv.run_batch(lines, target, "db.t")
    rows = {r.id: (r.v, r.ver) for r in snap.collect()}
    assert rows == {1: ("new", 2), 2: ("b", 5), 3: ("c", 1)}
    reasons = sorted((r.reason for r in d.read().collect()))
    assert reasons == ["cas", "deadline"]
