"""Streaming pipeline (A21) and source adapters (A22) tests — driven
through availableNow triggers + memory/parquet sinks, the runtime
surface streaming operators actually have."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from cdc_sink_spark.sources import cdcjson, kafka, mylogical, objstore, pglogical
from cdc_sink_spark.streaming import pipeline


def _write_feed(path, lines):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "feed-0.ndjson"), "w") as f:
        f.write("\n".join(lines) + "\n")


FEED = [
    '{"after":{"id":1,"v":"a"},"updated":"1.0","key":[1]}',
    '{"after":{"id":1,"v":"b"},"updated":"3.0","key":[1]}',
    '{"after":{"id":2,"v":"z"},"updated":"2.0","key":[2]}',
    '{"after":null,"updated":"4.0","key":[2]}',
    '{"resolved":"5.0000000000"}',
]


def test_streaming_foreachbatch_apply(spark, tmp_path):
    feed = str(tmp_path / "feed")
    target = str(tmp_path / "target")
    _write_feed(feed, FEED)
    spark.createDataFrame([Row(id=9, v="seed")], "id bigint, v string").write.parquet(target)

    pipeline.run_pipeline_once(
        spark, feed, target, "id bigint, v string", ["id"], str(tmp_path / "ckpt")
    )
    out = {r.id: r.v for r in spark.read.parquet(target).collect()}
    # id=1 upserted to latest 'b'; id=2 deleted; seed row untouched
    assert out == {1: "b", 9: "seed"}


def test_streaming_lww_state(spark, tmp_path):
    feed = str(tmp_path / "feed")
    _write_feed(feed, FEED)
    lines = pipeline.stream_ndjson(spark, feed)
    typed = pipeline.stream_typed_mutations(lines, "id bigint, v string", ["id"])
    winners = pipeline.streaming_lww(
        typed, ["id"], "id bigint, v string, __nanos long, __logical int, __del boolean"
    )
    q = (
        winners.writeStream.format("memory")
        .queryName("lww_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r.id: r for r in spark.sql("select * from lww_out").collect()}
    assert rows[1].v == "b" and rows[1]["__nanos"] == 3
    assert rows[2]["__del"] is True  # latest for key 2 is the delete


def test_streaming_lww_raises_no_pandas_concat_warning(spark, tmp_path):
    """The LWW's Python workers run with pandas' concat FutureWarning
    (empty or all-NA entries in a concat) raised as an error: a double
    column, and a delete whose value is null, must not trip it."""
    feed = str(tmp_path / "feed")
    _write_feed(feed, [
        '{"after":{"id":1,"v":1.5},"updated":"1.0","key":[1]}',
        '{"after":{"id":1,"v":2.5},"updated":"3.0","key":[1]}',
        '{"after":{"id":2,"v":0.5},"updated":"2.0","key":[2]}',
        '{"after":null,"updated":"4.0","key":[2]}',
    ])
    env = spark.sparkContext.environment
    old = env.get("PYTHONWARNINGS")
    env["PYTHONWARNINGS"] = "error:The behavior of DataFrame concatenation:FutureWarning"
    try:
        typed = pipeline.stream_typed_mutations(
            pipeline.stream_ndjson(spark, feed), "id bigint, v double", ["id"]
        )
        winners = pipeline.streaming_lww(
            typed, ["id"], "id bigint, v double, __nanos long, __logical int, __del boolean"
        )
        q = (
            winners.writeStream.format("memory")
            .queryName("lww_no_warning")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        # The environment belongs to the session-wide fixture: put back
        # whatever it held before.
        if old is None:
            env.pop("PYTHONWARNINGS", None)
        else:
            env["PYTHONWARNINGS"] = old
    rows = {r.id: tuple(r) for r in spark.sql("select * from lww_no_warning").collect()}
    assert rows == {1: (1, 2.5, 3, 0, False), 2: (2, None, 4, 0, True)}


def test_streaming_windowed_counts(spark, tmp_path):
    feed = str(tmp_path / "feed")
    lines = [
        json.dumps(
            {
                "after": {"id": i},
                "updated": f"{(1704067200 + i * 1800) * 1_000_000_000}.0",
                "key": [i],
            }
        )
        for i in range(6)
    ]
    _write_feed(feed, lines)
    typed = pipeline.stream_typed_mutations(
        pipeline.stream_ndjson(spark, feed), "id bigint", ["id"]
    )
    agg = pipeline.windowed_event_counts(typed, "1 hour", "2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("select * from win_out").collect()
    assert sum(r.n_mutations for r in rows) == 6
    assert len(rows) == 3  # 6 events, 30min apart -> 3 hourly windows


# ----------------------------------------------------------------- sources
def test_kafka_frame_adapter(spark):
    frame = spark.createDataFrame(
        [
            Row(
                key=b"[1]",
                value=b'{"after":{"id":1,"v":"a"},"updated":"7.0","key":[1]}',
                topic="t1",
                partition=0,
                offset=100,
            ),
            Row(key=None, value=b'{"resolved":"9.0000000000"}', topic="t1", partition=0, offset=101),
        ],
        "key binary, value binary, topic string, partition int, offset long",
    )
    parsed = kafka.from_kafka_frame(frame)
    muts = parsed.filter(F.col("ts").isNotNull()).collect()
    res = parsed.filter(F.col("resolved_str").isNotNull()).collect()
    assert len(muts) == 1 and muts[0].ts.nanos == 7 and muts[0].offset == 100
    assert len(res) == 1 and res[0].topic == "t1"


def test_pglogical_wal2json_adapter(spark):
    # Real wal2json shape: inserts carry NO identity (key must come from
    # the PK subset of columns); string values arrive unquoted through
    # the string-typed lens; NULL column values must emit explicit null.
    lines = spark.createDataFrame(
        [
            ('{"action":"I","lsn":"0/16B2D88","xid":1,"schema":"public","table":"t",'
             '"columns":[{"name":"id","value":1},{"name":"v","value":"x"},'
             '{"name":"w","value":null}]}',),
            ('{"action":"D","lsn":"0/16B2D90","xid":2,"schema":"public","table":"t",'
             '"columns":null,"identity":[{"name":"id","value":1}]}',),
            ('{"action":"B","lsn":"0/16B2D80","xid":1}',),  # begin: filtered
        ],
        "value string",
    )
    muts = pglogical.parse_wal2json(lines, key_cols=["id"]).collect()
    assert len(muts) == 2
    ins = next(m for m in muts if m.data is not None)
    assert json.loads(ins.data) == {"id": 1, "v": "x", "w": None}
    assert json.loads(ins.key) == ["1"]  # model contract: ARRAY of PK values
    d = next(m for m in muts if m.data is None)
    assert json.loads(d.key) == ["1"]  # delete key from identity, array-shaped
    assert d.src_table == "t" and d.ts.nanos > ins.ts.nanos


def test_mylogical_row_event_adapter(spark):
    lines = spark.createDataFrame(
        [
            ('{"type":"insert","database":"d","table":"t","gtid_seq":10,'
             '"data":{"id":1,"v":"a"},"pk":{"id":1}}',),
            ('{"type":"delete","database":"d","table":"t","gtid_seq":11,'
             '"old":{"id":1,"v":"a"},"pk":{"id":1}}',),
            ('{"type":"ddl","database":"d","table":"t","gtid_seq":12}',),  # filtered
        ],
        "value string",
    )
    muts = mylogical.parse_row_events(lines).collect()
    assert len(muts) == 2
    assert {m.ts.nanos for m in muts} == {10, 11}
    d = next(m for m in muts if m.ts.nanos == 11)
    assert d.data is None and json.loads(d.before) == {"id": 1, "v": "a"}


def test_objstore_provenance(spark, tmp_path):
    feed = str(tmp_path / "bucket")
    _write_feed(feed, FEED)
    lines = objstore.read_bucket(spark, feed)
    parsed = cdcjson.parse_lines(lines)
    rows = parsed.filter(F.col("ts").isNotNull()).collect()
    assert len(rows) == 4
    assert all(r.src_file.endswith("feed-0.ndjson") for r in rows)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    feed = str(tmp_path / "feed")
    # duplicate (time,key) envelopes across the feed
    _write_feed(
        feed,
        [
            '{"after":{"id":1,"v":"a"},"updated":"1000000000.0","key":[1]}',
            '{"after":{"id":1,"v":"a"},"updated":"1000000000.0","key":[1]}',
            '{"after":{"id":1,"v":"b"},"updated":"2000000000.0","key":[1]}',
        ],
    )
    typed = pipeline.stream_typed_mutations(
        pipeline.stream_ndjson(spark, feed), "id bigint, v string", ["id"]
    )
    dd = pipeline.streaming_dedup_time_key(typed, ["id"])
    q = (
        dd.writeStream.format("memory")
        .queryName("dd_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("select * from dd_out").collect()
    assert len(rows) == 2  # duplicate (time,key) suppressed


def test_streaming_applier_routes_cas_rejects_to_dlq(spark, tmp_path):
    from cdc_sink_spark.operators.apply import ApplyConfig
    from cdc_sink_spark.operators.dlq import DeadLetterQueue

    feed = str(tmp_path / "feed")
    target = str(tmp_path / "target")
    _write_feed(
        feed,
        [
            '{"after":{"id":1,"v":"new","ver":9},"updated":"1.0","key":[1]}',
            '{"after":{"id":2,"v":"stale","ver":1},"updated":"2.0","key":[2]}',
        ],
    )
    spark.createDataFrame(
        [Row(id=1, v="x", ver=1), Row(id=2, v="y", ver=5)], "id bigint, v string, ver bigint"
    ).write.parquet(target)
    dlq = DeadLetterQueue(spark, str(tmp_path / "dlq"))
    lines = pipeline.stream_ndjson(spark, feed)
    typed = pipeline.stream_typed_mutations(lines, "id bigint, v string, ver bigint", ["id"])
    q = (
        typed.writeStream.foreachBatch(
            pipeline.StreamingApplier(
                target, ["id"], ApplyConfig(cas_columns=["ver"]), dlq=dlq, target_table="db.t"
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_ap"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = {r.id: (r.v, r.ver) for r in spark.read.parquet(target).collect()}
    assert out == {1: ("new", 9), 2: ("y", 5)}
    d = dlq.read().collect()
    assert len(d) == 1 and d[0].reason == "cas"


def test_streaming_lww_snapshot_matches_batch(spark):
    """The streaming stateful LWW over a rendered feed must agree with
    the batch LWW operator on the same mutations (sf0.001)."""
    from cdc_sink_spark.queries.cdc import _mutations
    from cdc_sink_spark.queries.runtime import streaming_lww_snapshot
    from cdc_sink_spark.operators import msort

    sf = "/root/testdata/sf0.001"
    stream_rows = {r.k: (r.val, r["__del"]) for r in streaming_lww_snapshot(spark, sf).collect()}
    m = _mutations(spark, sf)
    batch = msort.unique_by_key(m, "user_id", "ts", tie_breaker=["event_id"])
    batch_rows = {r.user_id: (float(r.value), r.is_delete) for r in batch.collect()}
    assert set(stream_rows) == set(batch_rows)
    for k, (bval, bdel) in batch_rows.items():
        sval, sdel = stream_rows[k]
        assert sdel == bdel, k
        if not bdel:  # delete winners render after=null, so val is NULL
            assert abs(float(sval) - bval) < 1e-9, k


def test_stream_stream_enrich(spark, tmp_path):
    """Fact mutations enriched against a dim-change stream within the
    join window; a dim change outside the window does not match."""
    feed_m = str(tmp_path / "facts")
    feed_d = str(tmp_path / "dims")
    base = 1704067200  # 2024-01-01T00:00Z
    _write_feed(
        feed_m,
        [
            f'{{"after":{{"id":1,"amt":5}},"updated":"{(base + 600) * 10**9}.0","key":[1]}}',
            f'{{"after":{{"id":2,"amt":7}},"updated":"{(base + 9000) * 10**9}.0","key":[2]}}',
        ],
    )
    _write_feed(
        feed_d,
        [
            f'{{"after":{{"id":1,"label":"gold"}},"updated":"{(base + 300) * 10**9}.0","key":[1]}}',
            f'{{"after":{{"id":2,"label":"late"}},"updated":"{base * 10**9}.0","key":[2]}}',
        ],
    )
    m = pipeline.stream_typed_mutations(
        pipeline.stream_ndjson(spark, feed_m), "id bigint, amt bigint", ["id"]
    )
    d = pipeline.stream_typed_mutations(
        pipeline.stream_ndjson(spark, feed_d), "id bigint, label string", ["id"]
    )
    j = pipeline.stream_stream_enrich(m, d, "id", "id")
    q = (
        j.writeStream.format("memory")
        .queryName("ss_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ss"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("select id, amt, label from ss_out").collect()
    # fact 1 matches dim change 5min earlier (inside 1h window);
    # fact 2's dim change is 2.5h before it -> no match
    assert [(r.id, r.amt, r.label) for r in rows] == [(1, 5, "gold")]


def test_conveyor_incremental_equals_backfill(spark):
    """Applying the feed in two halves equals applying it all at once —
    the composability the staged/resolved pipeline depends on."""
    from cdc_sink_spark.queries.cdc import _mutations, _target, _typed_muts
    from cdc_sink_spark.operators.apply import apply_mutations

    sf = "/root/testdata/sf0.001"
    target = _target(spark, sf)
    muts = _typed_muts(spark, sf)
    cut = 1704844800 * 10**9  # 2024-01-10
    first = muts.filter(F.col("__ts.nanos") <= cut)
    second = muts.filter(F.col("__ts.nanos") > cut)

    all_at_once, _ = apply_mutations(target, muts, ["id"], tie_breaker=["__tie"])
    step1, _ = apply_mutations(target, first, ["id"], tie_breaker=["__tie"])
    step2, _ = apply_mutations(step1, second, ["id"], tie_breaker=["__tie"])
    a = sorted(map(tuple, all_at_once.collect()))
    b = sorted(map(tuple, step2.collect()))
    assert a == b


def test_webhook_receiver_end_to_end(spark, tmp_path):
    """Live HTTP head (internal/source/cdc/handler.go shapes): bulk
    ndjson, 33-digit RESOLVED, and webhook-envelope POSTs spool to disk;
    the spool parses through the standard cdcjson expressions; bad auth
    gets 401 and unknown paths 404."""
    import json as _json
    import urllib.error
    import urllib.request

    from cdc_sink_spark.sources import webhook

    spool = str(tmp_path / "spool")
    rx = webhook.WebhookReceiver(spool, token="s3cr3t").start()
    base = f"http://127.0.0.1:{rx.port}"

    def post(path, body, token="s3cr3t"):
        req = urllib.request.Request(
            base + path, data=body.encode(), method="POST",
            headers={"Authorization": f"Bearer {token}"} if token else {},
        )
        try:
            with urllib.request.urlopen(req) as r:
                return r.status
        except urllib.error.HTTPError as e:
            return e.code

    try:
        ndjson_path = "/public/2024-01-02/202401021234567891234567890-abc-1-2-3-t1-1.ndjson"
        line = '{"key":[1],"after":{"id":1,"v":"a"},"updated":"7.0000000000"}'
        assert post(ndjson_path, line + "\n") == 200
        assert post(ndjson_path, "x", token="wrong") == 401
        # Reference test vector (internal/source/cdc/url_test.go:46):
        # 20200404235130 + 413968000 nanos + 0000000000 logical
        # == hlc.New(1586044290413968000, 0).
        resolved_ts = "202004042351304139680000000000000"
        assert post(f"/public/2024-01-02/{resolved_ts}.RESOLVED", "") == 200
        assert post("/public/2024-01-02/not-a-feed-file.txt", "x") == 404
        env = {
            "payload": [
                {"topic": "t1", "key": [2], "after": {"id": 2, "v": "b"},
                 "updated": "9.0000000000"},
            ],
            "length": 1,
        }
        assert post("/public", _json.dumps(env)) == 200
        assert post("/public", _json.dumps({"resolved": "10.0000000000"})) == 200
    finally:
        rx.stop()

    from cdc_sink_spark.sources import cdcjson

    lines = spark.read.text(f"{spool}/t1")
    muts = cdcjson.parse_lines(lines).collect()
    assert {m.ts.nanos for m in muts} == {7, 9}
    res = spark.read.text(f"{spool}/__resolved__").collect()
    stamps = {_json.loads(r.value)["resolved"] for r in res}
    assert stamps == {"10.0000000000", "1586044290413968000.0000000000"}


def test_webhook_parse_path_resolved_wire_format():
    """parse_path decodes the 33-digit RESOLVED filename the way
    resolved.go parseResolvedTimestamp does: YYYYMMDDHHMMSS wall clock
    (14) + intra-second nanos (9) + logical (10). Vector from
    internal/source/cdc/url_test.go:46. A naive int(ts[:23]) read would
    yield ~2e22 'nanos' — ahead of every real mutation HLC — and the
    frontier would cover unresolved mutations."""
    from cdc_sink_spark.sources.webhook import parse_path

    r = parse_path("/public/2020-04-04/202004042351304139680000000000000.RESOLVED")
    assert r == {
        "kind": "resolved",
        "schema": "public",
        "nanos": 1586044290413968000,
        "logical": 0,
    }
    # Logical digits decode independently of the nano fraction.
    r2 = parse_path("/s/2020-04-04/202004042351304139680000000000042.RESOLVED")
    assert r2["nanos"] == 1586044290413968000 and r2["logical"] == 42
    # Sanity: the parsed frontier sits below a contemporary mutation HLC.
    assert r["nanos"] < 1.8e18


def test_webhook_envelope_spark_parse(spark):
    """parse_webhook_envelope: batched payload explodes to mutations,
    resolved envelope surfaces as resolved_str — all JVM-side."""
    from cdc_sink_spark.sources import webhook

    lines = spark.createDataFrame(
        [
            ('{"payload":[{"topic":"t1","key":"[1]","after":{"id":1},'
             '"updated":"5.0000000001"},{"topic":"t2","key":"[2]","after":null,'
             '"before":{"id":2},"updated":"6.0000000000"}],"length":2}',),
            ('{"resolved":"9.0000000000"}',),
        ],
        "value string",
    )
    out = webhook.parse_webhook_envelope(lines)
    muts = out.filter(F.col("ts").isNotNull()).collect()
    assert {(m.topic, m.ts.nanos, m.ts.logical) for m in muts} == {("t1", 5, 1), ("t2", 6, 0)}
    assert _route_key_json(muts)
    res = out.filter(F.col("resolved_str").isNotNull()).collect()
    assert len(res) == 1 and res[0].resolved_str == "9.0000000000"


def _route_key_json(muts):
    d = {m.topic: m.data for m in muts}
    return json.loads(d["t1"]) == {"id": 1} and d["t2"] is None


def test_streaming_durable_checkpoint_across_restart(spark, tmp_path):
    """The applied-through frontier persists in the Memo-backed
    CheckpointGroup across pipeline restarts (staging/checkpoint wired
    into foreachBatch), advancing only after the snapshot write lands."""
    from cdc_sink_spark.operators.checkpoint import CheckpointGroup
    from cdc_sink_spark.operators.memo import Memo

    feed = str(tmp_path / "feed")
    target = str(tmp_path / "target")
    _write_feed(feed, FEED)
    spark.createDataFrame([Row(id=9, v="seed")], "id bigint, v string").write.parquet(target)
    ckpts = CheckpointGroup(Memo(spark, str(tmp_path / "memo")), "g")

    pipeline.run_pipeline_once(
        spark, feed, target, "id bigint, v string", ["id"],
        str(tmp_path / "ck1"), checkpoints=ckpts, target_table="t",
    )
    assert ckpts.resolved("t") == (4, 0)  # max applied HLC from FEED

    # Restart with new traffic: a fresh CheckpointGroup over the same
    # memo path sees the old frontier, then advances past it.
    with open(os.path.join(feed, "feed-1.ndjson"), "w") as f:
        f.write('{"after":{"id":3,"v":"c"},"updated":"8.0","key":[3]}\n')
    ckpts2 = CheckpointGroup(Memo(spark, str(tmp_path / "memo")), "g")
    assert ckpts2.resolved("t") == (4, 0)
    pipeline.run_pipeline_once(
        spark, feed, target, "id bigint, v string", ["id"],
        str(tmp_path / "ck1"), checkpoints=ckpts2, target_table="t",
    )
    assert ckpts2.resolved("t") == (8, 0)
    out = {r.id: r.v for r in spark.read.parquet(target).collect()}
    assert out == {1: "b", 3: "c", 9: "seed"}


def test_kafka_offset_marks_roundtrip(spark, tmp_path):
    """Durable consumer marks: max offset per partition persists to the
    Memo and renders as the connector's startingOffsets JSON (the
    consumer-group seek the reference performs on restart)."""
    from cdc_sink_spark.operators.memo import Memo
    from cdc_sink_spark.sources import kafka

    frame = spark.createDataFrame(
        [Row(partition=0, offset=100), Row(partition=1, offset=7), Row(partition=0, offset=102)],
        "partition int, offset long",
    )
    memo = Memo(spark, str(tmp_path / "memo"))
    marks = kafka.save_offsets(memo, "t1", frame)
    assert marks == {0: 103, 1: 8}  # next-to-read
    assert kafka.load_offsets(memo, "t1") == {0: 103, 1: 8}
    assert kafka.offsets_json("t1", marks) == '{"t1": {"0": 103, "1": 8}}'


def test_streaming_applier_replay_is_noop(spark, tmp_path):
    """once/marker wired into the micro-batch applier: replaying the
    same batch (crash between snapshot write and stream-checkpoint
    commit) applies nothing and enqueues nothing twice."""
    from cdc_sink_spark.operators.dlq import DeadLetterQueue
    from cdc_sink_spark.operators.staging import StagingTable
    from cdc_sink_spark.operators.apply import ApplyConfig

    target = str(tmp_path / "target")
    spark.createDataFrame([Row(id=1, v="z")], "id bigint, v string").write.parquet(target)
    st = StagingTable(spark, str(tmp_path / "staging"))
    dlq = DeadLetterQueue(spark, str(tmp_path / "dlq"))
    batch = spark.createDataFrame(
        [
            Row(id=1, v="a", __ts=Row(nanos=5, logical=0), __deleted=False),
            Row(id=2, v="b", __ts=Row(nanos=6, logical=0), __deleted=False),
        ],
        "id bigint, v string, __ts struct<nanos:long, logical:int>, __deleted boolean",
    )
    applier = pipeline.StreamingApplier(
        target, ["id"], cfg=ApplyConfig(cas_columns=["v"]), dlq=dlq, staging=st
    )
    applier(batch, 0)
    out1 = sorted((r.id, r.v) for r in spark.read.parquet(target).collect())
    assert out1 == [(1, "z"), (2, "b")]  # CAS: 'a' < 'z' rejected
    n_dlq1 = dlq.read().count()
    assert n_dlq1 == 1
    applier(batch, 0)  # replay: filtered by the applied ledger
    out2 = sorted((r.id, r.v) for r in spark.read.parquet(target).collect())
    assert out2 == out1
    assert dlq.read().count() == n_dlq1  # no duplicate DLQ entry


def test_streaming_applier_without_reject_rule_marks_whole_batch(spark, tmp_path):
    """With no CAS rule nothing can be rejected, so the applier skips the
    reject path: a wired DLQ never creates its directory. It still marks
    every applied mutation, deletes included, so a replay of the batch
    after a newer one has landed changes nothing."""
    from cdc_sink_spark.operators.dlq import DeadLetterQueue
    from cdc_sink_spark.operators.staging import StagingTable

    target = str(tmp_path / "target")
    spark.createDataFrame(
        [Row(id=1, v="z"), Row(id=3, v="gone")], "id bigint, v string"
    ).write.parquet(target)
    st = StagingTable(spark, str(tmp_path / "staging"))
    dlq = DeadLetterQueue(spark, str(tmp_path / "dlq"))
    applier = pipeline.StreamingApplier(target, ["id"], dlq=dlq, staging=st)
    first = _muts(spark, [(1, "a", 5), (2, "b", 6), (3, None, 7)])
    applier(first, 0)
    assert not os.path.exists(dlq.path)
    assert dlq.read().count() == 0
    assert st.filter_applied(first, ["id"], ts_col="__ts").count() == 0
    applier(_muts(spark, [(1, "c", 8), (3, "back", 9)]), 1)
    applier(first, 0)  # replay: every mutation is in the ledger
    out = {r.id: r.v for r in spark.read.parquet(target).collect()}
    assert out == {1: "c", 2: "b", 3: "back"}
    assert not os.path.exists(dlq.path)


def test_pg_test_decoding_transcript(spark):
    """contrib/test_decoding text format: BEGIN/COMMIT transaction
    assembly (xid carried forward, commit time carried backward onto
    every change line), quoted-value unescaping (doubled single quotes),
    NULLs, and delete key extraction."""
    from cdc_sink_spark.sources import pglogical

    transcript = [
        "BEGIN 501",
        "table public.t1: INSERT: id[integer]:1 v[text]:'it''s'",
        "table public.t1: UPDATE: id[integer]:1 v[text]:null",
        "COMMIT 501 (at 2024-01-01 00:00:10.5+00)",
        "BEGIN 502",
        "table public.t1: DELETE: id[integer]:1",
        "COMMIT 502 (at 2024-01-01 00:00:20+00)",
    ]
    lines = spark.createDataFrame(
        [(i, s) for i, s in enumerate(transcript)], "line_id long, value string"
    )
    out = pglogical.parse_test_decoding(lines, ["id"]).orderBy("ts").collect()
    assert len(out) == 3
    ins, upd, dele = out
    assert json.loads(ins.data) == {"id": 1, "v": "it's"}
    assert json.loads(upd.data) == {"id": 1, "v": None}
    assert ins.xid == 501 and dele.xid == 502
    assert dele.data is None and json.loads(dele.key) == ["1"]
    assert ins.ts.nanos == 1704067210_500_000_000  # commit time, not line time
    assert dele.ts.nanos == 1704067220_000_000_000
    assert {r.src_table for r in out} == {"t1"}


def test_objstore_ranges_lease_and_resume(spark, tmp_path):
    """objstore source mechanics (conn.go): lexicographic range
    discovery honors the finalization guarantee (tail past the last
    RESOLVED is not returned), the singleton lease excludes a second
    scanner, and a crash between ranges resumes from the committed
    resolved filename without reprocessing."""
    import json as _json

    from cdc_sink_spark.operators.leases import LeaseStore
    from cdc_sink_spark.operators.memo import Memo
    from cdc_sink_spark.sources import objstore

    root = tmp_path / "bucket"
    root.mkdir()
    def put(name, *lines):
        (root / name).write_text("\n".join(lines) + "\n")
    put("000-a.ndjson", '{"key":[1],"after":{"id":1,"v":"a"},"updated":"5.0000000000"}')
    put("000-zz.RESOLVED", _json.dumps({"resolved": "6.0000000000"}))
    put("001-b.ndjson", '{"key":[2],"after":{"id":2,"v":"b"},"updated":"7.0000000000"}')
    put("001-zz.RESOLVED", _json.dumps({"resolved": "8.0000000000"}))
    put("002-tail.ndjson", '{"key":[3],"after":{"id":3,"v":"c"},"updated":"9.0000000000"}')

    ranges = objstore.resolved_ranges(objstore.list_bucket(str(root)))
    assert [(r.to, r.files) for r in ranges] == [
        ("000-zz.RESOLVED", ["000-a.ndjson"]),
        ("001-zz.RESOLVED", ["001-b.ndjson"]),
    ]  # the tail file is NOT finalized

    memo = Memo(spark, str(tmp_path / "memo"))
    leases = LeaseStore(str(tmp_path / "leases"))
    seen = []

    def crash_in_second(typed, hlc):
        seen.append((sorted(r.id for r in typed.collect()), hlc))
        if len(seen) == 2:
            raise RuntimeError("crash mid range 2, before its commit")

    import pytest as _pytest
    with _pytest.raises(RuntimeError):
        objstore.scan_apply(spark, str(root), memo, crash_in_second,
                            "id bigint, v string", ["id"], leases=leases)
    # Range 1 committed (progress = its RESOLVED filename); range 2's
    # crash happened BEFORE its commit, so it will replay whole.
    assert objstore.get_last(memo, "objstore") == "000-zz.RESOLVED"
    # While scanner 1 holds the lease, scanner 2 is excluded.
    held = leases.acquire("objstore::objstore")
    assert objstore.scan_apply(spark, str(root), memo, crash_in_second,
                               "id bigint, v string", ["id"], leases=leases) == 0
    leases.release(held)
    # Restart: replays range 2 only — range 1 is never reprocessed.
    n = objstore.scan_apply(spark, str(root), memo,
                            lambda t, h: seen.append((sorted(r.id for r in t.collect()), h)),
                            "id bigint, v string", ["id"], leases=leases)
    assert n == 1
    assert seen == [([1], (6, 0)), ([2], (8, 0)), ([2], (8, 0))]
    assert objstore.get_last(memo, "objstore") == "001-zz.RESOLVED"


def test_objstore_coalesced_backlog_drain(spark, tmp_path):
    """coalesce_ranges folds every pending range into ONE distributed
    batch applied through the LAST resolved marker — same final state
    as the per-range walk (LWW apply is range-composable), one job
    instead of one per resolved file."""
    import json as _json

    from cdc_sink_spark.operators.memo import Memo
    from cdc_sink_spark.sources import objstore

    root = tmp_path / "bucket"
    root.mkdir()
    for i in range(4):
        (root / f"{i:03d}-a.ndjson").write_text(
            f'{{"key":[{i}],"after":{{"id":{i},"v":"v{i}"}},"updated":"{i + 1}.0000000000"}}\n'
        )
        (root / f"{i:03d}-zz.RESOLVED").write_text(
            _json.dumps({"resolved": f"{i + 2}.0000000000"}) + "\n"
        )
    memo = Memo(spark, str(tmp_path / "memo"))
    seen = []
    n = objstore.scan_apply(
        spark, str(root), memo,
        lambda t, h: seen.append((sorted(r.id for r in t.collect()), h)),
        "id bigint, v string", ["id"], coalesce_ranges=True,
    )
    assert n == 4  # ranges covered, via a single apply call
    assert seen == [([0, 1, 2, 3], (5, 0))]  # one batch, last frontier
    assert objstore.get_last(memo, "objstore") == "003-zz.RESOLVED"


def _kafka_frame(spark, rows):
    """rows: (partition, offset, value_json)."""
    return spark.createDataFrame(
        [Row(key=b"k", value=v.encode(), topic="t1", partition=p, offset=o,
             timestamp=None)
         for p, o, v in rows],
        "key binary, value binary, topic string, partition int, offset long, timestamp timestamp",
    )


def _mut_json(k, v, ts):
    return f'{{"key":[{k}],"after":{{"id":{k},"v":"{v}"}},"updated":"{ts}.0000000000"}}'


def test_kafka_claim_flush_on_resolved(spark, tmp_path):
    """ConsumeClaim ordering (consumer.go:88): mutations accumulate per
    partition in offset order; a resolved message flushes the epoch and
    advances the mark; the tail past the last resolved stays pending."""
    from cdc_sink_spark.operators.memo import Memo
    from cdc_sink_spark.sources import kafka

    frame = _kafka_frame(spark, [
        (0, 0, _mut_json(1, "a", 5)),
        (0, 1, _mut_json(2, "b", 6)),
        (0, 2, '{"resolved":"7.0000000000"}'),
        (0, 3, _mut_json(3, "c", 8)),        # unflushed tail
        (1, 0, _mut_json(4, "d", 5)),
        (1, 1, '{"resolved":"6.0000000000"}'),
        (1, 2, _mut_json(5, "e", 9)),        # unflushed tail
        (1, 3, '{"resolved":"10.0000000000"}'),  # second epoch closes
    ])
    memo = Memo(spark, str(tmp_path / "memo"))
    accepted, pending, marks, done = kafka.consumer_group_pass(frame, memo, "t1")
    acc = {(r.partition, r.offset) for r in accepted.collect()}
    assert acc == {(0, 0), (0, 1), (1, 0), (1, 2)}
    assert {(r.partition, r.offset) for r in pending.collect()} == {(0, 3)}
    # Marks = one past each partition's last closing resolved message.
    assert marks == {0: 3, 1: 4}
    assert kafka.load_offsets(memo, "t1") == {0: 3, 1: 4}
    assert done == {}


def test_kafka_rebalance_resumes_without_double_accept(spark, tmp_path):
    """Claim revoke/re-assign: session 2 redelivers an overlap from
    before the saved marks (the sarama rebalance path); the Setup seek
    skips it, newly-resolved epochs flush, marks stay monotone, and a
    resolved HLC past time_range_max marks the partition done."""
    from cdc_sink_spark.operators.memo import Memo
    from cdc_sink_spark.sources import kafka

    memo = Memo(spark, str(tmp_path / "memo"))
    s1 = _kafka_frame(spark, [
        (0, 0, _mut_json(1, "a", 5)),
        (0, 1, '{"resolved":"6.0000000000"}'),
        (0, 2, _mut_json(2, "b", 7)),
    ])
    acc1, pend1, marks1, _ = kafka.consumer_group_pass(s1, memo, "t1")
    assert {(r.partition, r.offset) for r in acc1.collect()} == {(0, 0)}
    assert marks1 == {0: 2}
    # Rebalance: new consumer gets the claim, broker redelivers from
    # offset 0 (overlap) plus the continuation.
    s2 = _kafka_frame(spark, [
        (0, 0, _mut_json(1, "a", 5)),      # overlap: below mark, skipped
        (0, 1, '{"resolved":"6.0000000000"}'),
        (0, 2, _mut_json(2, "b", 7)),
        (0, 3, '{"resolved":"8.0000000000"}'),
        (0, 4, _mut_json(3, "c", 99)),
        (0, 5, '{"resolved":"100.0000000000"}'),  # beyond time range: done
    ])
    acc2, pend2, marks2, done2 = kafka.consumer_group_pass(
        s2, memo, "t1", time_range_max=(50, 0)
    )
    acc = {(r.partition, r.offset) for r in acc2.collect()}
    assert acc == {(0, 2), (0, 4)}  # no double-accept of offset 0
    assert marks2 == {0: 6} and marks2[0] > marks1[0]  # monotone
    assert done2 == {0: True}
    # A third, fully-redelivered session is a complete no-op.
    acc3, _, marks3, _ = kafka.consumer_group_pass(s2, memo, "t1")
    assert acc3.count() == 0 and marks3 == {0: 6}


def test_mode_switch_flip_converges(spark):
    """switcher.go invariant (switcher_test.go): flipping modes
    mid-stream must converge to the same snapshot as a one-shot apply.
    The gate entry drives serial -> besteffort over two micro-batches;
    here we check the result equals apply_mutations of the whole feed."""
    from cdc_sink_spark.operators.apply import apply_mutations
    from cdc_sink_spark.queries import runtime
    from cdc_sink_spark.queries.cdc import _mutations

    sf = "/root/testdata/sf0.001"
    switched = runtime.streaming_mode_switch(spark, sf)
    m = _mutations(spark, sf).select(
        F.col("user_id").alias("k"),
        F.col("value").cast("double").alias("val"),
        F.col("event_id").alias("__tie"),
        F.col("ts").alias("__ts"),
        F.col("is_delete").alias("__deleted"),
    )
    target = spark.createDataFrame([], "k bigint, val double, __tie bigint")
    oneshot, _ = apply_mutations(target, m, ["k"], tie_breaker=["__tie"], ts_col="__ts")
    a = sorted(map(tuple, switched.collect()))
    b = sorted(map(tuple, oneshot.select("k", "val", "__tie").collect()))
    assert a == b


def test_mode_switch_serial_parks_uncovered(spark, tmp_path):
    """StreamingApplier in serial mode applies only mutations at or
    below the resolved frontier and parks the rest durably (core
    sequencer semantics); a later besteffort batch drains the park."""
    import json as _json

    from cdc_sink_spark.streaming import pipeline

    target = str(tmp_path / "target")
    spark.createDataFrame([Row(id=9, v="seed")], "id bigint, v string").write.parquet(target)
    resolved_dir = str(tmp_path / "resolved")
    os.makedirs(resolved_dir)
    with open(os.path.join(resolved_dir, "r.json"), "w") as f:
        f.write(_json.dumps({"resolved": "5.0000000000"}) + "\n")
    applier = pipeline.StreamingApplier(
        target, ["id"], parked_path=str(tmp_path / "parked"),
        backlog_limit=10, resolved_dir=resolved_dir,
        lag_limit_nanos=1 << 60,
    )
    batch1 = spark.createDataFrame(
        [Row(id=1, v="a", __ts=Row(nanos=4, logical=0), __deleted=False),
         Row(id=2, v="b", __ts=Row(nanos=7, logical=0), __deleted=False)],
        "id bigint, v string, __ts struct<nanos:long, logical:int>, __deleted boolean",
    )
    applier(batch1, 0)
    assert applier.mode_history == [(0, "serial")]
    out = {r.id: r.v for r in spark.read.parquet(target).collect()}
    assert out == {1: "a", 9: "seed"}  # id=2 is beyond the frontier: parked
    parked = spark.read.parquet(str(tmp_path / "parked"))
    assert [r.id for r in parked.collect()] == [2]
    # A bulk batch blows the backlog limit -> besteffort drains the park.
    bulk = spark.createDataFrame(
        [Row(id=100 + i, v=f"x{i}", __ts=Row(nanos=8 + i, logical=0), __deleted=False)
         for i in range(12)],
        "id bigint, v string, __ts struct<nanos:long, logical:int>, __deleted boolean",
    )
    applier(bulk, 1)
    assert applier.mode_history[1] == (1, "besteffort")
    out2 = {r.id: r.v for r in spark.read.parquet(target).collect()}
    assert out2[2] == "b" and len(out2) == 15
    assert spark.read.schema(bulk.schema).parquet(str(tmp_path / "parked")).count() == 0


def test_mode_switch_serial_cas_ratchet(spark, tmp_path):
    """Serial mode with CAS configured must preserve the per-window
    ratchet (window 1 raises the value; window 2's LWW winner then
    fails CAS) — i.e. the applier routes through the grouped window
    fold, not the collapsed single apply, which would end at 6."""
    import json as _json

    from cdc_sink_spark.operators.apply import ApplyConfig
    from cdc_sink_spark.streaming import pipeline

    target = str(tmp_path / "target")
    spark.createDataFrame([Row(id=1, v=5.0)], "id bigint, v double").write.parquet(target)
    resolved_dir = str(tmp_path / "resolved")
    os.makedirs(resolved_dir)
    with open(os.path.join(resolved_dir, "r.json"), "w") as f:
        f.write(_json.dumps({"resolved": "10.0000000000"}) + "\n")
        f.write(_json.dumps({"resolved": "20.0000000000"}) + "\n")
    applier = pipeline.StreamingApplier(
        target, ["id"], parked_path=str(tmp_path / "parked"),
        cfg=ApplyConfig(cas_columns=["v"]),
        backlog_limit=100, resolved_dir=resolved_dir, lag_limit_nanos=1 << 60,
    )
    batch = spark.createDataFrame(
        [Row(id=1, v=7.0, __ts=Row(nanos=5, logical=0), __deleted=False),
         Row(id=1, v=6.0, __ts=Row(nanos=15, logical=0), __deleted=False)],
        "id bigint, v double, __ts struct<nanos:long, logical:int>, __deleted boolean",
    )
    applier(batch, 0)
    assert applier.mode_history == [(0, "serial")]
    out = {r.id: r.v for r in spark.read.parquet(target).collect()}
    assert out == {1: 7.0}  # window 2's v=6 failed CAS against the ratcheted 7


def test_mode_switch_serial_toast_across_windows(spark, tmp_path):
    """Serial mode with a TOAST sentinel configured must route through
    the grouped window fold: window 2's sentinel has to resolve against
    WINDOW 1's winner ('A'), not the pre-batch target ('X') — the
    collapsed single apply would pick the window-2 row as overall LWW
    winner and resurrect 'X'."""
    import json as _json

    from cdc_sink_spark.operators.apply import ApplyConfig
    from cdc_sink_spark.streaming import pipeline

    TOAST = "__toast__"
    target = str(tmp_path / "target")
    spark.createDataFrame(
        [Row(id=1, v="X", w="w0")], "id bigint, v string, w string"
    ).write.parquet(target)
    resolved_dir = str(tmp_path / "resolved")
    os.makedirs(resolved_dir)
    with open(os.path.join(resolved_dir, "r.json"), "w") as f:
        f.write(_json.dumps({"resolved": "10.0000000000"}) + "\n")
        f.write(_json.dumps({"resolved": "20.0000000000"}) + "\n")
    applier = pipeline.StreamingApplier(
        target, ["id"], parked_path=str(tmp_path / "parked"),
        cfg=ApplyConfig(toast_sentinel=TOAST),
        backlog_limit=100, resolved_dir=resolved_dir, lag_limit_nanos=1 << 60,
    )
    batch = spark.createDataFrame(
        [Row(id=1, v="A", w="w1", __ts=Row(nanos=5, logical=0), __deleted=False),
         Row(id=1, v=TOAST, w="w2", __ts=Row(nanos=15, logical=0), __deleted=False)],
        "id bigint, v string, w string, "
        "__ts struct<nanos:long, logical:int>, __deleted boolean",
    )
    applier(batch, 0)
    assert applier.mode_history == [(0, "serial")]
    out = {r.id: (r.v, r.w) for r in spark.read.parquet(target).collect()}
    assert out == {1: ("A", "w2")}  # sentinel kept window 1's 'A', not target's 'X'


def test_extras_never_swallow_tie_breaker(spark):
    """Tie-breaker columns are pipeline metadata: with extras configured
    they must not be packed into the extras JSON and dropped before the
    LWW dedup orders by them."""
    from cdc_sink_spark.operators.apply import ApplyConfig, apply_mutations

    target = spark.createDataFrame(
        [Row(id=1, v="old", extras=None)], "id bigint, v string, extras string"
    )
    muts = spark.createDataFrame(
        [Row(id=1, v="a", stray="s1", __tie=2, __ts=Row(nanos=5, logical=0), __deleted=False),
         Row(id=1, v="b", stray="s2", __tie=1, __ts=Row(nanos=5, logical=0), __deleted=False)],
        "id bigint, v string, stray string, __tie long, "
        "__ts struct<nanos:long, logical:int>, __deleted boolean",
    )
    snap, _ = apply_mutations(
        target, muts, ["id"], ApplyConfig(extras="extras"), tie_breaker=["__tie"]
    )
    rows = snap.collect()
    assert len(rows) == 1
    # HLC tie: __tie=2 wins; extras holds only the stray column.
    assert rows[0].v == "a" and rows[0].extras == '{"stray":"s1"}'


def test_webhook_to_streaming_apply_end_to_end(spark, tmp_path):
    """The reference's main serving loop, end to end: HTTP POSTs (bulk
    ndjson + webhook envelope) -> atomic spool -> Structured Streaming
    file source -> foreachBatch apply -> target snapshot, with the
    durable HLC frontier advanced."""
    import json as _json
    import urllib.request

    from cdc_sink_spark.operators.checkpoint import CheckpointGroup
    from cdc_sink_spark.operators.memo import Memo
    from cdc_sink_spark.sources import webhook

    spool = str(tmp_path / "spool")
    rx = webhook.WebhookReceiver(spool).start()
    base = f"http://127.0.0.1:{rx.port}"

    def post(path, body):
        req = urllib.request.Request(base + path, data=body.encode(), method="POST")
        with urllib.request.urlopen(req) as r:
            assert r.status == 200

    try:
        post(
            "/public/2024-01-02/202401021234567891234567890-abc-1-2-3-t1-1.ndjson",
            '{"key":[1],"after":{"id":1,"v":"a"},"updated":"5.0000000000"}\n'
            '{"key":[2],"after":{"id":2,"v":"b"},"updated":"6.0000000000"}\n',
        )
        post(
            "/public",
            _json.dumps(
                {
                    "payload": [
                        {"topic": "t1", "key": [1], "after": {"id": 1, "v": "a2"},
                         "updated": "9.0000000000"},
                        {"topic": "t1", "key": [2], "after": None,
                         "updated": "8.0000000000"},
                    ],
                    "length": 2,
                }
            ),
        )
    finally:
        rx.stop()

    target = str(tmp_path / "target")
    spark.createDataFrame([Row(id=9, v="seed")], "id bigint, v string").write.parquet(target)
    ckpts = CheckpointGroup(Memo(spark, str(tmp_path / "memo")), "g")
    pipeline.run_pipeline_once(
        spark, f"{spool}/t1", target, "id bigint, v string", ["id"],
        str(tmp_path / "ckpt"), checkpoints=ckpts, target_table="t1",
    )
    out = {r.id: r.v for r in spark.read.parquet(target).collect()}
    # id=1 updated to 'a2' (ts 9 beats 5), id=2 deleted (ts 8 beats 6)
    assert out == {1: "a2", 9: "seed"}
    assert ckpts.resolved("t1") == (9, 0)


def test_webhook_rejects_traversal_and_bad_tokens(spark, tmp_path):
    """Security regressions: a '..' topic must not escape the spool dir,
    and a token that merely CONTAINS the real one must not authorize."""
    import urllib.error
    import urllib.request

    from cdc_sink_spark.sources import webhook

    spool = str(tmp_path / "spool")
    rx = webhook.WebhookReceiver(spool, token="s3cr3t").start()
    base = f"http://127.0.0.1:{rx.port}"

    def post(path, body, headers=None):
        req = urllib.request.Request(
            base + path, data=body.encode(), method="POST", headers=headers or {}
        )
        try:
            with urllib.request.urlopen(req) as r:
                return r.status
        except urllib.error.HTTPError as e:
            return e.code

    try:
        auth = {"Authorization": "Bearer s3cr3t"}
        # topic '..' matches the ndjson route regex but must be refused
        assert post(
            "/public/2024-01-02/a-b-c-d-e-..-1.ndjson", "evil", headers=auth
        ) == 400
        assert not os.path.exists(str(tmp_path) + "/evil")
        outside = [f for f in os.listdir(tmp_path) if f.endswith(".ndjson")]
        assert outside == []
        # superstring / substring token attacks
        assert post("/public?access_token=s3cr3tWRONG", "{}") == 401
        assert post("/public?foo_access_token=s3cr3t", "{}") == 401
        assert post("/public?access_token=s3cr3t", '{"resolved":"1.0000000000"}') == 200
    finally:
        rx.stop()


def test_pglogical_zero_padded_text_stays_quoted(spark):
    """'007' is text (RFC 8259 forbids leading-zero numbers): it must be
    JSON-quoted, not emitted as a bare (invalid) number."""
    lines = spark.createDataFrame(
        [('{"action":"I","lsn":"0/10","xid":1,"schema":"s","table":"t",'
          '"columns":[{"name":"id","value":1},{"name":"zip","value":"007"}]}',)],
        "value string",
    )
    m = pglogical.parse_wal2json(lines, key_cols=["id"]).collect()[0]
    assert json.loads(m.data) == {"id": 1, "zip": "007"}


def test_bucketed_applier_rewrites_only_touched_buckets(spark, tmp_path):
    """With n_buckets set, the micro-batch applier swaps in ONLY the
    buckets the batch's keys hash into: the final
    snapshot matches the legacy whole-rewrite result, and untouched
    bucket partitions keep their exact on-disk files (rewrite volume ∝
    touched keys, not table size)."""
    import os

    target = str(tmp_path / "target")
    seed = spark.createDataFrame(
        [Row(id=i, v=f"seed{i}") for i in range(64)], "id bigint, v string"
    )
    N_B = 8
    pipeline.init_bucketed_target(seed, target, ["id"], N_B)

    def part_files():
        out = {}
        for d in os.listdir(target):
            if d.startswith("__kb=") and d != "__kb=-1":  # skip schema sentinel
                out[d] = sorted(
                    f for f in os.listdir(os.path.join(target, d)) if f.endswith(".parquet")
                )
        return out

    before = part_files()
    assert len(before) == N_B
    batch = spark.createDataFrame(
        [
            Row(id=1, v="new1", __ts=Row(nanos=5, logical=0), __deleted=False),
            Row(id=2, v=None, __ts=Row(nanos=6, logical=0), __deleted=True),
            Row(id=999, v="ins", __ts=Row(nanos=7, logical=0), __deleted=False),
        ],
        "id bigint, v string, __ts struct<nanos:long, logical:int>, __deleted boolean",
    )
    applier = pipeline.StreamingApplier(target, ["id"], n_buckets=N_B)
    applier(batch, 0)
    after = part_files()
    touched = {
        f"__kb={r[0]}"
        for r in batch.select(pipeline.bucket_col(["id"], N_B)).distinct().collect()
    }
    assert 0 < len(touched) < N_B  # the test is vacuous if everything is touched
    for d in before:
        if d not in touched:
            assert after[d] == before[d], f"untouched {d} was rewritten"
    out = {r.id: r.v for r in spark.read.parquet(target).drop("__kb").collect()}
    assert out[1] == "new1" and 2 not in out and out[999] == "ins"
    assert len(out) == 64  # 64 seeds - 1 delete + 1 insert
    # And it matches the legacy whole-rewrite applier's result.
    legacy = str(tmp_path / "legacy")
    seed.write.parquet(legacy)
    pipeline.StreamingApplier(legacy, ["id"])(batch, 0)
    legacy_out = {r.id: r.v for r in spark.read.parquet(legacy).collect()}
    assert out == legacy_out


def test_mode_switcher_bucketed_target(spark, tmp_path):
    """StreamingApplier with a bucketed target: parked-drain across
    a mode flip still converges, and untouched bucket files survive a
    micro-batch byte-identical."""
    import os

    from cdc_sink_spark.operators.apply import ApplyConfig

    target = str(tmp_path / "target")
    parked = str(tmp_path / "parked")
    seed = spark.createDataFrame(
        [Row(id=i, v=float(i)) for i in range(64)], "id bigint, v double"
    )
    N_B = 8
    pipeline.init_bucketed_target(seed, target, ["id"], N_B)
    applier = pipeline.StreamingApplier(
        target, ["id"], parked_path=parked, backlog_limit=1_000_000, n_buckets=N_B
    )
    batch = spark.createDataFrame(
        [Row(id=3, v=100.0, __ts=Row(nanos=5, logical=0), __deleted=False)],
        "id bigint, v double, __ts struct<nanos:long, logical:int>, __deleted boolean",
    )
    files_before = {
        d: sorted(os.listdir(os.path.join(target, d)))
        for d in os.listdir(target)
        if d.startswith("__kb=")
    }
    applier(batch, 0)
    assert applier.mode_history[-1][1] == "immediate"  # no resolved feed
    touched = {
        f"__kb={r[0]}"
        for r in batch.select(pipeline.bucket_col(["id"], N_B)).distinct().collect()
    }
    for d, fs in files_before.items():
        if d not in touched:
            got = sorted(os.listdir(os.path.join(target, d)))
            assert got == fs, f"untouched {d} was rewritten"
    out = {r.id: r.v for r in spark.read.parquet(target).drop("__kb").collect()}
    assert out[3] == 100.0 and len(out) == 64


_MUT_SCHEMA = "id bigint, v string, __ts struct<nanos:long, logical:int>, __deleted boolean"


def _muts(spark, rows):
    """(id, v, nanos) triples as a mutation frame; v=None is a delete."""
    return spark.createDataFrame(
        [Row(id=i, v=v, __ts=Row(nanos=n, logical=0), __deleted=v is None) for i, v, n in rows],
        _MUT_SCHEMA,
    )


def test_bucketed_appliers_job_count(spark, tmp_path, job_count):
    """One steady-state micro-batch through the bucketed applier in four
    wirings a deployment would use (ledger + DLQ + frontier; serial mode
    over a resolved feed, without and with a CAS rule; a parked store
    without a feed) runs a pinned number of Spark jobs. The batch's
    stats, parked-row count and touched buckets ride the one job that
    materializes it, and the commit finds the buckets its side write
    left empty by listing that write's directories, so none of them runs
    a job of its own. The target read after the first batch
    infers no schema, without a CAS rule no reject path runs, the
    resolved stamps are read by one job and split the batch as literals,
    and an empty parked store is not rewritten."""
    from cdc_sink_spark.operators.apply import ApplyConfig
    from cdc_sink_spark.operators.checkpoint import CheckpointGroup
    from cdc_sink_spark.operators.dlq import DeadLetterQueue
    from cdc_sink_spark.operators.memo import Memo
    from cdc_sink_spark.operators.staging import StagingTable

    seed = spark.createDataFrame(
        [Row(id=i, v=f"seed{i}") for i in range(64)], "id bigint, v string"
    )
    warm = _muts(spark, [(5, "w", 3), (6, None, 4)])
    batch = _muts(spark, [(1, "new1", 5), (2, None, 6), (999, "ins", 7)])

    def store(name):
        return str(tmp_path / name)

    pipeline.init_bucketed_target(seed, store("t1"), ["id"], 8)
    streaming = pipeline.StreamingApplier(
        store("t1"), ["id"],
        dlq=DeadLetterQueue(spark, store("dlq")),
        target_table="t",
        checkpoints=CheckpointGroup(Memo(spark, store("memo1")), "t"),
        staging=StagingTable(spark, store("staging")),
        n_buckets=8,
    )
    os.makedirs(store("resolved"))
    with open(os.path.join(store("resolved"), "r.json"), "w") as f:
        f.write(json.dumps({"resolved": "10.0000000000"}) + "\n")
    pipeline.init_bucketed_target(seed, store("t2"), ["id"], 8)
    switching = pipeline.StreamingApplier(
        store("t2"), ["id"], parked_path=store("parked"),
        backlog_limit=100, lag_limit_nanos=1 << 60,
        resolved_dir=store("resolved"),
        checkpoints=CheckpointGroup(Memo(spark, store("memo2")), "t"),
        target_table="t",
        n_buckets=8,
    )
    pipeline.init_bucketed_target(seed, store("t3"), ["id"], 8)
    unfed = pipeline.StreamingApplier(
        store("t3"), ["id"], parked_path=store("parked3"),
        backlog_limit=100, lag_limit_nanos=1 << 60,
        checkpoints=CheckpointGroup(Memo(spark, store("memo3")), "t"),
        target_table="t",
        n_buckets=8,
    )
    pipeline.init_bucketed_target(seed, store("t4"), ["id"], 8)
    folding = pipeline.StreamingApplier(
        store("t4"), ["id"], cfg=ApplyConfig(cas_columns=["v"]),
        parked_path=store("parked4"),
        backlog_limit=100, lag_limit_nanos=1 << 60,
        resolved_dir=store("resolved"),
        checkpoints=CheckpointGroup(Memo(spark, store("memo4")), "t"),
        target_table="t",
        n_buckets=8,
    )
    streaming(warm, 0)
    switching(warm, 0)
    unfed(warm, 0)
    folding(warm, 0)
    counts = (
        job_count(lambda: streaming(batch, 1)),
        job_count(lambda: switching(batch, 1)),
        job_count(lambda: unfed(batch, 1)),
        job_count(lambda: folding(batch, 1)),
    )
    assert switching.mode_history[-1] == (1, "serial")
    assert unfed.mode_history[-1] == (1, "immediate")
    assert folding.mode_history[-1] == (1, "serial")
    assert counts == (6, 6, 4, 8)


def test_streaming_applier_serial_folds_over_covering_stamps_only(spark, tmp_path, monkeypatch):
    """A feed holds 1,000 resolved stamps (10, 20, ..., 10000) and a
    serial CAS batch spans 3 of them (HLCs 100-125, plus a row with no
    HLC, which stays pending). The applier hands the fold only the
    stamps from the batch's min HLC to the first stamp at or above its
    max (100, 110, 120, 130), and the target and parked store equal
    ``_serial_grouped_fold`` over the full list. (Spark prints at most
    25 fields of the literal array, so the full list would read 25.)"""
    from cdc_sink_spark.operators import sequencer
    from cdc_sink_spark.operators.apply import ApplyConfig

    stamps = [(10 * i, 0) for i in range(1, 1001)]
    resolved_dir = str(tmp_path / "resolved")
    os.makedirs(resolved_dir)
    with open(os.path.join(resolved_dir, "r.json"), "w") as f:
        f.writelines(json.dumps({"resolved": f"{n}.0000000000"}) + "\n" for n, _ in stamps)
    seed = spark.createDataFrame([Row(id=1, v="m"), Row(id=2, v="m")], "id bigint, v string")
    target = str(tmp_path / "target")
    seed.write.parquet(target)
    batch = _muts(spark, [(1, "n", 100), (1, "a", 112), (2, "z", 118), (3, "c", 125)]).union(
        spark.createDataFrame([Row(id=4, v="d", __ts=None, __deleted=False)], _MUT_SCHEMA)
    )
    cfg = ApplyConfig(cas_columns=["v"])
    want_snap, want_pending = sequencer._serial_grouped_fold(
        seed, batch, stamps, ["id"], cfg, ts_col="__ts"
    )
    want = (sorted(map(tuple, want_snap.collect())), sorted(map(tuple, want_pending.collect())))

    plans = []
    real = sequencer.seq_serial

    def spy(target, muts, resolved, *a, **kw):
        snap, left = real(target, muts, resolved, *a, **kw)
        plans.append(snap._jdf.queryExecution().analyzed().toString())
        return snap, left

    applier = pipeline.StreamingApplier(
        target, ["id"], cfg=cfg, parked_path=str(tmp_path / "parked"),
        resolved_dir=resolved_dir, lag_limit_nanos=1 << 60,
    )
    monkeypatch.setattr(sequencer, "seq_serial", spy)
    applier(batch, 0)
    assert applier.mode_history == [(0, "serial")]
    got_pending = spark.read.schema(batch.schema).parquet(str(tmp_path / "parked"))
    got = (
        sorted(map(tuple, spark.read.parquet(target).collect())),
        sorted(map(tuple, got_pending.collect())),
    )
    assert got == want
    assert want[0] == [(1, "n"), (2, "z"), (3, "c")]  # 'a' < 'n' fails CAS
    assert [r[0] for r in want[1]] == [4]  # no HLC: pending
    [plan] = plans
    assert 1 <= plan.count("named_struct(nanos") <= 4, plan


def test_streaming_applier_serial_replay_parks_once(spark, tmp_path):
    """A serial-mode batch replayed under its own batch id (a crash
    before the stream checkpoint commits) changes nothing: the ledger
    drops the mutation already applied, and the one beyond the frontier
    is parked once, not once per run."""
    from cdc_sink_spark.operators.staging import StagingTable

    target = str(tmp_path / "target")
    spark.createDataFrame([Row(id=9, v="seed")], "id bigint, v string").write.parquet(target)
    resolved_dir = str(tmp_path / "resolved")
    os.makedirs(resolved_dir)
    with open(os.path.join(resolved_dir, "r.json"), "w") as f:
        f.write(json.dumps({"resolved": "5.0000000000"}) + "\n")
    parked = str(tmp_path / "parked")
    applier = pipeline.StreamingApplier(
        target, ["id"], staging=StagingTable(spark, str(tmp_path / "staging")),
        parked_path=parked, resolved_dir=resolved_dir, lag_limit_nanos=1 << 60,
    )
    batch = _muts(spark, [(1, "a", 4), (2, "b", 7)])
    for _ in range(3):
        applier(batch, 0)
        out = {r.id: r.v for r in spark.read.parquet(target).collect()}
        assert out == {1: "a", 9: "seed"}
        assert [(r.id, r.v, r["__ts"].nanos) for r in spark.read.parquet(parked).collect()] == [
            (2, "b", 7)
        ]
    assert applier.mode_history == [(0, "serial")] * 3


def test_streaming_applier_cas_replay_keeps_dlq(spark, tmp_path):
    """With a CAS rule and a DLQ, a replayed batch that applied one
    mutation and rejected another leaves the DLQ and the target as they
    were: the applied mutation is in the ledger, so it is not re-judged
    against its own result ('zz' > 'zz' is false) and dead-lettered.
    The rejected one stays out of the ledger (marker.go marks exactly
    what the target took), so once the target is repaired out of band a
    replay applies it instead of dropping it as already applied."""
    from cdc_sink_spark.operators.apply import ApplyConfig
    from cdc_sink_spark.operators.dlq import DeadLetterQueue
    from cdc_sink_spark.operators.staging import StagingTable

    target = str(tmp_path / "target")
    spark.createDataFrame(
        [Row(id=1, v="seed1"), Row(id=2, v="seed2")], "id bigint, v string"
    ).write.parquet(target)
    dlq = DeadLetterQueue(spark, str(tmp_path / "dlq"))
    st = StagingTable(spark, str(tmp_path / "staging"))
    applier = pipeline.StreamingApplier(
        target, ["id"], cfg=ApplyConfig(cas_columns=["v"]), dlq=dlq,
        staging=st, parked_path=str(tmp_path / "parked"),
    )
    # id 1: 'a' < 'seed1' is a CAS reject; id 2: 'zz' > 'seed2' applies.
    batch = _muts(spark, [(1, "a", 5), (2, "zz", 6)])

    def state():
        out = {r.id: r.v for r in spark.read.parquet(target).collect()}
        return out, sorted(map(tuple, dlq.read().collect()))

    applier(batch, 0)
    first = state()
    assert first[0] == {1: "seed1", 2: "zz"} and [r[2] for r in first[1]] == ["cas"]
    # Applied id 2 is marked; rejected id 1 is not.
    assert {r.id for r in st.filter_applied(batch, ["id"], ts_col="__ts").collect()} == {1}
    applier(batch, 0)
    assert state() == first
    # The target moves backwards out of band (an operator repair); the
    # replayed mutation now wins its CAS instead of being ledger-dropped.
    spark.createDataFrame(
        [Row(id=1, v="0"), Row(id=2, v="zz")], "id bigint, v string"
    ).write.mode("overwrite").parquet(target)
    applier(batch, 1)
    assert state() == ({1: "a", 2: "zz"}, first[1])
    assert st.filter_applied(batch, ["id"], ts_col="__ts").count() == 0


def test_streaming_applier_refuses_deadline_rules(spark, tmp_path):
    """A deadline rule needs an explicit ``now``, which no micro-batch
    has: the constructor refuses it instead of the first batch failing."""
    from cdc_sink_spark.operators.apply import ApplyConfig

    with pytest.raises(ValueError, match="deadline"):
        pipeline.StreamingApplier(
            str(tmp_path / "target"), ["id"], cfg=ApplyConfig(deadlines={"v": 60.0})
        )


def _bucket_files(target):
    """Bucket directory -> {file name: bytes} (schema sentinel included)."""
    out = {}
    for d in os.listdir(target):
        if d.startswith("__kb="):
            p = os.path.join(target, d)
            out[d] = {}
            for f in os.listdir(p):
                with open(os.path.join(p, f), "rb") as fh:
                    out[d][f] = fh.read()
    return out


@pytest.mark.parametrize("kind", ["streaming", "mode_switching"])
def test_bucketed_applier_deletes_emptied_bucket(spark, tmp_path, kind):
    """A micro-batch that deletes every row of one bucket removes that
    bucket's directory: the side write has no directory for it, so the
    commit moves the old one aside and drops it. Every bucket the batch
    did not touch stays byte-identical."""
    target = str(tmp_path / "target")
    seed = spark.createDataFrame(
        [Row(id=i, v=f"seed{i}") for i in range(64)], "id bigint, v string"
    )
    pipeline.init_bucketed_target(seed, target, ["id"], 8)
    kb = {r.id: r.b for r in seed.select("id", pipeline.bucket_col(["id"], 8).alias("b")).collect()}
    emptied = kb[0]
    doomed = sorted(i for i, b in kb.items() if b == emptied)
    kept = next(i for i, b in kb.items() if b != emptied)
    batch = _muts(spark, [(i, None, 5) for i in doomed] + [(kept, "upd", 6)])
    before = _bucket_files(target)
    if kind == "streaming":
        applier = pipeline.StreamingApplier(target, ["id"], n_buckets=8)
    else:
        applier = pipeline.StreamingApplier(
            target, ["id"], parked_path=str(tmp_path / "parked"), n_buckets=8
        )
    applier(batch, 0)
    after = _bucket_files(target)
    assert f"__kb={emptied}" not in after
    for d in set(before) - {f"__kb={emptied}", f"__kb={kb[kept]}"}:
        assert after[d] == before[d], f"untouched {d} was rewritten"
    out = {r.id: r.v for r in spark.read.parquet(target).drop("__kb").collect()}
    expect = {i: f"seed{i}" for i in range(64) if i not in doomed}
    expect[kept] = "upd"
    assert out == expect


def test_bucketed_commit_failure_leaves_target_intact(spark, tmp_path):
    """The bucketed commit's snapshot reads the buckets it replaces. A
    write job that fails part-way raises and leaves every bucket
    directory byte-identical and the target readable: the snapshot is
    written beside the target, and no bucket is swapped before the
    write has finished."""
    target = str(tmp_path / "target")
    seed = spark.createDataFrame(
        [Row(id=i, v=f"seed{i}") for i in range(64)], "id bigint, v string"
    )
    pipeline.init_bucketed_target(seed, target, ["id"], 8)
    store = pipeline.TargetStore(target, ["id"], 8)
    touched = list(range(8))
    snapshot = store.read(spark, touched).withColumn(
        "v", F.when(F.col("id") == 37, F.raise_error(F.lit("boom"))).otherwise(F.col("v"))
    )
    before = _bucket_files(target)
    with pytest.raises(Exception, match="boom"):
        store.commit(snapshot, touched)
    assert _bucket_files(target) == before
    out = {r.id: r.v for r in spark.read.parquet(target).drop("__kb").collect()}
    assert out == {i: f"seed{i}" for i in range(64)}


def test_unbucketed_commit_killed_mid_swap_recovers_on_open(spark, tmp_path, monkeypatch):
    """A kill between the two renames of the unbucketed commit's swap
    leaves the target aside, not lost: the next TargetStore opened on
    the path restores it, and the target reads as it was before the
    commit."""
    target = str(tmp_path / "target")
    seed = spark.createDataFrame(
        [Row(id=i, v=f"seed{i}") for i in range(16)], "id bigint, v string"
    )
    seed.write.parquet(target)
    store = pipeline.TargetStore(target, ["id"], None)
    snapshot = store.read(spark, None).withColumn("v", F.lit("new"))
    rename = os.rename

    def killed_before_commit(src, dst, *a, **k):
        if os.path.abspath(dst) == os.path.abspath(target):
            raise OSError("killed before the rename onto the live target")
        return rename(src, dst, *a, **k)

    monkeypatch.setattr(os, "rename", killed_before_commit)
    with pytest.raises(OSError, match="killed"):
        store.commit(snapshot, None)
    monkeypatch.undo()
    pipeline.TargetStore(target, ["id"], None)  # reopen
    out = {r.id: r.v for r in spark.read.parquet(target).collect()}
    assert out == {i: f"seed{i}" for i in range(16)}


_CRASH_EXIT = {"written": 21, "mid_swap": 22, "half": 23}

# A child process applies batch 0 through _crash_applier and calls
# os._exit at one durable step of the bucketed commit: after the side
# write, before any swap ("written"); between the two renames of the
# first swap that has an old bucket to move aside ("mid_swap"); or
# after argv[3] bucket swaps ("half").
_CRASH_CHILD = """
import os, sys
from cdc_sink_spark.operators import artifact
from cdc_sink_spark.session import get_spark
from tests.test_streaming_sources import _CRASH_EXIT, _CRASH_ROWS, _crash_applier, _muts

root, point, half = sys.argv[1], sys.argv[2], int(sys.argv[3])
spark = get_spark("crash-child", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
target = os.path.abspath(os.path.join(root, "target"))
swapped, rename, replace = [], os.rename, artifact.replace_dir

def replace_or_die(new, live):
    if os.path.dirname(os.path.abspath(live)) == target:
        if point == "written" or (point == "half" and len(swapped) == half):
            os._exit(_CRASH_EXIT[point])
        swapped.append(live)
    replace(new, live)

def rename_or_die(src, dst):
    rename(src, dst)
    if point == "mid_swap" and os.path.dirname(os.path.abspath(dst)) == target:
        os._exit(_CRASH_EXIT[point])

artifact.replace_dir = replace_or_die
os.rename = rename_or_die
_crash_applier(spark, root)(_muts(spark, _CRASH_ROWS), 0)
sys.exit(1)  # the kill point was never reached
"""


def _crash_applier(spark, root):
    """The replicate_steady wiring: ledger, frontier, DLQ, 8 buckets."""
    from cdc_sink_spark.operators.checkpoint import CheckpointGroup
    from cdc_sink_spark.operators.dlq import DeadLetterQueue
    from cdc_sink_spark.operators.memo import Memo
    from cdc_sink_spark.operators.staging import StagingTable

    return pipeline.StreamingApplier(
        os.path.join(root, "target"), ["id"],
        dlq=DeadLetterQueue(spark, os.path.join(root, "dlq")),
        target_table="t",
        checkpoints=CheckpointGroup(Memo(spark, os.path.join(root, "memo")), "t"),
        staging=StagingTable(spark, os.path.join(root, "staging")),
        n_buckets=8,
    )


# (id, v, nanos) mutations over most buckets: updates, a key written
# twice, deletes, and an insert of key 999.
_CRASH_ROWS = (
    [(i, f"new{i}", 5 + i) for i in range(12)]
    + [(3, "late", 40), (20, None, 30), (21, None, 30), (22, None, 30), (999, "ins", 50)]
)


@pytest.mark.parametrize(
    "point,new_bucket",
    [("written", False), ("mid_swap", False), ("half", False), ("half", True)],
)
def test_bucketed_commit_killed_in_child_converges_on_replay(
    spark, tmp_path, point, new_bucket
):
    """A child process with its own Spark session applies one batch to a
    bucketed target and dies (``os._exit``) at one step of the commit:
    after the side write, between the two renames of a bucket swap, or
    after half the touched buckets are swapped. A fresh applier then
    replays the batch under the same id. The ledger was never marked, so
    the whole batch is applied again over buckets that are each before
    or after it, and the target equals the LWW model with no ``.old`` or
    ``.next`` directory left. With ``new_bucket`` the seed leaves key
    999's bucket without a directory, so its swap is a plain rename in."""
    import subprocess
    import sys

    root = str(tmp_path)
    kb = pipeline.bucket_col(["id"], 8)
    ids = spark.range(64).union(spark.range(999, 1000)).select("id", kb.alias("b"))
    bucket_of = {r.id: r.b for r in ids.collect()}
    seed = {
        i: f"seed{i}" for i in range(64)
        if not (new_bucket and bucket_of[i] == bucket_of[999])
    }
    pipeline.init_bucketed_target(
        spark.createDataFrame(sorted(seed.items()), "id bigint, v string"),
        os.path.join(root, "target"), ["id"], 8,
    )
    touched = {bucket_of[i] for i, _, _ in _CRASH_ROWS}
    assert len(touched) > 2
    if new_bucket:
        assert not os.path.isdir(os.path.join(root, "target", f"__kb={bucket_of[999]}"))
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    child = subprocess.run(
        [sys.executable, "-c", _CRASH_CHILD, root, point, str(len(touched) // 2)],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env, timeout=300,
    )
    assert child.returncode == _CRASH_EXIT[point]

    _crash_applier(spark, root)(_muts(spark, _CRASH_ROWS), 0)
    model = dict(seed)
    for i, v, _ in sorted(_CRASH_ROWS, key=lambda r: r[2]):
        if v is None:
            model.pop(i, None)
        else:
            model[i] = v
    out = spark.read.parquet(os.path.join(root, "target")).drop("__kb").collect()
    assert len(out) == len(model)
    assert {r.id: r.v for r in out} == model
    left = [
        os.path.join(d, n) for d, dirs, _ in os.walk(root) for n in dirs
        if n.endswith((".old", ".next"))
    ]
    assert left == []


def test_streaming_applier_ledger_guards_cross_batch_redelivery(spark, tmp_path):
    """A mutation redelivered in a LATER micro-batch, under a new batch
    id, must not overwrite the newer row an earlier batch applied: the
    target carries no HLC, so only the applied ledger's (key, HLC)
    anti-join can drop it."""
    from cdc_sink_spark.operators.staging import StagingTable

    target = str(tmp_path / "target")
    spark.createDataFrame([Row(id=0, v="seed")], "id bigint, v string").write.parquet(target)
    applier = pipeline.StreamingApplier(
        target, ["id"], staging=StagingTable(spark, str(tmp_path / "staging"))
    )
    applier(_muts(spark, [(1, "old", 5)]), 0)
    applier(_muts(spark, [(1, "new", 6)]), 1)
    applier(_muts(spark, [(1, "old", 5)]), 2)  # redelivered
    out = {r.id: r.v for r in spark.read.parquet(target).collect()}
    assert out == {0: "seed", 1: "new"}


@pytest.mark.parametrize("kind", ["streaming", "mode_switching"])
def test_applier_releases_its_checkpoints(spark, tmp_path, kind):
    """A micro-batch leaves no RDD pinned behind it: every checkpoint the
    applier takes (the materialized batch, the rejects, the DLQ's
    rendered frame) is freed before the call returns, with the DLQ
    writing CAS rejects."""
    from cdc_sink_spark.operators.apply import ApplyConfig
    from cdc_sink_spark.operators.checkpoint import CheckpointGroup
    from cdc_sink_spark.operators.dlq import DeadLetterQueue
    from cdc_sink_spark.operators.memo import Memo
    from cdc_sink_spark.operators.staging import StagingTable

    target = str(tmp_path / "target")
    seed = spark.createDataFrame(
        [Row(id=i, v=f"seed{i}") for i in range(64)], "id bigint, v string"
    )
    pipeline.init_bucketed_target(seed, target, ["id"], 8)
    dlq = DeadLetterQueue(spark, str(tmp_path / "dlq"))
    cfg = ApplyConfig(cas_columns=["v"])
    if kind == "streaming":
        applier = pipeline.StreamingApplier(
            target, ["id"], cfg=cfg, dlq=dlq, target_table="t",
            checkpoints=CheckpointGroup(Memo(spark, str(tmp_path / "memo")), "t"),
            staging=StagingTable(spark, str(tmp_path / "staging")),
            n_buckets=8,
        )
    else:
        applier = pipeline.StreamingApplier(
            target, ["id"], parked_path=str(tmp_path / "parked"), cfg=cfg, dlq=dlq,
            target_table="t", n_buckets=8,
        )
    # id 1: 'a' < 'seed1' is a CAS reject; id 2: 'zz' > 'seed2' applies.
    batch = _muts(spark, [(1, "a", 5), (2, "zz", 6)])
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = set(rdds().keySet())
    applier(batch, 0)
    assert set(rdds().keySet()) - before == set()
    assert [r.reason for r in dlq.read().collect()] == ["cas"]
    out = {r.id: r.v for r in spark.read.parquet(target).drop("__kb").collect()}
    assert out[1] == "seed1" and out[2] == "zz"


def test_save_offsets_respects_unflushed_tail(spark, tmp_path):
    """A resolved-gated frame marks only CLOSED epochs: mutations after
    the last resolved message are pending, and max(offset)+1 would skip
    them forever on resume."""
    from cdc_sink_spark.operators.memo import Memo

    frame = spark.createDataFrame(
        [Row(partition=0, offset=o,
             value=b'{"after":{"id":1},"updated":"1.0","key":[1]}')
         for o in (0, 1, 2)]
        + [Row(partition=0, offset=3, value=b'{"resolved":"5.0000000000"}')]
        + [Row(partition=0, offset=o,
               value=b'{"after":{"id":2},"updated":"6.0","key":[2]}')
           for o in (4, 5)],
        "partition int, offset long, value binary",
    )
    memo = Memo(spark, str(tmp_path / "memo"))
    marks = kafka.save_offsets(memo, "t1", frame)
    assert marks == {0: 4}  # just past the resolved closer, NOT past the tail


def test_bare_envelope_without_event_is_upsert(spark):
    """A bare line with no __event__ is an upsert: __deleted must be
    False, never NULL (a NULL deleted flag silently drops the joined
    target row in apply's three-valued filter)."""
    from cdc_sink_spark.sources import cdcjson

    lines = spark.createDataFrame(
        [('{"pk":1,"v":2,"__crdb__":{"updated":"9.0000000000"}}',)], "value string"
    )
    m = cdcjson.parse_bare_lines(lines, "pk bigint, v bigint", ["pk"]).collect()[0]
    assert m["__deleted"] is False


def test_mode_switch_final_rejects_drain_to_dlq_not_parked(spark, tmp_path):
    """CAS/deadline rejections are FINAL (the ratchet only rises, time
    only moves forward): StreamingApplier must route them to the DLQ
    instead of the parked store — re-parking would re-apply and re-park
    the same rows every micro-batch forever and inflate the backlog count
    feeding switcher_mode (a sustained CAS conflict could latch the
    pipeline into besteffort permanently)."""
    from cdc_sink_spark.operators.apply import ApplyConfig
    from cdc_sink_spark.operators.dlq import DeadLetterQueue
    from cdc_sink_spark.streaming import pipeline

    target = str(tmp_path / "target")
    spark.createDataFrame([Row(id=1, v=5.0)], "id bigint, v double").write.parquet(target)
    dlq = DeadLetterQueue(spark, str(tmp_path / "dlq"))
    applier = pipeline.StreamingApplier(
        target, ["id"], parked_path=str(tmp_path / "parked"),
        cfg=ApplyConfig(cas_columns=["v"]),
        backlog_limit=100, dlq=dlq,  # no resolved feed -> immediate mode
    )
    schema = ("id bigint, v double, __ts struct<nanos:long, logical:int>, "
              "__deleted boolean")
    batch = spark.createDataFrame(
        [Row(id=1, v=3.0, __ts=Row(nanos=9, logical=0), __deleted=False),
         Row(id=2, v=1.0, __ts=Row(nanos=9, logical=0), __deleted=False)],
        schema,
    )
    applier(batch, 0)
    out = {r.id: r.v for r in spark.read.parquet(target).collect()}
    assert out == {1: 5.0, 2: 1.0}  # v=3 lost CAS; id=2 applied fresh
    # The final rejection is in the DLQ, NOT the parked store.
    assert spark.read.schema(batch.schema).parquet(str(tmp_path / "parked")).count() == 0
    assert dlq.read("cas").count() == 1
    # Next batch: backlog must not carry the rejection forward, and the
    # idempotent enqueue must not duplicate the DLQ entry.
    applier(spark.createDataFrame(
        [Row(id=3, v=2.0, __ts=Row(nanos=10, logical=0), __deleted=False)], schema), 1)
    assert dlq.read("cas").count() == 1
    assert spark.read.schema(batch.schema).parquet(str(tmp_path / "parked")).count() == 0


def test_mode_switch_final_rejects_implicit_dlq_without_config(spark, tmp_path):
    """Without a DLQ configured, final rejections drain to an IMPLICIT
    durable queue beside the parked store (parked_path + "_dlq") —
    never silently dropped (an in-memory counter would zero on restart),
    never re-parked."""
    from cdc_sink_spark.operators.apply import ApplyConfig
    from cdc_sink_spark.operators.dlq import DeadLetterQueue
    from cdc_sink_spark.streaming import pipeline

    target = str(tmp_path / "target")
    spark.createDataFrame([Row(id=1, v=5.0)], "id bigint, v double").write.parquet(target)
    applier = pipeline.StreamingApplier(
        target, ["id"], parked_path=str(tmp_path / "parked"),
        cfg=ApplyConfig(cas_columns=["v"]), backlog_limit=100,
    )
    batch = spark.createDataFrame(
        [Row(id=1, v=3.0, __ts=Row(nanos=9, logical=0), __deleted=False)],
        "id bigint, v double, __ts struct<nanos:long, logical:int>, __deleted boolean",
    )
    applier(batch, 0)
    assert spark.read.schema(batch.schema).parquet(str(tmp_path / "parked")).count() == 0
    implicit = DeadLetterQueue(spark, str(tmp_path / "parked") + "_dlq")
    assert implicit.read("cas").count() == 1


def test_shared_feed_renders_once_and_invalidates(spark, sf_dir):
    """_shared_feed must render exactly once per (sf_dir, fingerprint,
    params): reuse on repeat invocations, re-render when the params or
    the source-table footers change (the band-index staleness contract
    applied to streaming feeds). An interrupted render publishes no
    version: the next call renders again and deletes its side directory."""
    import shutil

    from cdc_sink_spark.queries import runtime

    sf = sf_dir
    calls = {"n": 0}

    def render(d):
        calls["n"] += 1
        with open(os.path.join(d, "data.ndjson"), "w") as f:
            f.write('{"x": 1}\n')

    f1 = runtime._shared_feed(spark, sf, "testfeed", {"layout": 1}, render)
    root = os.path.dirname(f1)
    try:
        assert calls["n"] == 1 and os.path.isfile(os.path.join(f1, "data.ndjson"))
        f2 = runtime._shared_feed(spark, sf, "testfeed", {"layout": 1}, render)
        assert f2 == f1 and calls["n"] == 1, "second invocation must reuse the feed"
        # Param change invalidates.
        f2 = runtime._shared_feed(spark, sf, "testfeed", {"layout": 2}, render)
        assert f2 != f1 and calls["n"] == 2

        def interrupted(d):
            render(d)
            raise KeyboardInterrupt  # killed mid-render

        with pytest.raises(KeyboardInterrupt):
            runtime._shared_feed(spark, sf, "testfeed", {"layout": 3}, interrupted)
        side = set(os.listdir(root)) - {os.path.basename(f1), os.path.basename(f2)}
        assert len(side) == 1, side  # a side directory, no third version
        f3 = runtime._shared_feed(spark, sf, "testfeed", {"layout": 3}, render)
        assert calls["n"] == 4, "an interrupted build must not be served"
        assert os.path.isfile(os.path.join(f3, "data.ndjson"))
        # The side directory and the oldest version are deleted.
        assert sorted(os.listdir(root)) == sorted(map(os.path.basename, (f2, f3)))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        os.remove(root + ".lock")


def test_shared_feed_reader_survives_concurrent_rebuild(spark, sf_dir):
    """One process reads the feed returned for one set of params while
    another process publishes the feed for new params: every file of
    the first feed stays present and byte-identical throughout."""
    import shutil
    import subprocess
    import sys

    from cdc_sink_spark.queries import runtime

    sf = sf_dir

    def render(d):
        for i in range(8):
            with open(os.path.join(d, f"part-{i}.ndjson"), "w") as f:
                f.write(f'{{"x": {i}}}\n' * 1000)

    feed = runtime._shared_feed(spark, sf, "readerfeed", {"layout": "a"}, render)
    want = {}
    for name in os.listdir(feed):
        with open(os.path.join(feed, name), "rb") as f:
            want[name] = f.read()
    # The other process has no Spark session: the events fingerprint
    # reads parquet footers only.
    child = subprocess.Popen(
        [sys.executable, "-c", (
            "import os, sys, time\n"
            "from cdc_sink_spark import session\n"
            "from cdc_sink_spark.queries import runtime\n"
            "session.table = lambda *a, **k: None\n"
            "def render(d):\n"
            "    for i in range(50):\n"
            "        with open(os.path.join(d, f'part-{i}.ndjson'), 'w') as f:\n"
            "            f.write('{}\\n')\n"
            "        time.sleep(0.01)\n"
            "runtime._shared_feed(None, sys.argv[1], 'readerfeed', {'layout': 'b'}, render)\n"
        ), sf],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    try:
        reads = 0
        while child.poll() is None or reads == 0:
            for name, data in want.items():
                with open(os.path.join(feed, name), "rb") as f:
                    assert f.read() == data, name
            reads += 1
        assert child.returncode == 0
        assert sorted(os.listdir(feed)) == sorted(want)
    finally:
        child.kill()
        child.wait()
        shutil.rmtree(os.path.dirname(feed), ignore_errors=True)
        os.remove(os.path.dirname(feed) + ".lock")
