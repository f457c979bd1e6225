"""crep / ident / memo / schemawatch / dlq / switcher / chaos / plans."""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DoubleType, LongType, TimestampType

from cdc_sink_spark.functions import crep, ident
from cdc_sink_spark.operators import dlq, memo, sequencer
from cdc_sink_spark.plans import inspect


def test_crep_numeric_equivalence(spark):
    df = spark.createDataFrame(
        [Row(i=1, d=1.0, s="1.00")], "i long, d double, s string"
    )
    out = df.select(
        crep.canonical("i", LongType()).alias("ci"),
        crep.canonical("d", DoubleType()).alias("cd"),
        crep.canonical(F.col("s").cast("double"), DoubleType()).alias("cs"),
    ).collect()[0]
    assert out.ci == out.cd == out.cs == "1"


def test_crep_bool_null(spark):
    df = spark.createDataFrame([Row(b=True, n=None)], "b boolean, n boolean")
    out = df.select(
        crep.canonical("b", BooleanType()).alias("cb"),
        crep.canonical("n", BooleanType()).alias("cn"),
    ).collect()[0]
    assert out.cb == "true" and out.cn == crep.NULL_SENTINEL


def test_ident_case_insensitive_preserving():
    a, b = ident.Ident("MyTable"), ident.Ident("mytable")
    assert a == b and hash(a) == hash(b)
    assert str(a) == "MyTable" and a.quoted() == '"MyTable"'


def test_ident_qualified_parse():
    t = ident.Table.parse('db."we.ird".tbl')
    assert t.schema.raw == "we.ird"
    assert t.quoted() == '"db"."we.ird"."tbl"'
    assert ident.Table.parse("just_table").table.raw == "just_table"


def test_memo_lww(spark, tmp_path):
    m = memo.Memo(spark, str(tmp_path / "memo"))
    assert m.get("missing") is None
    m.put("ckpt", "1.0")
    m.put("ckpt", "2.0")
    m.put("other", "x")
    assert m.get("ckpt") == "2.0" and m.get("other") == "x"


def test_schema_snapshot_and_diff(spark, sf_dir):
    snap = memo.schema_snapshot(spark, sf_dir, ["region", "nation"])
    assert {r.table_name for r in snap.collect()} == {"region", "nation"}
    # simulate drift: drop a column, retype another
    new = snap.filter(~((F.col("table_name") == "region") & (F.col("column_name") == "r_name")))
    new = new.withColumn(
        "type_name",
        F.when(F.col("column_name") == "n_nationkey", F.lit("bigint")).otherwise(
            F.col("type_name")
        ),
    )
    changes = {(r.table_name, r.column_name): r.change for r in memo.schema_diff(snap, new).collect()}
    assert changes[("region", "r_name")] == "removed"
    assert changes[("nation", "n_nationkey")] == "retyped"


def test_apply_with_evolution_add_and_drop(spark, tmp_path):
    """schemawatch re-plan mid-stream: a feed that adds a column widens
    the target (NULL backfill) and keeps applying; a feed that drops a
    column is reported (target keeps the column; untouched rows keep
    their values); the drift is journaled to the memo."""
    from cdc_sink_spark.operators.memo import Memo
    from cdc_sink_spark.operators.schemawatch import apply_with_evolution

    mm = Memo(spark, str(tmp_path / "memo"))
    target = spark.createDataFrame(
        [Row(id=1, v="a"), Row(id=2, v="b")], "id bigint, v string"
    )
    # Batch 1: feed ADDS column w.
    b1 = spark.createDataFrame(
        [Row(id=2, v="b2", w=20, __ts=Row(nanos=5, logical=0), __deleted=False),
         Row(id=3, v="c", w=30, __ts=Row(nanos=6, logical=0), __deleted=False)],
        "id bigint, v string, w int, __ts struct<nanos:long, logical:int>, __deleted boolean",
    )
    snap1, _, rep1 = apply_with_evolution(target, b1, ["id"], memo=mm, ts_col="__ts")
    assert rep1 == {"added": ["w"], "dropped": []}
    got = {r.id: (r.v, r.w) for r in snap1.collect()}
    assert got == {1: ("a", None), 2: ("b2", 20), 3: ("c", 30)}
    # Batch 2: feed DROPS v. Reported; target keeps the column, untouched
    # rows keep values, the upserted row gets the remapped-UPSERT NULL.
    b2 = spark.createDataFrame(
        [Row(id=3, w=31, __ts=Row(nanos=7, logical=0), __deleted=False)],
        "id bigint, w int, __ts struct<nanos:long, logical:int>, __deleted boolean",
    )
    snap2, _, rep2 = apply_with_evolution(snap1, b2, ["id"], memo=mm, ts_col="__ts")
    assert rep2 == {"added": [], "dropped": ["v"]}
    got2 = {r.id: (r.v, r.w) for r in snap2.collect()}
    assert got2 == {1: ("a", None), 2: ("b2", 20), 3: (None, 31)}
    # Drift journaled once per evolution step, keyed by the column set.
    assert mm.get("schemawatch::target::id,v,w") is not None


def test_dlq_roundtrip(spark, tmp_path):
    q = dlq.DeadLetterQueue(spark, str(tmp_path / "dlq"))
    rejected = spark.createDataFrame(
        [Row(id=1, val="x", __reason="cas"), Row(id=2, val="y", __reason="deadline")],
        "id long, val string, __reason string",
    )
    q.enqueue(rejected, "db.public.t")
    assert q.read().count() == 2
    assert q.read("cas").count() == 1
    replay = q.replayable("cas", "id long, val string").collect()
    assert replay[0].id == 1 and replay[0].val == "x"


def test_dlq_dedupes_within_batch_and_across_enqueues(spark, tmp_path):
    """Duplicate rejections WITHIN one batch (deadline-expired rows split
    off before LWW dedup can carry per-key dups) enqueue once; a replayed
    batch enqueues nothing new."""
    q = dlq.DeadLetterQueue(spark, str(tmp_path / "dlq"))
    rejected = spark.createDataFrame(
        [Row(id=1, val="x", __reason="deadline"),
         Row(id=1, val="x", __reason="deadline"),
         Row(id=2, val="y", __reason="cas")],
        "id long, val string, __reason string",
    )
    q.enqueue(rejected, "db.public.t")
    assert q.read().count() == 2
    q.enqueue(rejected, "db.public.t")  # crash-replayed micro-batch
    assert q.read().count() == 2


def test_switcher_thresholds():
    assert sequencer.switcher_mode(10, 0) == "serial"
    assert sequencer.switcher_mode(1_000_000, 0) == "besteffort"
    assert sequencer.switcher_mode(0, 120 * 1_000_000_000) == "besteffort"


def test_chaos_convergence(spark):
    """Duplicated mutations must converge to the same snapshot (msort
    LWW + idempotent apply), mirroring the reference's chaos tests."""
    from cdc_sink_spark.operators.apply import apply_mutations

    muts = spark.createDataFrame(
        [
            Row(id=i % 5, val=f"v{i}", event_id=i,
                __ts=Row(nanos=i, logical=0), __deleted=False)
            for i in range(20)
        ],
        "id bigint, val string, event_id bigint, "
        "__ts struct<nanos:long, logical:int>, __deleted boolean",
    )
    target = spark.createDataFrame([], "id bigint, val string, event_id bigint")
    clean, _ = apply_mutations(target, muts, ["id"], tie_breaker=["event_id"])
    chaotic = sequencer.seq_chaos(muts, dup_mod=3)
    noisy, _ = apply_mutations(target, chaotic, ["id"], tie_breaker=["event_id"])
    assert sorted(map(tuple, clean.collect())) == sorted(map(tuple, noisy.collect()))


def test_plan_inspect_helpers(spark, sf_dir):
    from cdc_sink_spark.queries.analytic import q1_pricing_summary, q5_local_supplier_volume

    q1 = q1_pricing_summary(spark, sf_dir)
    assert inspect.has_pushed_filter(q1, "l_shipdate")
    assert inspect.has_partial_aggregate(q1)
    cols = inspect.scan_columns(q1)[0]
    assert "l_orderkey" not in cols and "l_quantity" in cols
    assert inspect.broadcast_join_count(q5_local_supplier_volume(spark, sf_dir)) >= 3


def test_no_cartesian_products_anywhere(spark, sf_dir):
    """Every registered query plans without a CartesianProduct, and any
    BroadcastNestedLoopJoin is a deliberate tiny-broadcast (scalar
    subquery / codebook) — the plan regression net for the whole
    registry."""
    from cdc_sink_spark.queries import registry

    allowed_bnlj = {
        "q22_global_sales",  # 1-row average broadcast
        "ann_ivf_assign",  # 8-row codebook broadcast
        "embedding_near_dup",  # label-blocked broadcast with range residual
        "checkpoint_resolved_window",  # two 1-row frontier aggregates
        "ann_topk_bruteforce",  # 1-row query-vector broadcast
        "ann_ivf_probe",  # codebook + 1-row query-cell broadcasts
        "tfidf_top_terms",  # 1-row corpus-size (N) broadcast
        "semantic_dedup",  # codebook broadcast + in-cell pair join
        "unigram_logprob_score",  # 1-row corpus-total broadcast
        "q11_important_parts",  # 1-row value-total broadcast
        "dlq_replay_cas",  # rejected-keys semi-join on the CAS output
        "multi_table_temporal_batch",  # 1-row pending-count joins
        "q15_top_supplier",  # 1-row max-revenue broadcast
        "bm25_topk",  # 1-row corpus-stats (N, avgdl, df) broadcast
        "kmeans_refine_step",  # 8-row codebook broadcast
        "token_drift_tv",  # 1-row totals (n_p, n_q, vocab) broadcast
    }
    for name, fn in registry.QUERIES.items():
        plan = inspect.executed_plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        if name not in allowed_bnlj:
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key join with ZERO shuffles —
    the co-located join layout for recurring 100TB fact-fact joins."""
    from cdc_sink_spark.plans import bucketing
    from cdc_sink_spark.session import table as t

    import shutil

    spark.sql("CREATE DATABASE IF NOT EXISTS buckets_test")
    spark.catalog.setCurrentDatabase("buckets_test")
    for tbl in ("orders_b", "lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree("spark-warehouse/buckets_test.db", ignore_errors=True)
    orders = t(spark, sf_dir, "orders")
    lineitem = t(spark, sf_dir, "lineitem")
    bucketing.write_bucketed(orders, "orders_b", ["o_orderkey"], 8)
    bucketing.write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_b", ["o_orderkey"], 8
    )
    j = bucketing.colocated_join(spark, "lineitem_b", "orders_b", ["o_orderkey"])
    assert j.count() > 0
    plan = inspect.executed_plan(j)
    assert "Exchange" not in plan, plan[:2000]
    spark.catalog.setCurrentDatabase("default")


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    """A filter on the partition column shows up as a PartitionFilter
    and the pruned scan reads only matching directories."""
    from cdc_sink_spark.plans import bucketing
    from cdc_sink_spark.session import table as t

    ev = t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    out = str(tmp_path / "events_by_day")
    bucketing.write_partitioned(ev, out, ["day"])

    back = spark.read.parquet(out).filter(F.col("day") == "2024-01-05")
    plan = inspect.executed_plan(back)
    assert "PartitionFilters: [" in plan and "day" in plan.split("PartitionFilters: [")[1].split("]")[0]
    assert back.count() == ev.filter(F.col("day") == "2024-01-05").count()


def test_dlq_read_survives_empty_appends(spark, tmp_path):
    """An all-clean pipeline appends empty rejected batches; the fixed
    DLQ schema must keep read()/replayable() working on a directory that
    exists but has no data files."""
    from cdc_sink_spark.operators.dlq import DeadLetterQueue

    dlq = DeadLetterQueue(spark, str(tmp_path / "dlq"))
    empty = spark.createDataFrame([], "id bigint, __reason string")
    dlq.enqueue(empty, "t")
    assert dlq.read().count() == 0
    rows = spark.createDataFrame([("1", "cas")], "id string, __reason string")
    dlq.enqueue(rows, "t")
    got = dlq.read("cas").collect()
    assert len(got) == 1 and got[0].target_table == "t"


def test_dlq_read_on_never_written_queue(spark, tmp_path):
    """A queue nothing was ever enqueued to has no directory; read()
    returns an empty frame with the fixed schema instead of failing."""
    from cdc_sink_spark.operators.dlq import DeadLetterQueue

    dlq = DeadLetterQueue(spark, str(tmp_path / "dlq"))
    dlq.enqueue(spark.createDataFrame([], "id bigint, __reason string"), "t")
    assert not os.path.exists(dlq.path)
    df = dlq.read()
    assert df.schema.simpleString() == (
        "struct<target_table:string,payload:string,reason:string>"
    )
    assert df.count() == 0 and dlq.read("cas").count() == 0
    assert dlq.replayable("cas", "id bigint").count() == 0


def test_get_spark_turns_off_origin_capture(spark):
    """get_spark() turns PySpark's per-call origin capture off, so
    building a plan does not pay four extra py4j round trips per
    function or method call."""
    from pyspark.errors import utils

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    utils._enable_debugging_cache = None  # re-read it from the active session
    assert utils.is_debugging_enabled() is False


def test_memo_puts_survive_concurrent_compaction(spark, tmp_path):
    """A put from another process that lands while this one compacts is
    never lost and never fails: a subprocess puts in a loop while the
    parent forces compactions, and every key reads back at its last
    value."""
    import subprocess
    import sys
    import time

    from cdc_sink_spark.operators.memo import Memo

    path = str(tmp_path / "memo")
    n = 300
    child = subprocess.Popen(
        [sys.executable, "-c", (
            "import sys\n"
            "from cdc_sink_spark.operators.memo import Memo\n"
            "m = Memo(None, sys.argv[1])\n"
            "for i in range(int(sys.argv[2])):\n"
            "    m.put(f'k{i}', f'v{i}')\n"
            "    m.put('last', str(i))\n"
        ), path, str(n)],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    memo = Memo(spark, path)
    memo.COMPACT_THRESHOLD = 1
    compactions = []
    compact = memo._compact
    memo._compact = lambda: (compactions.append(1), compact())
    deadline = time.monotonic() + 120
    try:
        while child.poll() is None:
            assert time.monotonic() < deadline, "the putting process never finished"
            memo._maybe_compact()
    finally:
        child.kill()
        child.wait()
    assert child.returncode == 0
    assert compactions, "the parent never compacted while the child put"
    assert memo.get("last") == str(n - 1)
    assert [memo.get(f"k{i}") for i in range(n)] == [f"v{i}" for i in range(n)]


def test_dlq_concurrent_enqueue_keeps_each_reject_once(spark, tmp_path):
    """Two processes enqueue the same rejects at the same time: the
    queue ends up holding each one once. A subprocess with its own
    Spark session and this one enqueue the same batches in the same
    order, starting together."""
    import subprocess
    import sys
    import time

    path, ready = str(tmp_path / "dlq"), str(tmp_path / "ready")
    n = 4
    code = (
        "import sys\n"
        "from cdc_sink_spark.operators.dlq import DeadLetterQueue\n"
        "from cdc_sink_spark.session import get_spark\n"
        "spark = get_spark('dlq-child', shuffle_partitions=2)\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "q = DeadLetterQueue(spark, sys.argv[1])\n"
        "batches = [[(i * 10 + j, 'cas') for j in range(5)] for i in range(int(sys.argv[3]))]\n"
        "open(sys.argv[2], 'w').close()\n"
        "for b in batches:\n"
        "    q.enqueue(spark.createDataFrame(b, 'id bigint, __reason string'), 't')\n"
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    child = subprocess.Popen(
        [sys.executable, "-c", code, path, ready, str(n)],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
    )
    q = dlq.DeadLetterQueue(spark, path)
    batches = [
        spark.createDataFrame([(i * 10 + j, "cas") for j in range(5)], "id bigint, __reason string")
        for i in range(n)
    ]
    deadline = time.monotonic() + 120
    try:
        while not os.path.exists(ready):
            assert child.poll() is None, "the enqueueing process exited early"
            assert time.monotonic() < deadline, "the enqueueing process never started"
            time.sleep(0.02)
        for b in batches:
            q.enqueue(b, "t")
        child.wait(timeout=max(1.0, deadline - time.monotonic()))
    finally:
        child.kill()
        child.wait()
    assert child.returncode == 0
    payloads = [r.payload for r in q.read().collect()]
    assert sorted(payloads) == sorted(
        f'{{"id":{i * 10 + j}}}' for i in range(n) for j in range(5)
    )


def test_build_once_keeps_two_versions(tmp_path):
    """build_once builds a key once, and after three distinct keys only
    the two newest versions remain."""
    from cdc_sink_spark.operators import artifact

    root = str(tmp_path / "artifact")
    built = []

    def build(tag):
        def write(d):
            built.append(tag)
            with open(os.path.join(d, "f"), "w") as f:
                f.write(tag)
        return write

    va = artifact.build_once(root, {"k": "a"}, build("a"))
    assert artifact.build_once(root, {"k": "a"}, build("again")) == va
    vb = artifact.build_once(root, {"k": "b"}, build("b"))
    vc = artifact.build_once(root, {"k": "c"}, build("c"))
    assert built == ["a", "b", "c"]
    assert sorted(os.listdir(root)) == sorted(map(os.path.basename, (vb, vc)))
    with open(os.path.join(vc, "f")) as f:
        assert f.read() == "c"


def test_memo_compaction_bounds_files_and_survives(spark, tmp_path):
    """Compaction folds the append log once it fragments, preserving
    last-write-wins, without a window where the live dir is deleted."""
    import os as _os

    from cdc_sink_spark.operators.memo import Memo

    memo = Memo(spark, str(tmp_path / "memo"))
    memo.COMPACT_THRESHOLD = 8
    for i in range(12):
        memo.put("k", f"v{i}")
        memo.put(f"other-{i}", "x")
    n_files = sum(
        1 for f in _os.listdir(memo.path) if f.endswith(".parquet")
    )
    assert n_files <= 9  # compacted at least once
    assert memo.get("k") == "v11"
    assert memo.get("other-0") == "x"


def test_gate_flags_hugeint_drift(spark, sf_dir):
    """The local gate must catch the round-9 failure class: an un-cast
    integer SUM in the oracle returns HUGEINT from DuckDB (rendered
    decimal/float by the driver's fetch) while Spark emits bigint. The
    dtype audit — with no HUGEINT->int64 alias — must flag it, and the
    corrected CAST form must pass."""
    import sys

    sys.path.insert(0, "tools")
    import check_correctness as cc

    con = cc.connect_oracle(sf_dir)

    def q(s, d):
        return s.read.parquet(f"{d}/events.parquet").groupBy("user_id").agg(
            F.sum((F.col("event_type") == "error").cast("long")).alias("n_err")
        )

    bad = "SELECT user_id, SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err FROM events GROUP BY 1"
    good = "SELECT user_id, CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_err FROM events GROUP BY 1"
    problems_bad = cc.compare_one(spark, con, sf_dir, q, bad)
    assert any("dtype n_err" in p and "HUGEINT" in p for p in problems_bad), problems_bad
    assert cc.compare_one(spark, con, sf_dir, q, good) == []


def test_replan_columns_respects_apply_rules(spark):
    """Schema drift is computed AFTER the ApplyConfig rules: a renamed
    source column is not reported added (nor its target twin dropped),
    and ignore'd columns never graft onto the target."""
    from cdc_sink_spark.operators.apply import ApplyConfig
    from cdc_sink_spark.operators.schemawatch import replan_columns

    target = spark.createDataFrame([Row(id=1, val="x")], "id bigint, val string")
    muts = spark.createDataFrame(
        [Row(id=1, v="y", junk="z", __ts=Row(nanos=1, logical=0), __deleted=False)],
        "id bigint, v string, junk string, "
        "__ts struct<nanos:long, logical:int>, __deleted boolean",
    )
    cfg = ApplyConfig(source_names={"val": "v"}, ignore=["junk"])
    widened, report = replan_columns(
        target, muts, ["id"], meta_cols=("__ts", "__deleted"), cfg=cfg
    )
    assert report == {"added": [], "dropped": []}
    assert widened.columns == target.columns


def test_replan_columns_ignore_matches_post_rename_name(spark):
    """ignore names the POST-rename column, matching prepare_mutations'
    order (rename first, drop after): a config that renames a->b and
    ignores b must not report b as added drift nor widen the target —
    the apply itself drops that column."""
    from cdc_sink_spark.operators.apply import ApplyConfig, prepare_mutations
    from cdc_sink_spark.operators.schemawatch import replan_columns

    target = spark.createDataFrame([Row(id=1, val="x")], "id bigint, val string")
    muts = spark.createDataFrame(
        [Row(id=1, val="y", a="z", __ts=Row(nanos=1, logical=0), __deleted=False)],
        "id bigint, val string, a string, "
        "__ts struct<nanos:long, logical:int>, __deleted boolean",
    )
    cfg = ApplyConfig(source_names={"b": "a"}, ignore=["b"])
    widened, report = replan_columns(
        target, muts, ["id"], meta_cols=("__ts", "__deleted"), cfg=cfg
    )
    assert report == {"added": [], "dropped": []}
    assert widened.columns == target.columns
    # replan and apply agree: prepare_mutations drops the renamed column too
    prepared = prepare_mutations(muts, target.columns, cfg)
    assert "a" not in prepared.columns and "b" not in prepared.columns


def test_plan_inspect_no_metadata_truncation(spark, sf_dir):
    """Plan strings must carry the FULL ReadSchema/PushedFilters (the
    session raises maxMetadataStringLength): Spark's default 100-char
    truncation dropped trailing columns from scan_columns, which made
    'col not in scan' pruning assertions pass vacuously."""
    from cdc_sink_spark.plans import inspect

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")  # all 11+ cols
    cols = inspect.scan_columns(li.filter(F.col("l_quantity") > 0))
    assert cols and "l_shipdate" in cols[0] and len(cols[0]) >= 10


def test_has_pushed_filter_whole_identifier(spark, sf_dir):
    """Pushed-filter detection matches whole identifiers: a filter on
    l_quantity must not report as a pushed filter on 'quantity'."""
    from cdc_sink_spark.plans import inspect

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = li.filter(F.col("l_quantity") > 5).select("l_orderkey")
    assert inspect.has_pushed_filter(df, "l_quantity")
    assert not inspect.has_pushed_filter(df, "quantity")
    assert not inspect.has_pushed_filter(df, "l_orderkey")


def test_gate_decimal_dtypes_canonicalized(spark, sf_dir):
    """The dtype audit canonicalizes decimals WITH precision/scale on
    both sides: identical decimal(12,2) passes; a 12,2-vs-38,4 drift
    still fails (bare 'dec' on both sides would mask it)."""
    import duckdb

    from tools import check_correctness as cc

    con = cc.connect_oracle(sf_dir)

    def q(s, d):
        return s.read.parquet(f"{d}/orders.parquet").select(
            "o_orderkey", F.col("o_totalprice").cast("decimal(12,2)").alias("p")
        )

    same = "SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders"
    drift = "SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(38,4)) AS p FROM orders"
    assert cc.compare_one(spark, con, sf_dir, q, same) == []
    probs = cc.compare_one(spark, con, sf_dir, q, drift)
    assert any("dtype p" in p for p in probs), probs


def test_spread_size_parser():
    from cdc_sink_spark.session import _size_bytes

    assert _size_bytes("134217728") == 134217728
    assert _size_bytes("134217728b") == 134217728
    assert _size_bytes("128m") == 128 * 1024**2
    assert _size_bytes("128MB") == 128 * 1024**2
    assert _size_bytes("1g") == 1024**3
    assert _size_bytes("512kb") == 512 * 1024


def test_spread_is_scale_adaptive(spark, sf_dir):
    """spread() must repartition a narrow local scan up to the session
    parallelism, but become a NO-OP when the scan's estimated split
    count already covers every core — the production case, where an
    unconditional repartition(cores) would both pay an extra full
    shuffle of the payload and down-partition a wide scan."""
    from cdc_sink_spark.session import spread

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    target = spark.sparkContext.defaultParallelism
    # Tiny single-file scan: estimated splits < cores -> repartition.
    assert spread(d).rdd.getNumPartitions() == target
    # Simulate a wide scan by shrinking the split size so the SAME file
    # estimates to >= cores splits: spread must return the frame as-is.
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
        assert spread(d) is d
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_spread_like_avoids_rdd_probe_on_checkpointed_frames(spark, sf_dir):
    """A checkpointed frame has no input files, so spread()'s fallback
    is the exact df.rdd probe (~150 ms of plan conversion per call);
    passing ``like=<base scan>`` must use the scan's 1 ms file-listing
    estimate instead — same decision, zero probes (r13 VERDICT item 6)."""
    from cdc_sink_spark import session as S

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    ck = d.localCheckpoint(eager=True)
    target = spark.sparkContext.defaultParallelism
    before = S._RDD_PROBES
    out = S.spread(ck, like=d)  # narrow local scan -> repartition
    assert S._RDD_PROBES == before, "like= must not fall back to the rdd probe"
    assert out.rdd.getNumPartitions() == target
    # Without like=, the checkpointed frame must still work — via the
    # counted fallback (the counter is the regression tripwire).
    S.spread(ck)
    assert S._RDD_PROBES == before + 1


def test_bench_hot_paths_pay_no_rdd_probe(spark, sf_dir):
    """Constructing (and for eager-checkpoint queries, partially
    executing) every bench HEADLINE query must never hit spread()'s
    exact-probe fallback — the estimate path or a ``like=`` base scan
    must cover every hot call site (r13 VERDICT item 6 'Done' bar)."""
    import bench
    from cdc_sink_spark import session as S
    from cdc_sink_spark.queries import registry

    before = S._RDD_PROBES
    for name in bench.HEADLINE:
        fn = registry.QUERIES.get(name)
        assert fn is not None, name
        fn(spark, sf_dir)  # construction only; no materialization
        assert S._RDD_PROBES == before, f"{name} paid an rdd probe"


def test_release_checkpoint_frees_blocks(spark):
    """release_checkpoint frees a localCheckpoint's executor blocks, which
    df.unpersist() leaves pinned."""
    from cdc_sink_spark.session import release_checkpoint

    df = spark.range(100).localCheckpoint(eager=True)
    rdd_id = df._jdf.queryExecution().analyzed().rdd().id()

    def pinned():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().contains(rdd_id)

    df.unpersist()
    assert pinned()
    release_checkpoint(df)
    assert not pinned()
