"""Property-based tests (hypothesis): operator semantics vs an
in-Python model, the reference's behavior distilled to invariants."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from cdc_sink_spark.functions.hlc import format_hlc, parse_hlc
from cdc_sink_spark.operators import msort
from cdc_sink_spark.operators.apply import apply_mutations

SETTINGS = dict(max_examples=8, deadline=None)

hlc_st = st.tuples(
    st.integers(min_value=0, max_value=2**62), st.integers(min_value=0, max_value=2**30)
)

mut_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # key
        st.integers(min_value=0, max_value=50),  # nanos
        st.integers(min_value=0, max_value=3),  # logical
        st.integers(min_value=0, max_value=10**6),  # tie/id
        st.booleans(),  # delete
    ),
    min_size=1,
    max_size=40,
)


@settings(**SETTINGS)
@given(st.lists(hlc_st, min_size=1, max_size=50))
def test_hlc_roundtrip_and_order(spark, pairs):
    df = spark.createDataFrame(
        [Row(nanos=n, logical=l) for n, l in pairs], "nanos long, logical int"
    ).select(F.struct("nanos", "logical").alias("ts"))
    rt = df.select("ts", parse_hlc(format_hlc("ts")).alias("ts2")).collect()
    for r in rt:
        assert (r.ts.nanos, r.ts.logical) == (r.ts2.nanos, r.ts2.logical)
    # struct max == python tuple max
    got = df.agg(F.max("ts").alias("m")).collect()[0].m
    assert (got.nanos, got.logical) == max(pairs)


def test_hlc_parse_reference_vectors(spark):
    """Exact TestParse vectors from hlc_test.go:146 — including the
    10-digits-or-zero logical rule ('123.123' is an ERROR, '1.0' is
    fine) and the int64/int32 extremes. The last three cases are a
    deliberate, documented divergence: Go's Atoi reads the logical into
    a 64-bit int, but our struct field is int32, so values above
    INT32_MAX reject the whole parse rather than silently producing a
    struct with a NULL logical."""
    cases = [
        ("", None),
        (".", None),
        ("1233", None),
        (".1233", None),
        ("123.123", None),  # nonzero logical must be 10 digits
        ("1.0", (1, 0)),    # zero logical may be short
        ("0.0000000000", (0, 0)),
        ("1586019746136571000.0000000000", (1586019746136571000, 0)),
        ("1586019746136571000.0000000001", (1586019746136571000, 1)),
        ("9223372036854775807.2147483647", ((1 << 63) - 1, (1 << 31) - 1)),
        # Out-of-range components reject the WHOLE struct (never a
        # non-NULL struct with a silently-NULLed field): a 10-digit
        # logical above INT32_MAX passes the shape rule but not int32,
        # and 20-digit nanos overflow int64.
        ("1.9999999999", None),
        ("1.2147483648", None),
        ("99999999999999999999.0000000000", None),
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], "s string")
    got = {r.s: (None if r.p is None else (r.p.nanos, r.p.logical))
           for r in df.select("s", parse_hlc("s").alias("p")).collect()}
    for s, want in cases:
        assert got[s] == want, (s, got[s], want)


@settings(**SETTINGS)
@given(mut_st)
def test_unique_by_key_matches_model(spark, muts):
    df = spark.createDataFrame(
        [Row(key=k, ts=Row(nanos=n, logical=l), tie=t) for k, n, l, t, _ in muts],
        "key int, ts struct<nanos:long, logical:int>, tie long",
    )
    got = {
        r.key: (r.ts.nanos, r.ts.logical, r.tie)
        for r in msort.unique_by_key(df, "key", "ts", tie_breaker=["tie"]).collect()
    }
    model: dict[int, tuple] = {}
    for k, n, l, t, _ in muts:
        cand = (n, l, t)
        if k not in model or cand > model[k]:
            model[k] = cand
    assert got == model


@settings(**SETTINGS)
@given(mut_st)
def test_apply_idempotent(spark, muts):
    """apply(apply(T, B), B) == apply(T, B) — re-delivery converges
    (the invariant the reference's at-least-once delivery relies on)."""
    mdf = spark.createDataFrame(
        [
            Row(id=k, val=t, __ts=Row(nanos=n, logical=l), __tie=t, __deleted=d)
            for k, n, l, t, d in muts
        ],
        "id int, val long, __ts struct<nanos:long, logical:int>, __tie long, __deleted boolean",
    )
    target = spark.createDataFrame([Row(id=99, val=0)], "id int, val long")
    once, _ = apply_mutations(target, mdf, ["id"], tie_breaker=["__tie"])
    twice, _ = apply_mutations(once, mdf, ["id"], tie_breaker=["__tie"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


@settings(**SETTINGS)
@given(mut_st)
def test_apply_matches_model(spark, muts):
    """Full apply semantics vs a dict model: LWW winner per key, delete
    removes, upsert overwrites/inserts."""
    mdf = spark.createDataFrame(
        [
            Row(id=k, val=t, __ts=Row(nanos=n, logical=l), __tie=t, __deleted=d)
            for k, n, l, t, d in muts
        ],
        "id int, val long, __ts struct<nanos:long, logical:int>, __tie long, __deleted boolean",
    )
    target_rows = {99: 0, 0: 7}
    target = spark.createDataFrame(
        [Row(id=k, val=v) for k, v in target_rows.items()], "id int, val long"
    )
    snap, _ = apply_mutations(target, mdf, ["id"], tie_breaker=["__tie"])

    winners: dict[int, tuple] = {}
    for k, n, l, t, d in muts:
        cand = (n, l, t, d)
        if k not in winners or cand[:3] > winners[k][:3]:
            winners[k] = cand
    model = dict(target_rows)
    for k, (_, _, t, d) in winners.items():
        if d:
            model.pop(k, None)
        else:
            model[k] = t
    got = {r.id: r.val for r in snap.collect()}
    assert got == model


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            *[st.one_of(st.none(), st.sampled_from(["x", "y", "z"])) for _ in range(3)]
        ),
        min_size=1,
        max_size=25,
    )
)
def test_merge_standard_matches_model(spark, triples):
    """merge.Standard decision table vs the reference's rules
    (standard.go): unchanged/idempotent keep target, safe takes
    proposed, else unmerged."""
    from cdc_sink_spark.operators.merge import merge_standard

    rows = [
        Row(id=i, a=t, before_a=b, proposed_a=p) for i, (t, b, p) in enumerate(triples)
    ]
    df = spark.createDataFrame(rows, "id int, a string, before_a string, proposed_a string")
    resolved, dlq = merge_standard(df, ["id"], ["a"])
    got = {r.id: r.a for r in resolved.collect()}
    conflicts = {r.id for r in dlq.collect()}

    for i, (t, b, p) in enumerate(triples):
        if b == p or t == p:  # unchanged or idempotent
            assert got.get(i) == t and i not in conflicts, (i, t, b, p)
        elif b == t:  # safe
            assert got.get(i) == p and i not in conflicts, (i, t, b, p)
        else:  # conflict
            assert i in conflicts and i not in got, (i, t, b, p)


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=200),  # doc_id
            st.integers(min_value=0, max_value=500),  # n_tok
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    )
)
def test_pack_sequences_invariants(spark, docs):
    """Packing conserves tokens and docs, and chunk ids are the running
    prefix-sum buckets — the REAL pack_chunk_assignments implementation
    checked against a direct Python model (a previous inline replica of
    the windowing validated a copy of the code, not the code)."""
    from cdc_sink_spark.queries.textops import (
        PACK_BUDGET,
        PACK_SHARDS,
        pack_chunk_assignments,
    )

    d = spark.createDataFrame(
        [Row(doc_id=i, n_tok=n) for i, n in docs], "doc_id long, n_tok long"
    ).withColumn("shard", F.col("doc_id") % PACK_SHARDS)
    rows = pack_chunk_assignments(d).collect()
    # Python model: same greedy prefix-sum per shard
    model = {}
    for i, n in sorted(docs):
        sh = i % PACK_SHARDS
        cum = model.get(sh, 0)
        expect = cum // PACK_BUDGET
        model[sh] = cum + n
        row = next(r for r in rows if r.doc_id == i)
        assert row.chunk_id == expect, (i, n, row.chunk_id, expect)
    assert sum(r.n_tok for r in rows) == sum(n for _, n in docs)


@settings(**SETTINGS)
@given(st.data())
def test_seq_serial_collapse_equals_windowed(spark, data):
    """seq_serial's collapsed apply must produce the same snapshot as
    the window-by-window fold when there are no CAS/deadline side effects
    (pure LWW apply commutes across window boundaries)."""
    from cdc_sink_spark.operators import sequencer
    from cdc_sink_spark.operators.apply import ApplyConfig

    muts_raw = data.draw(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=4),   # key
                st.integers(min_value=1, max_value=30),  # nanos
                st.booleans(),                           # delete
            ),
            min_size=1,
            max_size=25,
        )
    )
    frontiers = sorted(data.draw(st.sets(st.integers(min_value=1, max_value=30),
                                         min_size=1, max_size=5)))
    muts = spark.createDataFrame(
        [
            Row(id=k, val=f"v{i}", __ts=Row(nanos=n, logical=i), __deleted=dl)
            for i, (k, n, dl) in enumerate(muts_raw)
        ],
        "id bigint, val string, __ts struct<nanos:long, logical:int>, __deleted boolean",
    )
    resolved = [(n, 2**30) for n in frontiers]
    target = spark.createDataFrame([], "id bigint, val string")
    s1, p1 = sequencer._serial_grouped_fold(
        target, muts, resolved, ["id"], ApplyConfig(), ts_col="__ts"
    )
    s2, p2 = sequencer.seq_serial(target, muts, resolved, ["id"], ts_col="__ts")
    assert sorted((r.id, r.val) for r in s1.collect()) == sorted(
        (r.id, r.val) for r in s2.collect()
    )
    assert p1.count() == p2.count()


doc_st = st.lists(
    st.lists(st.sampled_from("alpha beta gamma delta eps zeta".split()),
             min_size=3, max_size=8),
    min_size=1, max_size=10,
)


@settings(max_examples=5, deadline=None)
@given(doc_st, doc_st)
def test_band_index_probe_equals_full_recompute(spark, corpus_words, batch_words):
    """The persisted band index is a pure materialization: probing a
    batch against it must produce EXACTLY the candidate pairs the
    inline (recompute-everything) band join produces on the same
    corpus+batch — persistence can't change semantics."""
    import tempfile

    from cdc_sink_spark.operators import lshindex

    corpus = spark.createDataFrame(
        [(i, " ".join(w)) for i, w in enumerate(corpus_words)], "doc_id bigint, text string"
    )
    batch = spark.createDataFrame(
        [(1000 + i, " ".join(w)) for i, w in enumerate(batch_words)],
        "doc_id bigint, text string",
    )
    with tempfile.TemporaryDirectory() as td:
        idx = lshindex.BandIndex(spark, td + "/idx", "t_bandidx_prop")
        idx.build(corpus)
        got = {(r.new_id, r.old_id, r.est) for r in idx.probe(batch).collect()}
        spark.sql("DROP TABLE IF EXISTS t_bandidx_prop")
    # Inline model: same signatures/bands, one in-memory join.
    from cdc_sink_spark.functions import text as T

    cb = lshindex.band_rows(lshindex.signatures(corpus))
    bb = lshindex.band_rows(lshindex.signatures(batch))
    est = (
        F.size(
            F.filter(F.zip_with(F.col("sig"), F.col("c_sig"), lambda p, q: p == q),
                     lambda x: x)
        ) / F.lit(T.N_HASHES)
    )
    joined = bb.join(
        cb.select(*lshindex.KEYS, F.col("doc_id").alias("c_id"), F.col("sig").alias("c_sig")),
        lshindex.KEYS,
    ).select(
        F.col("doc_id").alias("new_id"), F.col("c_id").alias("old_id"), est.alias("est")
    ).dropDuplicates(["new_id", "old_id"])
    want = {(r.new_id, r.old_id, r.est) for r in joined.collect()}
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=12),   # key
                st.integers(min_value=0, max_value=60),   # nanos
                st.integers(min_value=0, max_value=10**4),  # val/tie
                st.booleans(),                            # delete
            ),
            min_size=0, max_size=12,
        ),
        min_size=1, max_size=3,
    )
)
def test_bucketed_applier_equals_legacy(spark, tmp_path_factory, batches):
    """Swapping in only the touched buckets is an IO optimization only:
    any sequence of micro-batches must leave the bucketed target equal
    to the legacy whole-rewrite target."""
    from cdc_sink_spark.streaming import pipeline

    td = tmp_path_factory.mktemp("bucketed-prop")
    seed = spark.createDataFrame(
        [Row(id=i, val=-1) for i in range(0, 13, 3)], "id bigint, val long"
    )
    bucketed, legacy = str(td / "b"), str(td / "l")
    pipeline.init_bucketed_target(seed, bucketed, ["id"], 4)
    seed.write.parquet(legacy)
    a_b = pipeline.StreamingApplier(bucketed, ["id"], tie_breaker=["val"], n_buckets=4)
    a_l = pipeline.StreamingApplier(legacy, ["id"], tie_breaker=["val"])
    for i, rows in enumerate(batches):
        mb = spark.createDataFrame(
            [Row(id=k, val=v, __ts=Row(nanos=n, logical=0), __deleted=d)
             for k, n, v, d in rows],
            "id bigint, val long, __ts struct<nanos:long, logical:int>, __deleted boolean",
        )
        a_b(mb, i)
        a_l(mb, i)
    got = sorted(
        (r.id, r.val) for r in spark.read.parquet(bucketed).drop("__kb").collect()
    )
    want = sorted((r.id, r.val) for r in spark.read.parquet(legacy).collect())
    assert got == want
